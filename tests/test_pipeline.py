"""End-to-end pipeline test on synthesized dirty telecom sources
(FIXTURES.md §A: dirty headers, duplicate rows, stray whitespace,
empty-string NULLs) — the reference's full DAG flow, run twice to prove
idempotency."""

from __future__ import annotations

import json

from core_telecoms_etl_spark.pipeline import (
    PipelineConfig,
    RowCounts,
    SourceConfig,
    run_pipeline,
)

CALL_LOGS_RENAMES = {
    "call_id": "call_id",
    "customer_id": "customer_id",
    "complaint_catego_ry": "complaint_category",
    "agent_id": "agent_id",
    "resolutionstatus": "resolution_status",
}

CSV_DAY1 = (
    "call ID,customeR iD,COMPLAINT_catego ry,agent ID,resolutionstatus\n"
    "1,10,billing ,3,open\n"
    "1,10,billing ,3,open\n"  # exact duplicate row
    "2,11, network,4,closed\n"
    ",,,,\n"  # all-empty row → all-NULL → dropped
)
CSV_DAY2 = (
    "call ID,customeR iD,COMPLAINT_catego ry,agent ID,resolutionstatus\n"
    "3,12,billing,3,open\n"
)

SOCIAL_DAY1 = [
    {"complaint_id": 100, "customeR iD": 10, "media_channel": " twitter "},
    {"complaint_id": 101, "customeR iD": 11, "media_channel": "facebook"},
]


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text)


def _config(tmp_path) -> PipelineConfig:
    return PipelineConfig(
        sources=[
            SourceConfig(
                name="call_logs",
                fmt="csv",
                raw_dir=str(tmp_path / "raw" / "call_logs"),
                rename_map=CALL_LOGS_RENAMES,
            ),
            SourceConfig(
                name="social",
                fmt="json",
                raw_dir=str(tmp_path / "raw" / "social"),
                rename_map={"customer_id": "customer_id"},
            ),
        ],
        staging_dir=str(tmp_path / "staging"),
        manifest_path=str(tmp_path / "manifest"),
    )


def test_pipeline_end_to_end(spark, tmp_path):
    _write(tmp_path / "raw" / "call_logs" / "day1.csv", CSV_DAY1)
    _write(
        tmp_path / "raw" / "social" / "day1.json",
        "\n".join(json.dumps(r) for r in SOCIAL_DAY1),
    )
    cfg = _config(tmp_path)

    r1 = run_pipeline(spark, cfg)
    assert [len(r.new_files) for r in r1.loads.values()] == [1, 1]

    calls = spark.read.parquet(str(tmp_path / "staging" / "call_logs"))
    # dirty headers normalized+renamed, dup row dropped, all-null dropped
    assert set(calls.columns) == {
        "call_id",
        "customer_id",
        "complaint_category",
        "agent_id",
        "resolution_status",
    }
    rows = {r.call_id: r for r in calls.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].complaint_category == "billing"  # trimmed
    assert rows[2].complaint_category == "network"  # leading space trimmed

    social = spark.read.parquet(str(tmp_path / "staging" / "social"))
    assert {r.media_channel for r in social.collect()} == {
        "twitter",
        "facebook",
    }

    # re-run: nothing new → no writes, counts unchanged (idempotency)
    r2 = run_pipeline(spark, cfg)
    assert r2.total_new_files == 0
    assert (
        spark.read.parquet(str(tmp_path / "staging" / "call_logs")).count()
        == 2
    )

    # a late-arriving day-2 file: only IT is processed, rows append
    _write(tmp_path / "raw" / "call_logs" / "day2.csv", CSV_DAY2)
    r3 = run_pipeline(spark, cfg)
    assert r3.loads["call_logs"].new_files == ["day2.csv"]
    assert r3.loads["social"].new_files == []
    assert (
        spark.read.parquet(str(tmp_path / "staging" / "call_logs")).count()
        == 3
    )


def test_pipeline_ledger_starts_no_spark_jobs(
    spark, tmp_path, jobs_started, monkeypatch
):
    """The manifest check and append run on the driver: on a first run
    the `new_files` and `record` calls start no Spark job, and a re-run
    with no new files starts none at all."""
    from core_telecoms_etl_spark.sources.incremental import IncrementalLoader

    _write(tmp_path / "raw" / "call_logs" / "day1.csv", CSV_DAY1)
    _write(
        tmp_path / "raw" / "social" / "day1.json",
        "\n".join(json.dumps(r) for r in SOCIAL_DAY1),
    )
    cfg = _config(tmp_path)

    ledger_jobs: list[int] = []
    for name in ("new_files", "record"):

        def counted(self, *args, _orig=getattr(IncrementalLoader, name)):
            out = []
            ledger_jobs.append(
                jobs_started(lambda: out.append(_orig(self, *args)))
            )
            return out[0]

        monkeypatch.setattr(IncrementalLoader, name, counted)
    assert run_pipeline(spark, cfg).total_new_files == 2
    assert ledger_jobs == [0, 0, 0, 0]  # new_files + record per source

    monkeypatch.undo()
    reports = []
    assert jobs_started(lambda: reports.append(run_pipeline(spark, cfg))) == 0
    assert reports[0].total_new_files == 0


def test_pipeline_inline_audits(spark, tmp_path):
    import os

    from core_telecoms_etl_spark.pipeline import (
        PipelineConfig,
        SourceConfig,
        run_pipeline,
    )

    raw = tmp_path / "raw"
    os.makedirs(raw)
    (raw / "a.csv").write_text("id,v\n1,x\n1,y\n,z\n")
    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                name="t",
                fmt="csv",
                raw_dir=str(raw),
                dedup=False,
                audit_not_null=["id"],
                audit_unique=["id"],
            )
        ],
        staging_dir=str(tmp_path / "staging"),
        manifest_path=str(tmp_path / "manifest"),
    )
    rep = run_pipeline(spark, cfg)
    assert rep.total_new_files == 1
    # the batch has a NULL id and a duplicate id -> both audits report
    by_check = {
        (r.check, r.column): r.violations for r in rep.audits["t"]
    }
    assert by_check[("not_null", "id")] == 1
    assert by_check[("unique", "id")] == 1
    assert not rep.audits_passed


def _audited(tmp_path, **kw) -> PipelineConfig:
    return PipelineConfig(
        sources=[
            SourceConfig(
                name="t",
                fmt="csv",
                raw_dir=str(tmp_path / "raw"),
                **kw,
            )
        ],
        staging_dir=str(tmp_path / "staging"),
        manifest_path=str(tmp_path / "manifest"),
    )


def test_pipeline_audits_only_the_new_batch(spark, tmp_path):
    """Audits run on the files the append added: a day-2 key that
    repeats a day-1 key is no violation, a duplicate inside day 2 is
    one, and the staged rows are the cleaned rows of both days."""
    cfg = _audited(tmp_path, audit_not_null=["id"], audit_unique=["id"])
    _write(tmp_path / "raw" / "day1.csv", "id,v\n1,a\n2,b\n2,b\n")
    r1 = run_pipeline(spark, cfg)
    assert r1.audits_passed
    assert r1.rows["t"].read - r1.rows["t"].written == 1  # the duplicate row

    # key 2 repeats day 1; key 3 repeats inside day 2; one NULL key
    _write(tmp_path / "raw" / "day2.csv", "id,v\n2,c\n3,d\n3,e\n,f\n")
    r2 = run_pipeline(spark, cfg)
    assert r2.loads["t"].new_files == ["day2.csv"]
    assert [(r.check, r.column, r.violations) for r in r2.audits["t"]] == [
        ("not_null", "id", 1),
        ("unique", "id", 1),
    ]
    assert (r2.rows["t"].read, r2.rows["t"].written) == (4, 4)

    staged = spark.read.parquet(str(tmp_path / "staging" / "t"))
    got = [tuple(r) for r in staged.collect()]
    assert len(got) == 6
    assert set(got) == {
        (1, "a"),
        (2, "b"),
        (2, "c"),
        (3, "d"),
        (3, "e"),
        (None, "f"),
    }


def test_pipeline_bad_audit_column_fails_before_the_write(spark, tmp_path):
    """An audit column the cleaned batch lacks raises before anything
    is written or recorded, so a retry cannot append the batch twice."""
    import pytest
    from pyspark.errors import AnalysisException

    cfg = _audited(tmp_path, audit_unique=["no_such_column"])
    _write(tmp_path / "raw" / "day1.csv", "id,v\n1,a\n")
    with pytest.raises(AnalysisException):
        run_pipeline(spark, cfg)
    assert not (tmp_path / "staging").exists()
    assert not (tmp_path / "manifest").exists()


def test_pipeline_empty_batch_passes_its_audits(spark, tmp_path):
    """A batch that cleaning empties is written and audited as zero
    rows: every check passes, and the counts show the dropped row."""
    cfg = _audited(tmp_path, audit_not_null=["id"], audit_unique=["id"])
    _write(tmp_path / "raw" / "day1.csv", "id,v\n,\n")
    rep = run_pipeline(spark, cfg)
    assert rep.total_new_files == 1
    assert [r.violations for r in rep.audits["t"]] == [0, 0]
    assert (rep.rows["t"].read, rep.rows["t"].written) == (1, 0)


def test_audit_of_an_append_that_added_no_file(spark, monkeypatch):
    """When an append adds no file the audit checks an empty batch: all
    zeros, and no parquet read without paths."""
    from core_telecoms_etl_spark import pipeline

    def no_read(*args, **kwargs):
        raise AssertionError("read the staging folder without paths")

    src = SourceConfig(
        name="t",
        fmt="csv",
        raw_dir="unused",
        audit_not_null=["id"],
        audit_unique=["id", "v"],
    )
    cleaned = spark.createDataFrame([(1, "a")], "id int, v string")
    monkeypatch.setattr(type(spark.read), "parquet", no_read)
    res = pipeline._audit(spark, src, cleaned, "unused", [])
    assert [(r.check, r.column, r.violations) for r in res] == [
        ("not_null", "id", 0),
        ("unique", "id", 0),
        ("unique", "v", 0),
    ]


# Spark jobs of an audited single-source first run on CSV_DAY1, measured
# on Spark 4.1 with AQE: 2 for the CSV header and schema inference, 2 for
# the write (the dedup shuffle's map stage, then the write stage) and 3
# for the audit aggregate over the staged files (one per query stage).
AUDITED_FIRST_RUN_JOBS = 7


def test_pipeline_row_counts_start_no_jobs(
    spark, tmp_path, jobs_started, monkeypatch
):
    """Rows read and written are observed during the write: an audited
    first run starts as many jobs as the same run without the
    observations, and the counts are exact."""
    from core_telecoms_etl_spark import pipeline

    class Unobserved:
        def __init__(self, df, **kwargs):
            self.df, self.n_rows = df, 0

    def first_run(root):
        raw = root / "raw" / "call_logs"
        _write(raw / "day1.csv", CSV_DAY1)
        cfg = PipelineConfig(
            sources=[
                SourceConfig(
                    name="call_logs",
                    fmt="csv",
                    raw_dir=str(raw),
                    rename_map=CALL_LOGS_RENAMES,
                    audit_not_null=["call_id"],
                    audit_unique=["call_id"],
                )
            ],
            staging_dir=str(root / "staging"),
            manifest_path=str(root / "manifest"),
        )
        out = []
        return jobs_started(lambda: out.append(run_pipeline(spark, cfg))), out[0]

    observed, rep = first_run(tmp_path / "observed")
    counts = rep.rows["call_logs"]
    assert (counts.read, counts.written) == (4, 2)
    assert rep.audits_passed

    monkeypatch.setattr(pipeline, "observe_counts", Unobserved)
    unobserved, _ = first_run(tmp_path / "unobserved")
    assert observed == unobserved == AUDITED_FIRST_RUN_JOBS


def test_duplicate_source_names_are_rejected(tmp_path):
    """Two sources under one name would land in one staging folder, audit
    each other's files and share one ledger folder_name."""
    import pytest

    src = SourceConfig(name="t", fmt="csv", raw_dir=str(tmp_path / "a"))
    other = SourceConfig(name="t", fmt="json", raw_dir=str(tmp_path / "b"))
    with pytest.raises(ValueError, match="duplicate source names: \\['t'\\]"):
        PipelineConfig(
            sources=[src, other],
            staging_dir=str(tmp_path / "staging"),
            manifest_path=str(tmp_path / "manifest"),
        )


def test_unknown_source_format_is_rejected_at_construction(tmp_path):
    """Before the config is used: not as a KeyError when its folder is
    first listed."""
    import pytest

    for fmt in ("csv", "json", "parquet"):
        SourceConfig(name="t", fmt=fmt, raw_dir=str(tmp_path))
    with pytest.raises(
        ValueError,
        match="unknown source format 'xml': expected one of csv, json, parquet",
    ):
        SourceConfig(name="t", fmt="xml", raw_dir=str(tmp_path))


# an exact duplicate, a NULL key and an all-NULL row
WEB_DAY1 = {
    "request_id": [7, 8, 8, None, None],
    "page": [" home", "faq", "faq", "about", None],
}


def _three_sources(root, names=("call_logs", "social", "web"), **audit_cols):
    """A csv + json + parquet config over one landed day under `root`,
    audited on each source's key; `names` picks which sources it holds.
    `audit_cols` overrides a source's audited column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    raw = root / "raw"
    _write(raw / "call_logs" / "day1.csv", CSV_DAY1)
    _write(
        raw / "social" / "day1.json",
        "\n".join(json.dumps(r) for r in SOCIAL_DAY1),
    )
    (raw / "web").mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(WEB_DAY1), str(raw / "web" / "day1.parquet"))
    spec = {
        "call_logs": ("csv", CALL_LOGS_RENAMES, "call_id"),
        "social": ("json", {}, "complaint_id"),
        "web": ("parquet", {}, "request_id"),
    }
    sources = []
    for name in names:
        fmt, renames, key = spec[name]
        key = audit_cols.get(name, key)
        sources.append(
            SourceConfig(
                name=name,
                fmt=fmt,
                raw_dir=str(raw / name),
                rename_map=renames,
                audit_not_null=[key],
                audit_unique=[key],
            )
        )
    return PipelineConfig(
        sources=sources,
        staging_dir=str(root / "staging"),
        manifest_path=str(root / "manifest"),
    )


def _summary(rep, name):
    return (
        rep.loads[name].new_files,
        rep.rows[name],
        [(r.check, r.column, r.violations) for r in rep.audits[name]],
    )


def test_sources_land_concurrently_as_if_alone(spark, tmp_path, jobs_started):
    """A csv + json + parquet day lands in one run: each source's counts
    and audits equal landing it alone, the report keeps config order,
    and the run starts as many jobs as the three single-source runs.
    The job count also shows that every source thread runs its jobs in
    the caller's job group."""
    names = ("call_logs", "social", "web")
    alone, alone_jobs = {}, 0
    for name in names:
        cfg = _three_sources(tmp_path / name, names=(name,))
        out = []
        alone_jobs += jobs_started(lambda: out.append(run_pipeline(spark, cfg)))
        alone[name] = _summary(out[0], name)

    cfg = _three_sources(tmp_path / "all")
    out = []
    together_jobs = jobs_started(lambda: out.append(run_pipeline(spark, cfg)))
    rep = out[0]

    assert list(rep.loads) == list(rep.audits) == list(rep.rows) == list(names)
    assert {n: _summary(rep, n) for n in names} == alone
    assert alone["call_logs"][1] == RowCounts(4, 2)
    assert alone["social"][1] == RowCounts(2, 2)
    assert alone["web"][1] == RowCounts(5, 3)
    assert alone["web"][2] == [
        ("not_null", "request_id", 1),
        ("unique", "request_id", 0),
    ]
    assert together_jobs == alone_jobs > 0


def test_a_failed_source_lets_the_others_land(spark, tmp_path):
    """The middle of three sources fails inside `process` (an audit
    column its batch lacks). The other two land and are recorded, the
    failed one writes and records nothing, and the exception re-raises
    only once every source has finished. Fixed, a re-run loads only the
    failed source."""
    import pytest
    from pyspark.errors import AnalysisException

    from core_telecoms_etl_spark.sources.incremental import (
        IncrementalLoader,
        visible_files,
    )

    broken = _three_sources(tmp_path, social="no_such_column")
    with pytest.raises(AnalysisException, match="no_such_column"):
        run_pipeline(spark, broken)
    staging = tmp_path / "staging"
    landed = {n: visible_files(str(staging / n)) for n in ("call_logs", "web")}
    loader = IncrementalLoader(broken.manifest_path)
    # recorded before the raise: the ledger append is each source's last step
    assert loader.new_files("call_logs", ["day1.csv"]) == []
    assert loader.new_files("web", ["day1.parquet"]) == []
    assert loader.new_files("social", ["day1.json"]) == ["day1.json"]
    assert not (staging / "social").exists()
    assert all(landed.values())

    fixed = _three_sources(tmp_path)
    rep = run_pipeline(spark, fixed)
    assert {n: r.new_files for n, r in rep.loads.items()} == {
        "call_logs": [],
        "social": ["day1.json"],
        "web": [],
    }
    assert list(rep.rows) == ["social"] and rep.audits_passed
    for name, files in landed.items():
        assert visible_files(str(staging / name)) == files


def test_more_sources_than_cores_each_land_once(spark, tmp_path):
    """More source threads than Spark has cores, switching often, all
    appending to one ledger: every source lands its rows once and the
    ledger holds one row per file."""
    import sys

    import pyarrow.dataset as ds

    n = spark.sparkContext.defaultParallelism + 2
    names = [f"s{i:02d}" for i in range(n)]
    for i, name in enumerate(names):
        _write(tmp_path / "raw" / name / "day1.csv", f"id,v\n{i},a\n{i},b\n")
    cfg = PipelineConfig(
        sources=[
            SourceConfig(name=name, fmt="csv", raw_dir=str(tmp_path / "raw" / name))
            for name in names
        ],
        staging_dir=str(tmp_path / "staging"),
        manifest_path=str(tmp_path / "manifest"),
    )
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        rep = run_pipeline(spark, cfg)
    finally:
        sys.setswitchinterval(interval)

    assert list(rep.rows) == names
    assert all(rep.rows[name] == RowCounts(2, 2) for name in names)
    ledger = ds.dataset(cfg.manifest_path, format="parquet").to_table()
    assert sorted(ledger.column("folder_name").to_pylist()) == names
    for name in names:
        staged = ds.dataset(str(tmp_path / "staging" / name), format="parquet")
        assert staged.count_rows() == 2


def test_pipeline_runs_without_pinned_threads(spark, tmp_path, monkeypatch):
    """With PYSPARK_PIN_THREAD=false, `inheritable_thread_target(session)`
    returns the session itself, not a wrapper; the sources still land."""
    from core_telecoms_etl_spark import pipeline

    monkeypatch.setattr(pipeline, "inheritable_thread_target", lambda s: s)
    rep = run_pipeline(spark, _three_sources(tmp_path, names=("call_logs",)))
    assert rep.rows["call_logs"] == RowCounts(4, 2)
