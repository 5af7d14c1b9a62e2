"""IncrementalLoader tests (SURVEY.md §5.2): the idempotency assertion the
reference only implements as runtime skip-logging — run the load twice,
the second run must process zero files."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from core_telecoms_etl_spark.sources.incremental import (
    MANIFEST_SCHEMA,
    IncrementalLoader,
)


def _ledger_keys(path) -> list[tuple[str, str]]:
    """The ledger's (folder_name, file_name) rows, read with pyarrow,
    which skips `.`/`_` files as the loader does; no ledger is empty."""
    if not os.path.exists(path):
        return []
    t = pq.read_table(path, columns=["folder_name", "file_name"])
    return sorted(
        zip(t.column("folder_name").to_pylist(), t.column("file_name").to_pylist())
    )


def test_incremental_idempotent(tmp_path):
    loader = IncrementalLoader(str(tmp_path / "manifest"))
    processed: list[list[str]] = []

    files = ["b.parquet", "notes.txt", "a.parquet"]
    r1 = loader.run("call_logs", files, processed.append)
    assert r1.candidates == 2  # .txt filtered by the suffix predicate
    assert r1.new_files == ["b.parquet", "a.parquet"]  # input order
    assert processed == [r1.new_files]
    assert loader.new_files(
        "call_logs", ["d.csv", "a.parquet", "c.csv", "b.parquet"]
    ) == ["d.csv", "c.csv"]

    r2 = loader.run("call_logs", files, processed.append)
    assert r2.new_files == [] and r2.skipped == 2
    assert len(processed) == 1  # process() not called again


def test_incremental_new_files_only(tmp_path):
    loader = IncrementalLoader(str(tmp_path / "manifest"))
    loader.run("f", ["day1.csv"], lambda fs: None)
    r = loader.run("f", ["day1.csv", "day2.csv"], lambda fs: None)
    assert r.new_files == ["day2.csv"] and r.skipped == 1


def test_incremental_folders_independent(tmp_path):
    loader = IncrementalLoader(str(tmp_path / "manifest"))
    loader.run("folder_a", ["x.json"], lambda fs: None)
    r = loader.run("folder_b", ["x.json"], lambda fs: None)
    assert r.new_files == ["x.json"]  # same name, different folder


def test_manifest_schema(spark, tmp_path):
    import time

    loader = IncrementalLoader(str(tmp_path / "manifest"))
    before = time.time_ns() // 1000
    loader.run("f", ["a.parquet"], lambda fs: None)
    after = time.time_ns() // 1000
    m = spark.read.schema(MANIFEST_SCHEMA).parquet(str(tmp_path / "manifest"))
    [row] = m.selectExpr(
        "folder_name", "file_name", "unix_micros(loaded_at) AS us"
    ).collect()
    assert (row.folder_name, row.file_name) == ("f", "a.parquet")
    assert row.us is not None and before <= row.us <= after
    # the driver-written file infers as TimestampType, not NTZ
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert spark.read.parquet(str(tmp_path / "manifest")).schema == (
            spark.createDataFrame([], MANIFEST_SCHEMA).schema
        )
    finally:
        spark.conf.set(key, prev)


def test_ledger_paths_agree_on_mixed_ledger(spark, tmp_path):
    """One ledger holding files a plain Spark write left (with their
    `_SUCCESS`/`.crc` side files, as ledgers from earlier versions
    have), pyarrow `record` files, and a truncated hidden temp file left
    by a crash mid-`record`. `new_files` reads all of them, and the
    temp file's entry counts as not recorded."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    ledger = tmp_path / "manifest"
    loader = IncrementalLoader(str(ledger))
    cand = ["t1.csv", "s2.csv", "p1.csv", "n1.csv", "s1.csv"]
    os.makedirs(ledger)  # an empty ledger directory
    assert loader.new_files("f", cand) == cand

    spark.createDataFrame(
        [("f", "s1.csv"), ("f", "s2.csv")],
        "folder_name string, file_name string",
    ).withColumn("loaded_at", F.current_timestamp()).write.mode(
        "append"
    ).parquet(str(ledger))
    loader.record("f", ["p1.csv"])
    loader.record("g", ["t1.csv"])
    tmp = ledger / ".part-crashed.parquet"
    pq.write_table(
        pa.table({"folder_name": ["f"], "file_name": ["t1.csv"]}), tmp
    )
    tmp.write_bytes(tmp.read_bytes()[:-20])  # footer cut off
    names = os.listdir(ledger)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    assert loader.new_files("f", cand) == ["t1.csv", "n1.csv"]
    assert _ledger_keys(ledger) == [
        ("f", "p1.csv"),
        ("f", "s1.csv"),
        ("f", "s2.csv"),
        ("g", "t1.csv"),
    ]
    m = spark.read.schema(MANIFEST_SCHEMA).parquet(str(ledger))
    assert m.filter("loaded_at IS NULL").count() == 0


def test_unreadable_ledger_raises_instead_of_reloading(tmp_path):
    """Only a ledger path that does not exist reads as an empty ledger.
    An unknown filesystem scheme raises, a ledger file with a bad footer
    raises, and `run` never hands the files to `process`."""
    import pytest

    loader = IncrementalLoader("nosuchfs://bucket/manifest")
    processed: list[list[str]] = []
    with pytest.raises(Exception, match="nosuchfs"):
        loader.new_files("a", ["x.csv"])
    with pytest.raises(Exception, match="nosuchfs"):
        loader.run("a", ["x.csv"], processed.append)

    ledger = tmp_path / "manifest"
    ledger.mkdir()
    (ledger / "part-0.parquet").write_bytes(b"not a parquet file")
    loader = IncrementalLoader(str(ledger))
    with pytest.raises(Exception, match="(?i)parquet"):
        loader.run("a", ["x.csv"], processed.append)
    assert processed == []


def test_run_notification_hooks_and_retry(tmp_path):
    """The pipeline-level orchestration hooks (VERDICT r11 ask #7 — the
    reference's email-on-success/failure + task-retry behavior,
    airflow/dags/pipeline.py:20-43,110,240-264), kept OUT of the query
    surface: a flaky `process` that fails once is retried, the manifest
    is recorded only after the successful attempt, and the success
    notification reports attempts=2."""
    from core_telecoms_etl_spark.sources.incremental import RunNotification

    loader = IncrementalLoader(str(tmp_path / "manifest"))
    events: list[RunNotification] = []
    calls = {"n": 0}

    def flaky(files: list[str]) -> None:
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")

    r = loader.run(
        "f",
        ["a.parquet"],
        flaky,
        retries=1,
        on_success=events.append,
        on_failure=events.append,
    )
    assert calls["n"] == 2  # failed once, retried once
    assert [e.status for e in events] == ["success"]
    n = events[0]
    assert n.attempts == 2 and n.folder == "f" and n.error is None
    assert n.report is r and r.new_files == ["a.parquet"]
    # recorded exactly once despite the retry
    assert len(_ledger_keys(tmp_path / "manifest")) == 1


def test_run_failure_notifies_then_raises_and_keeps_files_new(
    tmp_path
):
    """Exhausted retries: on_failure observes the error (it never
    swallows it), the exception re-raises, the manifest records
    NOTHING — so the same files are offered again on the next run
    (the reference's retry-then-alert semantics, never data loss)."""
    import pytest

    from core_telecoms_etl_spark.sources.incremental import RunNotification

    loader = IncrementalLoader(str(tmp_path / "manifest"))
    events: list[RunNotification] = []

    def boom(files: list[str]) -> None:
        raise ValueError("bad batch")

    with pytest.raises(ValueError, match="bad batch"):
        loader.run(
            "f",
            ["a.parquet"],
            boom,
            retries=2,
            on_success=events.append,
            on_failure=events.append,
        )
    assert [e.status for e in events] == ["failure"]
    assert events[0].attempts == 3  # 1 try + 2 retries
    assert isinstance(events[0].error, ValueError)
    assert events[0].report is None
    assert _ledger_keys(tmp_path / "manifest") == []  # nothing recorded

    # the failed batch is still "new" — a fixed process picks it up
    r = loader.run("f", ["a.parquet"], lambda fs: None)
    assert r.new_files == ["a.parquet"]


def test_run_success_hook_on_empty_batch(tmp_path):
    """No new files → process never runs (attempts=0) but the success
    hook still fires with the zero-work report, so a scheduler can
    distinguish 'ran, nothing to do' from 'never ran'."""
    loader = IncrementalLoader(str(tmp_path / "manifest"))
    loader.run("f", ["a.parquet"], lambda fs: None)

    events = []
    r = loader.run(
        "f", ["a.parquet"], lambda fs: None, on_success=events.append
    )
    assert r.new_files == [] and r.skipped == 1
    assert len(events) == 1
    assert events[0].status == "success" and events[0].attempts == 0
