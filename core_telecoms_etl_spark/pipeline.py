"""End-to-end pipeline driver — the reference's whole Airflow DAG
(airflow/dags/pipeline.py:116-269: extract task groups → transformations →
warehouse load) as one Spark driver function.

What replaces what:
- Airflow task topology            → one driver thread per source in
  (sibling extract task groups,      `run_pipeline`. The sources have no
  pipeline.py:166,228, and a         edges between them, so one source's
  10-thread customer pool)           planning, schema inference, write and
  audit jobs overlap with the others', and Spark's scheduler shares the
  cores between their jobs. A failed source does not stop the others:
  they land and are recorded, and the first failure in config order
  re-raises once every source has finished.
- per-file pandas loops            → one multi-file DataFrame scan per
  source batch.
- 3-layer skip logic               → one file ledger
  (sources/incremental.py): the folder listing is a driver-side list,
  so the check is a driver-side set difference over the parquet ledger
  and the append is one driver-written parquet file, no Spark job (a
  broadcast anti-join would pull the whole ledger through the driver
  anyway, and reading the new files needs their paths there).
- per-source rename maps
  (pipeline.py:49-99)              → `SourceConfig.rename_map` applied in
  the cleaning chain.
- COPY INTO + DDL-from-data        → normalized append parquet write
  (sources/writers.py); the staging folder IS the warehouse table.
- post-load `dbt test`             → `SourceConfig` audits, one fused
  aggregate (operators/dq.py) over the files the append just added.
- per-operation tallies            → rows read / written per source,
  observed during the write (operators/metrics.py), no extra job.

Orchestration concerns (retries, emails, schedules) stay OUT of the
engine, per SURVEY.md §3.1.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from core_telecoms_etl_spark.operators.cleaning import (
    clean,
    normalize_column_names,
)
from core_telecoms_etl_spark.operators.dq import DQResult, run_checks
from core_telecoms_etl_spark.operators.metrics import observe_counts
from core_telecoms_etl_spark.sources.incremental import (
    IncrementalLoader,
    LoadReport,
    visible_files,
)
from core_telecoms_etl_spark.sources.readers import (
    read_csv,
    read_json,
    read_parquet,
)
from core_telecoms_etl_spark.sources.writers import write_parquet

# per source format: the raw files' extension, and the batch reader
# (spark, paths, DDL schema or None); parquet files carry their schema
_FORMATS: dict[str, tuple[str, Callable[..., DataFrame]]] = {
    "csv": (".csv", read_csv),
    "json": (".json", read_json),
    "parquet": (".parquet", lambda spark, paths, _: read_parquet(spark, paths)),
}


@dataclass(frozen=True)
class SourceConfig:
    """One raw source folder (the analog of one extract task group entry)."""

    name: str  # staging folder / logical table name
    fmt: str  # csv | json | parquet
    raw_dir: str
    rename_map: Mapping[str, str] = field(default_factory=dict)
    schema: str | None = None  # DDL string; None → infer
    dedup: bool = True
    # dbt-style schema tests run against each cleaned batch right after
    # its append, on the files that append added (the reference runs
    # `dbt test` post-load too). Column names refer to post-rename
    # names; a name the cleaned batch lacks raises before anything is
    # written. Violations are REPORTED, not fatal — the caller decides
    # (quarantine, abort, or alert).
    audit_not_null: Sequence[str] = ()
    audit_unique: Sequence[str] = ()

    def __post_init__(self) -> None:
        if self.fmt not in _FORMATS:
            raise ValueError(
                f"unknown source format {self.fmt!r}: "
                f"expected one of {', '.join(_FORMATS)}"
            )


@dataclass(frozen=True)
class PipelineConfig:
    sources: Sequence[SourceConfig]
    staging_dir: str
    manifest_path: str

    def __post_init__(self) -> None:
        # the name is the staging folder and the ledger folder_name: two
        # sources landing under one name would each audit the other's
        # files and share one ledger
        names = [s.name for s in self.sources]
        dups = sorted({n for n in names if names.count(n) > 1})
        if dups:
            raise ValueError(f"duplicate source names: {dups}")


@dataclass(frozen=True)
class RowCounts:
    """Rows of one source batch: read from the raw files, and written
    to staging after cleaning (the rest were all-NULL or duplicates)."""

    read: int
    written: int


@dataclass
class PipelineReport:
    loads: dict[str, LoadReport]
    audits: dict[str, list] = field(default_factory=dict)
    rows: dict[str, RowCounts] = field(default_factory=dict)

    @property
    def total_new_files(self) -> int:
        return sum(len(r.new_files) for r in self.loads.values())

    @property
    def audits_passed(self) -> bool:
        return all(
            r.passed for results in self.audits.values() for r in results
        )


def _read(spark: SparkSession, src: SourceConfig, files: list[str]):
    paths = [os.path.join(src.raw_dir, f) for f in files]
    return _FORMATS[src.fmt][1](spark, paths, src.schema)


def _audit(
    spark: SparkSession,
    src: SourceConfig,
    cleaned: DataFrame,
    staged: str,
    added: list[str],
) -> list[DQResult]:
    """Run the source's audits on the files one append added to the
    staging folder `staged`: the batch just written, never earlier days.
    The scan passes the written schema, so no footer is read to infer
    it, and the aggregate prunes it to the audited columns. The staged
    columns are the cleaned ones name-normalized in order, so a
    positional rename gives the audits the cleaned names. An append
    that added no file audits an empty batch, which passes."""
    if added:
        written = normalize_column_names(cleaned).schema
        batch = spark.read.schema(written).parquet(
            *(os.path.join(staged, f) for f in added)
        )
        batch = batch.toDF(*cleaned.columns)
    else:
        batch = spark.createDataFrame([], cleaned.schema)
    return run_checks(
        batch, not_null=src.audit_not_null, unique=src.audit_unique
    )


def _land(
    spark: SparkSession,
    loader: IncrementalLoader,
    src: SourceConfig,
    staging_dir: str,
    in_caller_context: Callable[[Callable], Callable],
) -> tuple[LoadReport, list[DQResult] | None, RowCounts | None]:
    """Land one source: list its folder, then load the files the ledger
    has not seen as one batch. Returns the load report, and the audit
    results and row counts of the batch (None when no new file came,
    and audits None too when the source declares none).

    `in_caller_context` is `_caller_context(spark)` taken in the
    calling thread. Only `process` starts Spark jobs, so only it is
    wrapped: a source with no new file makes no JVM call from its
    thread, where the first call would open a py4j connection."""
    candidates = (
        sorted(os.listdir(src.raw_dir)) if os.path.isdir(src.raw_dir) else []
    )
    audits: list[DQResult] | None = None
    rows: RowCounts | None = None

    def process(new_files: list[str]) -> None:
        nonlocal audits, rows
        read = observe_counts(_read(spark, src, new_files), name="read")
        cleaned = observe_counts(
            clean(
                read.df,
                rename_map=src.rename_map or None,
                dedup=src.dedup,
            ),
            name="cleaned",
        )
        audited = [*src.audit_not_null, *src.audit_unique]
        # analysis only: a missing audit column raises here, before
        # the append, not after it (a retry would append twice)
        cleaned.df.select(*audited).schema
        staged = os.path.join(staging_dir, src.name)
        before = visible_files(staged) if audited else set()
        write_parquet(cleaned.df, staged, mode="append")
        rows = RowCounts(read.n_rows, cleaned.n_rows)
        if audited:
            added = sorted(visible_files(staged) - before)
            audits = _audit(spark, src, cleaned.df, staged, added)

    load = loader.run(
        src.name,
        candidates,
        in_caller_context(process),
        extensions=(_FORMATS[src.fmt][0],),
    )
    return load, audits, rows


def _caller_context(spark: SparkSession) -> Callable[[Callable], Callable]:
    """A wrapper that runs a function, in another thread, under the
    calling thread's local properties (job group, job description,
    scheduler pool) and session tags. Without pinned threads
    (PYSPARK_PIN_THREAD=false) the JVM keeps no per-thread state to
    carry, and `inheritable_thread_target` hands the session back
    instead of a wrapper: the function then runs as it is."""
    wrap = inheritable_thread_target(spark)
    return wrap if callable(wrap) else lambda fn: fn


def run_pipeline(spark: SparkSession, config: PipelineConfig) -> PipelineReport:
    """Incrementally land every source: discover raw files, subtract the
    manifest, read all new files as one batch, clean (normalize + rename +
    trim + empty⇒NULL + drop-all-null + dedup), append to the staging
    folder, then audit the appended files. Idempotent: a second run with
    no new files writes nothing.

    Each batch is computed once, by the write: row counts ride on it as
    observed metrics, and the audits re-read only the audited columns of
    the files it added.

    Each source lands in its own driver thread, so the sources' Spark
    jobs overlap. Every job a source starts carries the caller's job
    group, job description, scheduler pool and session tags. A source
    that fails does not stop the others: they land and are recorded,
    the failed one is not recorded, and once every source has finished
    the first failure in config order re-raises. The report lists the
    sources in config order."""
    loader = IncrementalLoader(config.manifest_path)
    with ThreadPoolExecutor(max_workers=len(config.sources) or 1) as pool:
        futures = [
            pool.submit(
                _land,
                spark,
                loader,
                src,
                config.staging_dir,
                # one context per source, not one shared: each call
                # clones the caller's local properties once, and every
                # function its wrapper runs installs that same clone in
                # its thread, so a shared one would have the sources'
                # concurrent SQL executions write spark.sql.execution.id
                # into one object
                _caller_context(spark),
            )
            for src in config.sources
        ]
    report = PipelineReport(loads={})
    for src, future in zip(config.sources, futures):
        load, audits, rows = future.result()
        report.loads[src.name] = load
        if audits is not None:
            report.audits[src.name] = audits
        if rows is not None:
            report.rows[src.name] = rows
    return report
