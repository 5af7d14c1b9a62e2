"""End-to-end pipeline driver — the reference's whole Airflow DAG
(airflow/dags/pipeline.py:116-269: extract task groups → transformations →
warehouse load) as one Spark driver function.

What replaces what:
- Airflow task topology            → plain call order in `run_pipeline`
  (Spark's scheduler supplies the intra-source parallelism the reference
  got from sibling Airflow tasks and its 10-thread pool).
- per-file pandas loops            → one multi-file DataFrame scan per
  source batch.
- 3-layer skip logic               → one file ledger
  (sources/incremental.py): the folder listing is a driver-side list,
  so the check is a driver-side set difference over the parquet ledger
  and the append is one driver-written parquet file, no Spark job (a
  broadcast anti-join would pull the whole ledger through the driver
  anyway); distributed DataFrame listings keep the left_anti path.
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
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

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
from core_telecoms_etl_spark.sources.readers import read_csv, read_json
from core_telecoms_etl_spark.sources.writers import write_parquet

_EXTENSIONS = {"csv": ".csv", "json": ".json", "parquet": ".parquet"}


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
    # (quarantine via readers.split_corrupt, abort, or alert).
    audit_not_null: Sequence[str] = ()
    audit_unique: Sequence[str] = ()


@dataclass(frozen=True)
class PipelineConfig:
    sources: Sequence[SourceConfig]
    staging_dir: str
    manifest_path: str


@dataclass(frozen=True)
class RowCounts:
    """Rows of one source batch: read from the raw files, and written
    to staging after cleaning (the rest were all-NULL or duplicates)."""

    read: int
    written: int

    @property
    def dropped(self) -> int:
        return self.read - self.written


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
    if src.fmt == "csv":
        return read_csv(spark, paths, schema=src.schema)
    if src.fmt == "json":
        return read_json(spark, paths, schema=src.schema)
    if src.fmt == "parquet":
        return spark.read.parquet(*paths)
    raise ValueError(f"unknown source format {src.fmt!r}")


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


def run_pipeline(spark: SparkSession, config: PipelineConfig) -> PipelineReport:
    """Incrementally land every source: discover raw files, subtract the
    manifest, read all new files as one batch, clean (normalize + rename +
    trim + empty⇒NULL + drop-all-null + dedup), append to the staging
    folder, then audit the appended files. Idempotent: a second run with
    no new files writes nothing.

    Each batch is computed once, by the write: row counts ride on it as
    observed metrics, and the audits re-read only the audited columns of
    the files it added. Sources run one after another."""
    loader = IncrementalLoader(spark, config.manifest_path)
    loads: dict[str, LoadReport] = {}
    audits: dict[str, list] = {}
    rows: dict[str, RowCounts] = {}
    for src in config.sources:
        candidates = (
            sorted(os.listdir(src.raw_dir)) if os.path.isdir(src.raw_dir) else []
        )

        def process(new_files: list[str], src: SourceConfig = src) -> None:
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
            staged = os.path.join(config.staging_dir, src.name)
            before = visible_files(staged) if audited else set()
            write_parquet(cleaned.df, staged, mode="append")
            rows[src.name] = RowCounts(read.n_rows, cleaned.n_rows)
            if audited:
                added = sorted(visible_files(staged) - before)
                audits[src.name] = _audit(spark, src, cleaned.df, staged, added)

        loads[src.name] = loader.run(
            src.name,
            candidates,
            process,
            extensions=(_EXTENSIONS[src.fmt],),
        )
    return PipelineReport(loads=loads, audits=audits, rows=rows)
