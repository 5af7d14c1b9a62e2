"""Sinks (SURVEY.md §2.1 S7–S10).

The reference lands everything as snappy Parquet on S3
(plugins/s3_copy.py:117-126, plugins/transform.py:120-135) and then COPYies
into Snowflake with case-insensitive by-name column matching and
DDL-inferred-from-first-file (plugins/snowflake_load.py:138-196). On Spark
the warehouse is the lakehouse itself: a normalized, partitioned Parquet
write IS the load, and the schema travels with the footers.

Scale notes:
- `partition_by` a low-cardinality date column (the reference's
  *GenerationDate columns) so downstream reads get partition pruning.
- Writers coalesce tiny outputs but never force a single file at scale;
  target file size is governed by upstream partitioning + AQE.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from core_telecoms_etl_spark.operators.cleaning import normalize_column_names


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "append",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Append-merge parquet sink (reference: every daily file appended to
    the folder-table, README.md:23). Column names are normalized to
    lower_snake_case before the write so later multi-file scans resolve
    by-name across daily schema/case drift — the Spark analog of
    MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE (plugins/snowflake_load.py:191)."""
    writer = normalize_column_names(df).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
