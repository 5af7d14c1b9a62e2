"""Source readers (SURVEY.md §2.1 S1–S6).

The reference ingests CSV, record-array JSON, Parquet, Postgres tables and
Google-Sheet rows with pandas inference (reference: plugins/s3_copy.py:110-114,
plugins/customerload.py:92-96, plugins/postgres_extract.py:138-144,
plugins/google_sheets.py:76-77). Here each source is a Spark DataFrameReader
so scans are distributed, columnar where possible, and Catalyst can push
projections/filters into the scan.

Scale notes:
- Parquet is the primary format: multi-file folder scans parallelize one task
  per split, schema comes from footers (no data pass), and predicate/column
  pushdown reach the row groups.
- A bare ``spark.read.parquet`` still launches one footer-merge Spark job
  per call, even for a single file. ``load_table`` memoizes the inferred
  schema per absolute path, checked against ``caching.path_fingerprint``
  (a metadata-only stat of the file set) and the values of every SQL conf
  the inference reads (``_SCHEMA_CONFS``). Only the first call per file set
  and conf state pays that job; repeat calls read with the memoized schema
  and launch none. A changed file or conf re-infers and replaces the entry.
  Paths the local filesystem cannot stat (object-store URIs) are read bare.
- CSV/JSON schema inference costs an extra pass; production callers pass an
  explicit ``schema`` (the reference's first-file-wins DDL inference is
  subsumed by Spark's footer/sampled inference).
- The empty-string⇒NULL rule of the reference's load format
  (aws_infrastructure/snowflake.tf:86 `null_if = ["NULL", ""]`) maps to the
  ``nullValue``/``nanValue`` reader options here.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from core_telecoms_etl_spark.caching import path_fingerprint

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Columnar scan with pushdown; a folder of daily files is one logical
    table (the reference's append-merge folder model,
    plugins/snowflake_load.py:81-103)."""
    paths = [path] if isinstance(path, str) else list(path)
    return spark.read.parquet(*paths)


def read_parquet_evolving(
    spark: SparkSession,
    path: str | list[str],
    *,
    target_schema: T.StructType | str | None = None,
) -> DataFrame:
    """Schema-drift-tolerant folder scan: a year of daily appends rarely
    keeps one schema (columns get added, retired, reordered by upstream
    producers — the reference's daily CSVs drift the same way and its
    pandas path silently unions on position). `mergeSchema=true` takes
    the union of all file schemas, with files missing a column reading
    typed NULLs for it.

    With `target_schema` the result additionally CONFORMS: extra columns
    drop, missing columns appear as typed NULLs, and matching names cast
    to the target type — so downstream plans never break on a drifted
    folder. Footer-merging costs one extra metadata pass at planning
    time, not a data pass; pushdown and pruning are unaffected."""
    from pyspark.sql import functions as F

    paths = [path] if isinstance(path, str) else list(path)
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    if target_schema is None:
        return df
    if isinstance(target_schema, str):
        target_schema = T.StructType.fromDDL(target_schema)
    cols = []
    for field in target_schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | str | None = None,
    *,
    header: bool = True,
    null_value: str = "",
    options: Mapping[str, Any] | None = None,
) -> DataFrame:
    """Header CSV scan. ``null_value=""`` mirrors the reference's
    empty-string⇒NULL load semantics."""
    reader = spark.read.option("header", header).option("nullValue", null_value)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    if options:
        for k, v in options.items():
            reader = reader.option(k, v)
    paths = [path] if isinstance(path, str) else list(path)
    return reader.csv(paths)


def read_json(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | str | None = None,
    *,
    multiline: bool = False,
    options: Mapping[str, Any] | None = None,
) -> DataFrame:
    """JSON-lines (or record-array with multiline=True) scan for the
    social-media complaint shape (plugins/s3_copy.py:113-114)."""
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        for k, v in options.items():
            reader = reader.option(k, v)
    paths = [path] if isinstance(path, str) else list(path)
    return reader.json(paths)


def read_orc(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """ORC columnar scan — the other columnar warehouse interchange
    format (Hive/Trino ecosystems). Spark ships the reader natively;
    predicate pushdown and column pruning work as for parquet, so a
    user migrating an ORC lake keeps the same query surface."""
    paths = [path] if isinstance(path, str) else list(path)
    return spark.read.orc(*paths)


def read_xml(
    spark: SparkSession,
    path: str | list[str],
    *,
    row_tag: str = "row",
    schema=None,
) -> DataFrame:
    """XML scan (Spark 4 ships the former spark-xml package natively):
    one row per `row_tag` element, schema inferred unless given — the
    B2B/telco interchange format (TMF payloads, settlement files)
    that CSV/JSON sources don't cover. Schema inference costs an
    extra pass, so production readers should pass `schema`. Avro is
    jar-gated (`spark-avro` is an external module) — see `read_avro`
    for the guarded wrapper with an actionable error."""
    paths = [path] if isinstance(path, str) else list(path)
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(paths)


def read_text(
    spark: SparkSession,
    path: str | list[str],
    *,
    whole_text: bool = False,
    line_col: str = "value",
) -> DataFrame:
    """Raw text scan: one row per line (or per FILE with
    `whole_text=True` — the shape for ingesting a directory of raw
    documents into the `documents`-style table). Lines arrive in the
    single string column `line_col`; downstream structure is the
    engine's text operators, not the reader."""
    paths = [path] if isinstance(path, str) else list(path)
    df = spark.read.text(paths, wholetext=whole_text)
    if line_col != "value":
        df = df.withColumnRenamed("value", line_col)
    return df


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    options: Mapping[str, Any] | None = None,
) -> DataFrame:
    """JDBC scan (reference: per-table SELECT * over psycopg2,
    plugins/postgres_extract.py:138-144). Parallelized via partition-column
    range splits instead of a single cursor. Exercised live in
    tests/test_sources.py against embedded Derby (the JDBC engine that
    ships on Spark's own classpath): write → partitioned read-back →
    catalog listing."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("numPartitions", num_partitions)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    if options:
        for k, v in options.items():
            reader = reader.option(k, v)
    return reader.load()


def list_jdbc_tables_query(schema: str, *, dialect: str = "postgres") -> str:
    """Catalog-discovery query (reference: information_schema listing,
    plugins/postgres_extract.py:102-113). Returned as SQL for a JDBC
    subquery scan. `dialect`: "postgres"/"duckdb" use information_schema;
    "derby" uses SYS.SYSTABLES (Derby has no information_schema)."""
    if dialect == "derby":
        return (
            "(SELECT t.tablename AS table_name FROM sys.systables t "
            "JOIN sys.sysschemas s ON t.schemaid = s.schemaid "
            f"WHERE s.schemaname = '{schema}' AND t.tabletype = 'T' "
            "ORDER BY t.tablename) AS t"
        )
    return (
        "(SELECT table_name FROM information_schema.tables "
        f"WHERE table_schema = '{schema}' AND table_type = 'BASE TABLE' "
        "ORDER BY table_name) AS t"
    )


def jdbc_columns_query(schema: str, table: str) -> str:
    """Column-metadata discovery for one table (ANSI
    information_schema.columns — valid on Postgres, the reference's
    source system, plugins/postgres_extract.py:93-144, which leaves the
    type mapping implicit in pandas; the engine makes it explicit so
    DDL-from-JDBC is deterministic). Returned as SQL for a JDBC subquery
    scan or a direct client execute."""
    return (
        "(SELECT column_name, data_type, is_nullable, "
        "numeric_precision, numeric_scale "
        "FROM information_schema.columns "
        f"WHERE table_schema = '{schema}' AND table_name = '{table}' "
        "ORDER BY ordinal_position) AS c"
    )


# Postgres information_schema `data_type` → Spark type. The subset the
# reference's warehouse loader distinguishes (plugins/snowflake_load.py
# type branches) plus the common remainder; unlisted types fall back to
# string, loudly loggable by the caller. NUMERIC maps through
# precision/scale in pg_column_to_spark (bounded at Spark's DECIMAL(38)).
_PG_TO_SPARK: dict[str, T.DataType] = {
    "smallint": T.ShortType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "real": T.FloatType(),
    "double precision": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp without time zone": T.TimestampNTZType(),
    "timestamp with time zone": T.TimestampType(),
    "text": T.StringType(),
    "character varying": T.StringType(),
    "character": T.StringType(),
    "uuid": T.StringType(),
    "json": T.StringType(),
    "jsonb": T.StringType(),
    "bytea": T.BinaryType(),
}


def pg_column_to_spark(
    data_type: str,
    *,
    numeric_precision: int | None = None,
    numeric_scale: int | None = None,
) -> T.DataType:
    """Map one Postgres information_schema.columns row to a Spark type.

    `numeric`/`decimal` honors declared (precision, scale), capped at
    Spark's DECIMAL(38,37); an unconstrained NUMERIC (precision NULL —
    Postgres allows it, Spark has no unbounded decimal) maps to
    DECIMAL(38,18), the same wide default Spark's own JDBC dialects use.
    `ARRAY` data_type rows map to string (the JDBC scan itself would
    need pg-specific array parsing; callers needing structure parse
    downstream) — every mapping is total, so DDL-from-JDBC never
    crashes on an exotic column."""
    dt = data_type.strip().lower()
    if dt in ("numeric", "decimal"):
        if numeric_precision is None:
            return T.DecimalType(38, 18)
        p = min(int(numeric_precision), 38)
        s = min(int(numeric_scale or 0), 37, p)
        return T.DecimalType(p, s)
    return _PG_TO_SPARK.get(dt, T.StringType())


def pg_schema_from_columns(
    rows: Iterable[tuple],
) -> T.StructType:
    """Build the Spark StructType for (column_name, data_type,
    is_nullable, numeric_precision, numeric_scale) rows as returned by
    `jdbc_columns_query` — the explicit DDL-from-JDBC the reference
    leaves to pandas inference. Verified against a live Postgres server
    in tests/test_sources.py."""
    fields = []
    for name, data_type, is_nullable, prec, scale in rows:
        fields.append(
            T.StructField(
                name,
                pg_column_to_spark(
                    data_type,
                    numeric_precision=prec,
                    numeric_scale=scale,
                ),
                nullable=str(is_nullable).strip().upper() != "NO",
            )
        )
    return T.StructType(fields)


def read_rows(
    spark: SparkSession,
    rows: Iterable[Mapping[str, Any]],
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Small-source shim: a list of records → DataFrame. Covers the
    Google-Sheets source (get_all_records() → DataFrame,
    plugins/google_sheets.py:76-77) without the network dependency. Intended
    only for genuinely small driver-side sources (a sheet is ≤ thousands of
    rows); anything large must arrive as files."""
    rows = list(rows)
    if schema is not None:
        return spark.createDataFrame(rows, schema=schema)
    return spark.createDataFrame(rows)


def ensure_session_confs(
    spark: SparkSession, *, nanos_as_long: bool = False
) -> None:
    """Runtime-settable confs the engine's semantics depend on, applied
    defensively for sessions not built by `get_spark` (e.g. the driver
    harness): UTC timestamps (oracle comparability), case-insensitive
    resolution.

    `nanos_as_long=True` additionally enables
    `spark.sql.legacy.parquet.nanosAsLong` — OPT-IN only, because the
    conf silently retypes EVERY TIMESTAMP(NANOS) parquet column in the
    session to raw BIGINT. With it off, Spark fails loudly
    (PARQUET_TYPE_ILLEGAL) on nanos columns — the safe default on a real
    lake. Only callers that know their data's provenance and rewrite the
    longs back (the harness-testdata loaders, via `normalize_timestamps`
    + `NANOS_BIGINT_COLS`) pass True."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if nanos_as_long:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.caseSensitive", "false")
    # Local-mode right-sizing ONLY: on a cluster session that simply kept
    # the stock defaults, forcing 1 MB splits would explode a 100 TB scan
    # into ~10^8 tasks, and pinning shuffle partitions to the driver's
    # core count would defeat AQE's coalescing from a larger initial
    # number — cluster tuning belongs to spark-submit (SCALING.md
    # "Config deltas"), not a defensive helper.
    if not spark.sparkContext.master.startswith("local"):
        return
    # right-size shuffles for sessions that kept the 200 default (local
    # harness sessions)
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    # and scan splits: the 128 MB default serializes scans of megabyte
    # test files onto one core (see session.py) — only adjust when the
    # session still has the stock default, so tuned sessions are untouched
    if spark.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"
    ) in ("134217728", "134217728b"):
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        )


def normalize_timestamps(
    df: DataFrame, *, nanos_bigint_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Normalize timestamp-ish columns to session-timezone TimestampType,
    tolerant of the on-disk encodings seen across driver testdata
    generations:

    - timestamp[us] with isAdjustedToUTC=false, which Spark ≥3.5 reads as
      TIMESTAMP_NTZ when `inferTimestampNTZ` is on → cast to TimestampType
      (session tz is pinned to UTC, so the wall-clock values are
      preserved exactly and match DuckDB's naive reading);
    - columns listed in `nanos_bigint_cols` that arrive as BIGINT — a
      TIMESTAMP(NANOS) parquet column read raw under `nanosAsLong` —
      → truncated to µs TimestampType. This rewrite is OPT-IN per column:
      keying on a column name alone would silently corrupt any table
      whose `ts` is epoch-seconds or a plain integer, so only callers
      that know the column's provenance (the events table/stream) name
      it;
    - plain TIMESTAMP → passthrough.

    Centralizing this keeps every downstream `unix_micros`/`window`/
    interval expression on one type regardless of which writer produced
    the files."""
    from pyspark.sql import functions as F

    out = df
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            out = out.withColumn(name, F.col(name).cast("timestamp"))
        elif name in nanos_bigint_cols and dtype == "bigint":
            out = out.withColumn(
                name, F.timestamp_micros(F.expr(f"{name} div 1000"))
            )
    return out


# testdata columns written as TIMESTAMP(NANOS) parquet (read as raw
# BIGINT under nanosAsLong) — the only sanctioned nanos-bigint rewrites
NANOS_BIGINT_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# Every SQL conf the inferred parquet schema depends on: the flags
# ParquetToSparkSchemaConverter reads, footer selection (mergeSchema,
# summary files, corrupt-file skipping) and partition-column typing.
# Part of the schema memo's key, so a conf flip re-infers.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# abspath -> (path_fingerprint, conf values, inferred schema); one entry
# per path, replaced when either part of the key moves. Process-global:
# the schema depends on the file bytes and the confs, not the session.
# Racing misses each infer and store a complete entry, so no lock.
_SCHEMA_MEMO: dict[str, tuple[str, tuple[str | None, ...], T.StructType]] = {}


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the inferred schema memoized.
    A bare parquet read runs one footer-merge Spark job on every call;
    a read with a declared schema runs none. Only successful inferences
    are stored. A path the local filesystem cannot stat (missing, or a
    URI such as s3a://) has no fingerprint to check, so it is read bare:
    a missing table raises exactly as before."""
    key = os.path.abspath(path)
    if not os.path.exists(key):
        return spark.read.parquet(path)
    stamp = (
        path_fingerprint(key),
        tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS),
    )
    hit = _SCHEMA_MEMO.get(key)
    if hit is None or hit[:2] != stamp:
        schema = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = (*stamp, schema)
    else:
        schema = hit[2]
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table (TESTDATA.md), with timestamp columns
    normalized to TimestampType (see `normalize_timestamps` for the
    on-disk encodings handled). The nanos opt-in is sanctioned here
    because this loader owns the testdata provenance (NANOS_BIGINT_COLS)
    and rewrites the raw longs back to timestamps.

    The parquet schema is resolved once per file set and conf state
    (`_read_parquet_memo`, keyed by absolute path and checked against
    `caching.path_fingerprint` plus `_SCHEMA_CONFS`): the first call
    pays the footer job, repeat calls launch no Spark job at all."""
    ensure_session_confs(spark, nanos_as_long=True)
    return normalize_timestamps(
        _read_parquet_memo(spark, f"{sf_dir}/{name}.parquet"),
        nanos_bigint_cols=NANOS_BIGINT_COLS.get(name, ()),
    )


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    if not names:
        names = TESTDATA_TABLES
    return tuple(load_table(spark, sf_dir, n) for n in names)


def read_json_permissive(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | str,
    *,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON scan that CAPTURES malformed records instead of failing the
    job (PERMISSIVE + corrupt-record column): at 100 TB a single bad line
    must not kill a multi-hour load, and silently dropping it loses the
    audit trail. Callers split on `corrupt_col IS NULL` — clean rows to
    staging, bad lines to a quarantine sink. The schema must declare the
    corrupt column (string) alongside the data fields."""
    if isinstance(schema, str):
        if corrupt_col not in schema:
            schema = f"{schema}, {corrupt_col} string"
    elif corrupt_col not in schema.fieldNames():
        schema = schema.add(corrupt_col, T.StringType())
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(schema)
        .json(path if isinstance(path, list) else [path])
    )


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, quarantine_rows). One lazy plan
    each. The quarantine side keeps ALL columns: Spark disallows plans
    that reference ONLY the internal corrupt-record column of a raw scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the parsed
    fragments are useful for triage anyway."""
    from pyspark.sql import functions as F

    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull())
    return clean, quarantine


def avro_available(spark: SparkSession) -> bool:
    """True when the 'avro' data source resolves on this session.

    Probes Spark's OWN `DataSource.lookupDataSource` (the exact
    resolution `spark.read.format("avro")` runs) rather than
    Class.forName: the pyspark distribution ships some
    `org.apache.spark.sql.avro` classes without registering the
    provider, so a class-presence check false-positives.

    Only the lookup's own Java failure (provider not found) maps to
    False; anything else — a Connect session with no `_jvm`, the
    internal reflection path moving in a future Spark — PROPAGATES
    rather than being misreported as 'jar missing' forever."""
    try:
        jvm = spark._jvm
    except AttributeError as exc:  # Spark Connect: no JVM bridge
        raise RuntimeError(
            "avro_available requires a classic (JVM-bridged) "
            "SparkSession; on Spark Connect probe the server with "
            'spark.read.format("avro") directly.'
        ) from exc
    from py4j.protocol import Py4JJavaError

    from pyspark.errors import AnalysisException

    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except (Py4JJavaError, AnalysisException):
        # pyspark's gateway hook converts the Java FAILED_TO_FIND_
        # DATA_SOURCE failure into AnalysisException; both spellings
        # mean 'provider not found'. Anything else propagates.
        return False


_AVRO_HINT = (
    "spark-avro is not on the classpath. Start the session with "
    "--packages org.apache.spark:spark-avro_2.13:{v} (or add the jar "
    "to spark.jars) and retry. Avro support is an external Spark "
    "module and cannot be bundled by this engine."
)


def require_avro(spark: SparkSession) -> None:
    """Shared guard for read_avro/write_avro: one maintained message."""
    if not avro_available(spark):
        raise RuntimeError(_AVRO_HINT.format(v=spark.version))


def read_avro(
    spark: SparkSession, path: str | list[str], *, schema=None
) -> DataFrame:
    """Avro scan, guarded: spark-avro is an EXTERNAL Spark module
    (`org.apache.spark:spark-avro_2.13:<spark-version>`), so without
    the jar this raises a RuntimeError naming the exact --packages
    coordinate instead of Spark's opaque 'Failed to find data source:
    avro' AnalysisException deep in a job. With the jar present it is
    a plain columnar scan — predicate pushdown and column pruning
    work as for parquet (Avro is row-major, so pruning saves decode,
    not IO; prefer parquet for analytics at rest, Avro for Kafka/
    interchange). The last mainstream lake format gap from SURVEY
    §2.1 S14 (VERDICT r6 item 6)."""
    require_avro(spark)
    paths = [path] if isinstance(path, str) else list(path)
    r = spark.read.format("avro")
    if schema is not None:
        r = r.schema(schema)
    return r.load(paths)
