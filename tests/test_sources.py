"""Source/sink tests (SURVEY.md §2.1): reader null semantics, the
Sheets-shim, writer normalization, and by-name union across the
case/order-drifted daily files the reference tolerates via
MATCH_BY_COLUMN_NAME (plugins/snowflake_load.py:191)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_telecoms_etl_spark.sources import readers, writers


def test_read_csv_empty_string_is_null(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("id,name\n1,alice\n2,\n")
    df = readers.read_csv(spark, str(p), schema="id int, name string")
    rows = {r.id: r.name for r in df.collect()}
    assert rows[1] == "alice" and rows[2] is None


def test_read_rows_sheet_shim(spark):
    df = readers.read_rows(
        spark,
        [{"iD": 1, "NamE": "a"}, {"iD": 2, "NamE": "b"}],
        schema="iD long, NamE string",
    )
    assert df.count() == 2


def test_write_parquet_normalizes_names(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], ["customeR iD", "NamE"])
    out = str(tmp_path / "out")
    writers.write_parquet(df, out, mode="overwrite")
    back = spark.read.parquet(out)
    assert back.columns == ["customer_id", "name"]


def test_union_by_name_handles_schema_drift(spark, tmp_path):
    """Daily files with shuffled column order and a missing column merge
    by-name after normalization — the reference's case-insensitive load."""
    day1 = spark.createDataFrame([(1, "a", "x")], ["ID", "val", "extra"])
    day2 = spark.createDataFrame([("b", 2)], ["VAL", "id"])  # shuffled, short
    from core_telecoms_etl_spark.operators.cleaning import (
        normalize_column_names,
    )

    merged = normalize_column_names(day1).unionByName(
        normalize_column_names(day2), allowMissingColumns=True
    )
    rows = sorted(merged.collect(), key=lambda r: r.id)
    assert rows[0].extra == "x" and rows[1].extra is None
    assert [r.val for r in rows] == ["a", "b"]


def test_multi_file_folder_scan_is_union_all(spark, tmp_path):
    """A folder of daily drops reads as one logical table (the reference's
    append-merge folder model)."""
    base = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "a int").write.parquet(f"{base}/d1")
    spark.createDataFrame([(2,)], "a int").write.parquet(f"{base}/d2")
    df = readers.read_parquet(spark, [f"{base}/d1", f"{base}/d2"])
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_orc_round_trip_preserves_schema_and_rows(spark, sf_dir, tmp_path):
    """ORC is a first-class columnar source: write a slice of lineitem
    as ORC, read it back, and confirm schema + values survive and
    predicates reach the ORC scan."""
    out = str(tmp_path / "li_orc")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(500)
    writers.write_orc(li, out, mode="overwrite")
    back = readers.read_orc(spark, out)
    assert back.schema == li.schema
    assert back.count() == 500
    plan = back.filter(F.col("l_quantity") > 25)._jdf.queryExecution().toString()
    assert "orc" in plan.lower()


def test_read_text_lines_and_whole_files(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("solo\n")
    lines = readers.read_text(spark, str(d), line_col="text")
    assert sorted(r.text for r in lines.collect()) == [
        "line one",
        "line two",
        "solo",
    ]
    whole = readers.read_text(spark, str(d), whole_text=True)
    assert whole.count() == 2
    assert {r.value.strip() for r in whole.collect()} == {
        "line one\nline two",
        "solo",
    }


def test_jdbc_catalog_query_shape():
    q = readers.list_jdbc_tables_query("public")
    assert "information_schema.tables" in q and "ORDER BY table_name" in q


def test_jdbc_catalog_query_postgres_dialect_executes():
    """The postgres-dialect catalog SQL must be valid ANSI
    information_schema SQL (the reference's discovery path,
    plugins/postgres_extract.py:102-113). No live Postgres in the
    sandbox, so execute the exact inner query against DuckDB's
    information_schema — same catalog dialect family — and check it
    lists precisely the base tables of the target schema, excluding
    views and other schemas."""
    import duckdb

    q = readers.list_jdbc_tables_query("main", dialect="postgres")
    assert q.startswith("(") and q.endswith(") AS t")
    inner = q[1 : -len(") AS t")]
    con = duckdb.connect()
    con.execute("CREATE TABLE t_bravo (x int)")
    con.execute("CREATE TABLE t_alpha (x int)")
    con.execute("CREATE VIEW v_skip AS SELECT * FROM t_alpha")
    con.execute("CREATE SCHEMA other")
    con.execute("CREATE TABLE other.t_other (x int)")
    got = [r[0] for r in con.execute(inner).fetchall()]
    assert got == ["t_alpha", "t_bravo"], got


def test_observe_counts_free_with_action(spark, sf_dir):
    from core_telecoms_etl_spark.operators.metrics import observe_counts
    from core_telecoms_etl_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    observed = observe_counts(
        orders, name="t_obs", not_null_col="o_custkey"
    )
    n = observed.df.count()  # the action that also computes the metrics
    assert observed.metrics["n_rows"] == n
    assert observed.metrics["n_null_o_custkey"] == 0


def test_corrupt_json_quarantined_not_fatal(spark, tmp_path):
    from core_telecoms_etl_spark.sources.readers import (
        read_json_permissive,
        split_corrupt,
    )

    p = tmp_path / "dirty.json"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{this is not json at all\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": "NOT_A_NUMBER", "name": "type clash"}\n'
    )
    df = read_json_permissive(spark, str(p), "id long, name string")
    clean, quarantine = split_corrupt(df)
    ids = sorted(r.id for r in clean.collect())
    assert ids == [1, 2]
    bad = [r._corrupt_record for r in quarantine.collect()]
    assert len(bad) == 2  # the non-JSON line AND the type-clash line
    assert any("not json" in b for b in bad)


def test_catalog_registers_all_tables(spark, sf_dir):
    from core_telecoms_etl_spark import catalog

    names = catalog.register_tables(spark, sf_dir)
    assert len(names) == 10
    n = catalog.sql(
        spark, sf_dir, "SELECT count(*) AS n FROM nation"
    ).collect()[0].n
    assert n == 25


def test_paginated_api_datasource_partitioned_read(spark):
    """Custom Python DataSource: one Spark task per API page; rows exact
    and complete across partition boundaries."""
    from core_telecoms_etl_spark.sources import api_source

    api_source.register(spark)
    df = (
        spark.read.format("paginated_api")
        .option("n_rows", 250)
        .option("page_size", 100)
        .load()
    )
    assert df.count() == 250
    # pages 0,1,2 with the last one partial
    pages = {r.page: r.n for r in df.groupBy("page").agg(F.count("*").alias("n")).collect()}
    assert pages == {0: 100, 1: 100, 2: 50}
    row = df.filter("id = 123").collect()[0]
    assert (row.name, row.score, row.page) == ("record_123", 184.5, 1)
    # the scan parallelism IS the page count
    assert df.rdd.getNumPartitions() == 3


def test_schema_drift_across_daily_files(spark, tmp_path):
    """The reference tolerates column-order/case/missing-column drift
    across daily files (MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE,
    snowflake_load.py:191). Spark analog: normalized writes + mergeSchema
    read resolves by name; missing columns surface as NULLs."""
    from core_telecoms_etl_spark.sources.writers import write_parquet

    out = str(tmp_path / "drifting")
    day1 = spark.createDataFrame(
        [(1, "alice", "NY")], "Customer_ID long, Name string, State string"
    )
    # day2: different order, different case, 'state' column missing
    day2 = spark.createDataFrame(
        [("bob", 2)], "NAME string, customer_id long"
    )
    write_parquet(day1, out)  # normalize=True lower_snake_cases names
    write_parquet(day2, out)
    df = spark.read.option("mergeSchema", True).parquet(out)
    assert set(df.columns) == {"customer_id", "name", "state"}
    rows = {r.customer_id: (r.name, r.state) for r in df.collect()}
    assert rows == {1: ("alice", "NY"), 2: ("bob", None)}


def test_jdbc_round_trip_embedded_derby(spark, tmp_path):
    """S4 live: the JDBC source against embedded Derby (the JDBC engine
    that ships on Spark's own classpath — no external server). Write a
    table through Spark's JDBC sink, read it back through `read_jdbc`
    with partition-column range splits (the scan really parallelizes),
    and discover it through `list_jdbc_tables_query`."""
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.sources.readers import (
        list_jdbc_tables_query,
        read_jdbc,
    )

    spark._jvm.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/jdbc_db;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    src = spark.range(100).withColumn("val", F.col("id") * 2)
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "T1")
        .option("driver", drv["driver"])
        .mode("overwrite")
        .save()
    )

    df = read_jdbc(
        spark,
        url,
        "T1",
        partition_column="id",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
        options=drv,
    )
    assert df.count() == 100
    assert df.rdd.getNumPartitions() == 4  # range splits, not one cursor
    assert df.agg(F.sum("val")).collect()[0][0] == 9900

    tables = read_jdbc(
        spark, url, list_jdbc_tables_query("APP", dialect="derby"), options=drv
    )
    assert [r[0] for r in tables.collect()] == ["T1"]


def test_write_jsonl_round_trip(spark, sf_dir, tmp_path):
    """JSONL export: line-per-record, normalized keys, reads back equal."""
    import gzip
    import json
    from pathlib import Path

    from core_telecoms_etl_spark.sources.writers import write_jsonl

    d = spark.read.parquet(f"{sf_dir}/nation.parquet").selectExpr(
        "n_nationkey AS `N NationKey`", "n_name"
    )
    out = str(tmp_path / "export")
    write_jsonl(d, out)
    files = list(Path(out).glob("*.json.gz"))
    assert files, "expected gzip jsonl part files"
    recs = []
    for f in files:
        with gzip.open(f, "rt") as fh:
            recs += [json.loads(line) for line in fh if line.strip()]
    assert len(recs) == d.count()
    assert all("n_nationkey" in r for r in recs)  # normalized key
    back = spark.read.json(out)
    assert back.count() == d.count()


def test_read_parquet_evolving_merges_and_conforms(spark, tmp_path):
    """A staging folder whose daily files drifted (column added, column
    retired) reads as the union schema with typed NULL fill; with a
    target schema the result conforms exactly — drops strays, adds
    missing as NULLs, casts matching names."""
    from core_telecoms_etl_spark.sources.readers import read_parquet_evolving

    d = str(tmp_path / "staging")
    spark.createDataFrame(
        [(1, "a")], "id long, name string"
    ).write.parquet(d + "/day=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(d + "/day=2")
    spark.createDataFrame(
        [(3, 7.0, "x")], "id long, score double, stray string"
    ).write.parquet(d + "/day=3")

    merged = read_parquet_evolving(
        spark, [d + f"/day={i}" for i in (1, 2, 3)]
    )
    assert {"id", "name", "score", "stray"} <= set(merged.columns)
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[1].name == "a"
    assert rows[3].name is None and rows[3].score == 7.0

    conformed = read_parquet_evolving(
        spark,
        [d + f"/day={i}" for i in (1, 2, 3)],
        target_schema="id long, name string, score double, added int",
    )
    assert conformed.columns == ["id", "name", "score", "added"]
    got = {r.id: r for r in conformed.collect()}
    assert got[2].score == 9.5 and got[2].added is None
    assert "stray" not in conformed.columns


def test_jdbc_catalog_query_against_live_postgres():
    """Run the postgres-dialect catalog SQL against a REAL throwaway
    PostgreSQL server (the reference's actual source system, RDS
    Postgres — plugins/postgres_extract.py:93-144), not just the DuckDB
    information_schema stand-in above. The server binaries ship in the
    sandbox; no Postgres JDBC driver jar is on Spark's classpath, so the
    Spark-side `read_jdbc` leg stays Derby-verified (below) and this
    test closes the dialect gap: the exact discovery SQL the engine
    would push through JDBC executes on live Postgres and lists
    precisely the base tables of the target schema — views, foreign
    schemas excluded."""
    import os
    import shutil
    import subprocess
    import tempfile

    initdb = shutil.which("initdb") or "/usr/local/bin/initdb"
    pg_ctl = shutil.which("pg_ctl") or "/usr/local/bin/pg_ctl"
    psql = shutil.which("psql")
    if not (os.path.exists(initdb) and os.path.exists(pg_ctl) and psql):
        import pytest

        pytest.skip("postgres server binaries not available")

    # pytest's tmp_path sits under a root-only 0700 dir the unprivileged
    # postgres user can't traverse; use a world-traversable tempdir
    base = tempfile.mkdtemp(prefix="pgtest_")
    os.chmod(base, 0o755)
    pgdir = os.path.join(base, "pg")
    os.makedirs(pgdir)

    def as_pg(cmd: str) -> subprocess.CompletedProcess:
        # postgres refuses to run as root; drop to nobody (cwd=/ so the
        # unprivileged shell can chdir)
        return subprocess.run(
            ["su", "nobody", "-s", "/bin/bash", "-c", cmd],
            cwd="/",
            capture_output=True,
            text=True,
        )

    if os.geteuid() == 0:
        shutil.chown(pgdir, user="nobody")
        run = as_pg
    else:
        run = lambda cmd: subprocess.run(  # noqa: E731
            ["bash", "-c", cmd], cwd="/", capture_output=True, text=True
        )

    r = run(f"{initdb} -D {pgdir}/data -A trust -U pguser")
    assert r.returncode == 0, r.stderr
    r = run(
        f"{pg_ctl} -D {pgdir}/data -w -l {pgdir}/log start "
        f"-o '-c listen_addresses= -c unix_socket_directories={pgdir}'"
    )
    assert r.returncode == 0, r.stderr + r.stdout
    try:
        setup = (
            "CREATE TABLE t_bravo (x int); "
            "CREATE TABLE t_alpha (x int); "
            "CREATE VIEW v_skip AS SELECT * FROM t_alpha; "
            "CREATE SCHEMA other; "
            "CREATE TABLE other.t_other (x int);"
        )
        r = subprocess.run(
            [psql, "-h", pgdir, "-U", "pguser", "-d", "postgres",
             "-v", "ON_ERROR_STOP=1", "-c", setup],
            cwd="/", capture_output=True, text=True,
        )
        assert r.returncode == 0, r.stderr

        q = readers.list_jdbc_tables_query("public", dialect="postgres")
        inner = q[1 : -len(") AS t")]
        r = subprocess.run(
            [psql, "-h", pgdir, "-U", "pguser", "-d", "postgres",
             "-tA", "-c", inner],
            cwd="/", capture_output=True, text=True,
        )
        assert r.returncode == 0, r.stderr
        got = [ln for ln in r.stdout.splitlines() if ln]
        assert got == ["t_alpha", "t_bravo"], got

        # type-mapping leg: DDL-from-JDBC over live Postgres metadata
        from pyspark.sql import types as T

        r = subprocess.run(
            [psql, "-h", pgdir, "-U", "pguser", "-d", "postgres",
             "-v", "ON_ERROR_STOP=1", "-c",
             "CREATE TABLE t_types (a smallint NOT NULL, b integer, "
             "c bigint, d real, e double precision, f numeric(12,2), "
             "g numeric, h boolean, i date, j timestamp, "
             "k timestamptz, l text, m varchar(10), n uuid, o jsonb, "
             "p bytea, q int[])"],
            cwd="/", capture_output=True, text=True,
        )
        assert r.returncode == 0, r.stderr
        cols_q = readers.jdbc_columns_query("public", "t_types")
        inner_cols = cols_q[1 : -len(") AS c")]
        r = subprocess.run(
            [psql, "-h", pgdir, "-U", "pguser", "-d", "postgres",
             "-tA", "-F", "|", "-c", inner_cols],
            cwd="/", capture_output=True, text=True,
        )
        assert r.returncode == 0, r.stderr
        rows = [
            tuple(f if f != "" else None for f in ln.split("|"))
            for ln in r.stdout.splitlines()
            if ln
        ]
        schema = readers.pg_schema_from_columns(rows)
        expect = {
            "a": T.ShortType(),
            "b": T.IntegerType(),
            "c": T.LongType(),
            "d": T.FloatType(),
            "e": T.DoubleType(),
            "f": T.DecimalType(12, 2),
            "g": T.DecimalType(38, 18),  # unconstrained NUMERIC
            "h": T.BooleanType(),
            "i": T.DateType(),
            "j": T.TimestampNTZType(),
            "k": T.TimestampType(),
            "l": T.StringType(),
            "m": T.StringType(),
            "n": T.StringType(),
            "o": T.StringType(),
            "p": T.BinaryType(),
            "q": T.StringType(),  # ARRAY falls back, total mapping
        }
        assert {f.name: f.dataType for f in schema.fields} == expect
        nullable = {f.name: f.nullable for f in schema.fields}
        assert nullable["a"] is False and nullable["b"] is True
    finally:
        run(f"{pg_ctl} -D {pgdir}/data -m immediate stop")
        shutil.rmtree(base, ignore_errors=True)


def _write_nanos_parquet(path: str) -> None:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "id": [1, 2],
            "ts": pa.array(
                [dt.datetime(2024, 1, 1, 12, 0, 0), dt.datetime(2024, 1, 2)],
                type=pa.timestamp("ns"),
            ),
        }
    )
    pq.write_table(t, path)


def test_nanos_parquet_fails_loudly_without_opt_in(spark, tmp_path):
    """Production-safe default: with `nanosAsLong` off, a genuine
    TIMESTAMP(NANOS) parquet column fails LOUDLY (PARQUET_TYPE_ILLEGAL)
    instead of silently retyping to long — the engine no longer sets the
    conf session-wide (get_spark) or in the defensive conf helper; only
    the harness-testdata loaders opt in, because they own the provenance
    and rewrite the raw longs back via normalize_timestamps."""
    from pyspark.errors import AnalysisException

    p = str(tmp_path / "nanos.parquet")
    _write_nanos_parquet(p)
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        # the defensive helper must NOT flip it back on by default
        readers.ensure_session_confs(spark)
        assert (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
        )
        try:
            spark.read.parquet(p).collect()
            raise AssertionError("expected PARQUET_TYPE_ILLEGAL")
        except AnalysisException as e:
            assert "NANOS" in str(e) or "PARQUET_TYPE_ILLEGAL" in str(e)
        # the sanctioned opt-in reads it as raw longs for the rewrite
        readers.ensure_session_confs(spark, nanos_as_long=True)
        df = spark.read.parquet(p)
        assert dict(df.dtypes)["ts"] == "bigint"
        out = readers.normalize_timestamps(df, nanos_bigint_cols=("ts",))
        assert dict(out.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def test_ensure_session_confs_leaves_cluster_sessions_untuned():
    """The local-mode right-sizing (1 MB scan splits, core-count shuffle
    partitions) must NOT leak onto cluster sessions: at 100 TB, 1 MB
    splits are ~10^8 scheduler tasks. Gate is the master URL — a
    non-local fake session gets semantics confs only."""

    class _Conf:
        def __init__(self):
            self.store: dict[str, str] = {}

        def set(self, k, v):
            self.store[k] = v

        def get(self, k, d=None):
            return self.store.get(k, d)

    class _Ctx:
        master = "spark://cluster-master:7077"

    class _Fake:
        conf = _Conf()
        sparkContext = _Ctx()

    readers.ensure_session_confs(_Fake())
    assert _Fake.conf.store["spark.sql.session.timeZone"] == "UTC"
    assert "spark.sql.files.maxPartitionBytes" not in _Fake.conf.store
    assert "spark.sql.shuffle.partitions" not in _Fake.conf.store
    assert "spark.sql.legacy.parquet.nanosAsLong" not in _Fake.conf.store

    class _LocalCtx:
        master = "local[4]"

    class _FakeLocal:
        conf = _Conf()
        sparkContext = _LocalCtx()

    readers.ensure_session_confs(_FakeLocal())
    assert "spark.sql.files.maxPartitionBytes" in _FakeLocal.conf.store


def test_http_json_api_datasource_real_transport(spark):
    """The HTTP-backed paginated DataSource against a REAL local HTTP
    server: one driver-side metadata request sizes the scan, then each
    page is fetched by its own Spark task over actual sockets — closing
    the 'structurally ready for a real page fetcher' gap (the sheets /
    REST extract path, plugins/google_sheets.py:76-77) without an
    external network dependency."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, urlparse

    N_ROWS, PAGE = 23, 5

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            if "meta" in q:
                body = {"n_rows": N_ROWS}
            else:
                p = int(q["page"][0])
                size = int(q["page_size"][0])
                start = p * size
                rows = [
                    {"id": i, "name": f"r{i}", "score": i * 0.5}
                    for i in range(start, min(start + size, N_ROWS))
                ]
                body = {"rows": rows}
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from core_telecoms_etl_spark.sources.api_source import register_http

        register_http(spark)
        df = (
            spark.read.format("http_json_api")
            .schema("id long, name string, score double")
            .option("url", f"http://127.0.0.1:{port}/values")
            .option("page_size", str(PAGE))
            .load()
        )
        # 23 rows / 5 per page → 5 partitions, one task per page
        assert df.rdd.getNumPartitions() == 5
        rows = sorted(df.collect(), key=lambda r: r.id)
        assert len(rows) == N_ROWS
        assert rows[0].name == "r0" and rows[22].score == 11.0
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_json_api_token_auth_with_expiry(spark):
    """The credentialed-connector path (VERDICT r11 ask #6) against a
    live local server that REQUIRES a bearer token: every data/meta
    request without the CURRENT token is 401-rejected, and the server
    rotates the token every 3 authenticated requests — so a scan of 5
    pages + 1 meta request can only succeed if (a) the driver fetches
    a token and (b) each executor task authenticates itself (the
    reader pickles WITHOUT the live token). Also pins the failure
    mode: a scan with no token_url raises (401), never returns
    partial data."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, urlparse

    N_ROWS, PAGE, ROTATE_EVERY = 23, 5, 3
    state = {"gen": 0, "served": 0, "issued": 0, "rejected": 0}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            path = urlparse(self.path).path
            with lock:
                if path == "/token":
                    state["issued"] += 1
                    body = {"token": f"tok-{state['gen']}"}
                else:
                    want = f"Bearer tok-{state['gen']}"
                    if self.headers.get("Authorization") != want:
                        state["rejected"] += 1
                        self.send_response(401)
                        self.end_headers()
                        return
                    state["served"] += 1
                    if state["served"] % ROTATE_EVERY == 0:
                        state["gen"] += 1  # expire the current token
                    if "meta" in q:
                        body = {"n_rows": N_ROWS}
                    else:
                        p, size = int(q["page"][0]), int(q["page_size"][0])
                        start = p * size
                        body = {
                            "rows": [
                                {"id": i, "name": f"r{i}", "score": i * 0.5}
                                for i in range(
                                    start, min(start + size, N_ROWS)
                                )
                            ]
                        }
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from core_telecoms_etl_spark.sources.api_source import register_http

        register_http(spark)
        def reader(**extra):
            # fresh DataFrameReader per scan — .option() mutates in
            # place, so reusing one reader would leak token_url into
            # the credential-less case
            r = (
                spark.read.format("http_json_api")
                .schema("id long, name string, score double")
                .option("url", f"http://127.0.0.1:{port}/values")
                .option("page_size", str(PAGE))
            )
            for k, v in extra.items():
                r = r.option(k, v)
            return r

        df = reader(token_url=f"http://127.0.0.1:{port}/token").load()
        rows = sorted(df.collect(), key=lambda r: r.id)
        assert len(rows) == N_ROWS
        assert rows[0].name == "r0" and rows[22].score == 11.0
        with lock:
            # the reader pickles WITHOUT a live token, so every task
            # authenticated itself: ≥6 tokens for ≥6 requests (1 meta +
            # 5 pages) — surviving two mid-scan rotations. LOWER bounds,
            # not equality: on a loaded box Spark may retry a task,
            # re-serving a page and re-fetching a token (observed as a
            # 7/7 flake in an otherwise green full-suite run, r13); the
            # invariant under test is per-task authentication, which
            # retries preserve. (The 401-refresh branch is exercised
            # deterministically by test_token_auth_refreshes_on_401
            # below; just-in-time per-task fetches never present a
            # stale token here.)
            assert state["served"] >= 6, state  # 1 meta + 5 pages
            assert state["issued"] >= 6, state

        # credential-less scan against the same server: loud failure
        # (Spark wraps the driver-side HTTPError; match on the code)
        import pytest

        with pytest.raises(Exception, match="401"):
            reader().load().collect()
    finally:
        srv.shutdown()
        srv.server_close()


def test_token_auth_refreshes_on_401():
    """The 401-refresh-retry branch of TokenAuth, deterministically:
    the server issues SINGLE-USE tokens, so the second `get` with the
    cached token is 401-rejected — TokenAuth must refresh exactly once
    and retry, never fail and never loop. A server that 401s even
    fresh tokens surfaces as the original HTTPError (one retry, then
    raise — no infinite refresh)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import urlparse

    state = {"n": 0, "valid": set(), "rejected": 0, "always_401": False}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            with lock:
                if urlparse(self.path).path == "/token":
                    state["n"] += 1
                    tok = f"one-shot-{state['n']}"
                    state["valid"].add(tok)
                    body = {"token": tok}
                else:
                    tok = (self.headers.get("Authorization") or "").removeprefix(
                        "Bearer "
                    )
                    if state["always_401"] or tok not in state["valid"]:
                        state["rejected"] += 1
                        self.send_response(401)
                        self.end_headers()
                        return
                    state["valid"].discard(tok)  # single use
                    body = {"ok": True}
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        import urllib.error

        from core_telecoms_etl_spark.sources.api_source import TokenAuth

        auth = TokenAuth(f"http://127.0.0.1:{port}/token")
        url = f"http://127.0.0.1:{port}/data"
        assert auth.get(url, {}) == {"ok": True}  # fresh token, 200
        assert auth.get(url, {}) == {"ok": True}  # cached→401→refresh
        with lock:
            assert state["rejected"] == 1 and state["n"] == 2, state

        # pickling drops the live token (executors re-authenticate)
        import pickle

        auth2 = pickle.loads(pickle.dumps(auth))
        assert auth2._token is None and auth2.token_url == auth.token_url

        # a server that rejects even fresh tokens: ONE refresh, then
        # the 401 propagates (no retry loop)
        with lock:
            state["always_401"] = True
            before = state["n"]
        try:
            auth.get(url, {})
            raise AssertionError("expected HTTPError 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
        with lock:
            assert state["n"] <= before + 2  # bounded refresh attempts
    finally:
        srv.shutdown()
        srv.server_close()


def test_xml_round_trip_and_schema(spark, tmp_path):
    from core_telecoms_etl_spark.sources.readers import read_xml
    from core_telecoms_etl_spark.sources.writers import write_xml

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b<&>", None)],
        "id long, s string, v double",
    )
    dest = str(tmp_path / "xml")
    write_xml(df, dest, row_tag="rec", root_tag="recs")
    back = read_xml(spark, dest, row_tag="rec")
    rows = {r.id: (r.s, r.v) for r in back.collect()}
    # special chars escape/unescape; NULL field absent -> null
    assert rows == {1: ("a", 1.5), 2: ("b<&>", None)}
    # explicit schema skips inference and types the columns
    back2 = read_xml(
        spark, dest, row_tag="rec", schema="id long, s string, v double"
    )
    assert dict(back2.dtypes)["v"] == "double"
    assert back2.count() == 2


def test_avro_guarded_wrapper_without_jar(spark, tmp_path):
    """Without the external spark-avro jar, read_avro/write_avro must
    fail LOUDLY with the exact --packages coordinate — never Spark's
    opaque 'Failed to find data source' from deep inside a job
    (VERDICT r6 item 6)."""
    from core_telecoms_etl_spark.sources.readers import (
        avro_available,
        read_avro,
    )
    from core_telecoms_etl_spark.sources.writers import write_avro

    if avro_available(spark):
        pytest.skip("spark-avro jar present — covered by the "
                    "round-trip test")
    with pytest.raises(RuntimeError, match="spark-avro_2.13"):
        read_avro(spark, str(tmp_path / "x.avro"))
    with pytest.raises(RuntimeError, match="spark-avro_2.13"):
        write_avro(spark.range(3), str(tmp_path / "x.avro"))


def test_avro_round_trip_with_jar(spark, tmp_path):
    """Round-trip when the jar IS present (skip-marked otherwise, per
    the VERDICT's 'green both with and without the jar')."""
    from core_telecoms_etl_spark.sources.readers import (
        avro_available,
        read_avro,
    )
    from core_telecoms_etl_spark.sources.writers import write_avro

    if not avro_available(spark):
        pytest.skip("spark-avro jar not on classpath")
    df = spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s")
    p = str(tmp_path / "rt.avro")
    write_avro(df, p)
    back = read_avro(spark, p)
    assert sorted(r.id for r in back.collect()) == list(range(10))


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs `fn()` starts, counted through a dedicated
    job group on the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema memo test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_arrow_parquet(path: str, **cols) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def test_load_table_schema_resolved_once(spark, tmp_path):
    """The first load_table of a fresh path pays the footer-merge job;
    a repeat call reads with the memoized schema and starts none."""
    _write_arrow_parquet(str(tmp_path / "t.parquet"), id=[1, 2, 3])
    d = str(tmp_path)
    assert _jobs_started(spark, lambda: readers.load_table(spark, d, "t")) == 1
    assert _jobs_started(spark, lambda: readers.load_table(spark, d, "t")) == 0
    df = readers.load_table(spark, d, "t")
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]


def test_load_table_schema_memo_sees_rewritten_file(spark, tmp_path):
    """A file rewritten at the same path with an added column shows that
    column on the next call (the memo is checked against the path
    fingerprint, not keyed on the path alone)."""
    p = str(tmp_path / "t.parquet")
    _write_arrow_parquet(p, id=[1, 2])
    assert readers.load_table(spark, str(tmp_path), "t").columns == ["id"]
    _write_arrow_parquet(p, id=[1, 2], extra=["a", "b"])
    df = readers.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "extra"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]


def test_load_table_schema_memo_follows_confs(spark, tmp_path):
    """Flipping a conf the inference reads gives the schema a fresh
    bare read gives: timestamp[us] with isAdjustedToUTC=false reads as
    TIMESTAMP_NTZ only under inferTimestampNTZ."""
    import datetime as dt

    p = str(tmp_path / "ntz.parquet")
    _write_arrow_parquet(p, ts=[dt.datetime(2024, 1, 1, 12, 0)])
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        seen = set()
        for flag in ("true", "false", "true"):
            spark.conf.set(key, flag)
            memo = readers._read_parquet_memo(spark, p).schema
            assert memo == spark.read.parquet(p).schema, flag
            seen.add(memo["ts"].dataType.typeName())
        assert seen == {"timestamp_ntz", "timestamp"}
    finally:
        spark.conf.set(key, prev)


def test_load_table_schema_memo_partitioned_dir_and_missing(spark, tmp_path):
    """A partitioned directory keeps its partition column (type and
    position) through the memoized read, and a missing table raises the
    bare read's error without leaving a memo entry."""
    import os

    from pyspark.errors import AnalysisException

    src = spark.createDataFrame([(1, "x", 10), (2, "y", 20)], "id INT, s STRING, k INT")
    p = str(tmp_path / "part.parquet")
    src.write.partitionBy("k").parquet(p)
    for _ in range(2):
        df = readers.load_table(spark, str(tmp_path), "part")
        assert df.schema == spark.read.parquet(p).schema
        assert sorted(df.collect()) == [(1, "x", 10), (2, "y", 20)]

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        readers.load_table(spark, str(tmp_path), "nope")
    assert os.path.abspath(str(tmp_path / "nope.parquet")) not in readers._SCHEMA_MEMO


def test_load_table_schema_memo_matches_inference_on_testdata(spark, sf_dir):
    """For every driver test table the memoized schema equals a fresh
    inference, also when threads race on cold entries (check_oracle
    builds queries from several threads)."""
    import os
    import sys
    from concurrent.futures import ThreadPoolExecutor

    paths = {
        n: os.path.abspath(f"{sf_dir}/{n}.parquet") for n in readers.TESTDATA_TABLES
    }
    for p in paths.values():
        readers._SCHEMA_MEMO.pop(p, None)
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            futs = [
                ex.submit(readers.load_table, spark, sf_dir, n)
                for n in list(readers.TESTDATA_TABLES) * 3
            ]
            for f in futs:
                f.result(timeout=300)
    finally:
        sys.setswitchinterval(prev)
    for name, p in paths.items():
        fresh = spark.read.parquet(p).schema
        assert readers._SCHEMA_MEMO[p][2] == fresh, name
        assert readers._read_parquet_memo(spark, p).schema == fresh, name
