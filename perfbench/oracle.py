"""Correctness gate for the query mixes: each query's collected Spark
result against its DuckDB oracle, compared with the repo's own
normalize/compare rules (`tools/check_oracle.py`, imported by path).

Oracle results depend only on the generated tables, so they are computed
once per table directory and kept beside it as a pickle.
"""

from __future__ import annotations

import importlib.util
import os
import pickle

TABLES = (
    "region nation customer supplier part orders lineitem events embeddings"
).split()


def load_check_oracle(root: str):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_results(data_dir: str, sqls: dict[str, str]) -> dict:
    """name -> pandas DataFrame of the DuckDB oracle, cached per data dir."""
    cache = os.path.join(data_dir, "_oracle.pkl")
    have: dict = {}
    if os.path.exists(cache):
        with open(cache, "rb") as f:
            have = pickle.load(f)
    missing = [n for n in sqls if n not in have]
    if missing:
        import duckdb

        con = duckdb.connect(
            config={
                "threads": "2",
                "memory_limit": "1GB",
                "temp_directory": os.path.join(data_dir, "_duckdb_tmp"),
            }
        )
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for n in missing:
            have[n] = con.execute(sqls[n]).df()
        con.close()
        tmp = cache + f".{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(have, f)
        os.replace(tmp, cache)
    return {n: have[n] for n in sqls}
