"""Declared query inventory (SURVEY.md §2) — the driver-facing registry.

Each query is a `(pyspark_fn, duckdb_oracle_sql)` pair registered via the
`@query` decorator. `queries()` / `oracle_sql()` in
`__spark_entry__.py` re-export this registry for the driver's correctness
harness (row-count + schema + order-insensitive value-hash at sf0.01).

Determinism rules used throughout (so Spark and DuckDB hash-match):
- Row-level arithmetic is left UNROUNDED: both engines run the same IEEE
  ops on the same parquet doubles, producing bit-identical results.
- Aggregated sums on the 2-decimal money grid ARE rounded at that grid:
  the accumulated float error from engine-specific summation order
  (≪ half a grid step, 0.005) is snapped away, and grid values never
  sit on a round-half boundary.
- Sums on the 4-DECIMAL grid (price × discount products) are computed
  EXACTLY — never float-summed-then-rounded: at coarse group grain the
  sums reach ~1e9, where double summation error crosses the 4-decimal
  half-grid (5e-5) and the snap flips — measured at sf0.1 (multi_join).
  Two engine-exact forms are used: Decimal128 accumulation (factors
  cast to their 2-decimal grids), or the faster unscaled-BIGINT grid
  sum (`relational._disc_price_grid`, r6: round(x·100) longs summed,
  one final correctly-rounded divide — bit-identical to the decimal
  path at every tested scale, ~40% cheaper).
- Derived ratios (avg = rounded-sum / count) are computed from the
  snapped sums so both engines divide bit-identical doubles.
- Integer-typed computed columns are cast to BIGINT on both sides.
- Window/top-k orderings always end in a unique tiebreaker key.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable, Container, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver's rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


# Bounded slot-scoped caching for queries that pin a catalog-bounded
# relation (see core_telecoms_etl_spark/caching.py for the rationale);
# re-exported here so query modules and tools share one namespace.
from core_telecoms_etl_spark.caching import (  # noqa: E402,F401
    cache_scoped,
    release_caches,
)


# Order presented to the driver. The driver's correctness harness
# checks a bounded prefix of the registry (the first 50 names), so the
# order is derived from the committed record by `check_order`:
# plan-changed queries first, then never-green ones, then the stalest
# last green first. `_PLAN_CHANGED` is the one input that takes Spark
# to compute: the queries whose normalized physical plan differs from
# plans/fingerprints_base.json (the last driver-verified commit).
# tests/test_entry.py::test_changed_plans_enter_the_window holds it
# equal to the live set, so a missed change and a stale name both fail.
_PLAN_CHANGED: frozenset[str] = frozenset(
    {
        "auto_topk_route",
        "sequence_pack",
        "simhash_signatures",
        "training_pipeline",
    }
)

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


def last_green_rounds() -> dict[str, int]:
    """query -> highest round whose committed driver row
    (`CORRECTNESS_rN.json` beside the package) was green.

    Green = no error, rows and schema match, and the value hash did not
    mismatch (rows-only checks have no hash, mirroring the driver's
    weaker gate there)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                not row.get("err")
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
            ):
                out[name] = max(out.get(name, 0), rnd)
    return out


def check_order(
    names: Iterable[str], last_green: dict[str, int], changed: Container[str]
) -> list[str]:
    """`names` in driver order, keyed by (not in `changed`, last-green
    round with never-green as 0, name): changed queries first, then
    never-green ones, then the stalest last green first."""
    return sorted(
        names, key=lambda n: (n not in changed, last_green.get(n, 0), n)
    )


def _ordered() -> dict[str, QuerySpec]:
    _load_all()
    order = check_order(REGISTRY, last_green_rounds(), _PLAN_CHANGED)
    return {n: REGISTRY[n] for n in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }


# --- poisoned-metric normalization (r15 float-specials corpus) ----------
# Nonfinite metric values (NaN/±Inf — ~0.5% of a realistic 100 TB feed)
# carry no magnitude information: left in, every cent-grid cast dies
# with ANSI CAST_OVERFLOW mid-job, NaN flows differ between pandas
# (NA-skipping) and SQL (propagating), and DuckDB's STDDEV overflows
# outright. The engine-wide contract: nonfinite values scope out
# EXACTLY like NULLs. Queries adopt it by loading events through
# `metric_events` and wrapping their oracle with `with_finite_events`
# — the pair keeps both engines on the identical (finite ∪ NULL)
# relation, and the already-pinned NULL contracts do the rest.

_FIN_EVENTS_CTE = (
    "__fin_events AS (SELECT * REPLACE ("
    "CASE WHEN isfinite(value) THEN value END AS value) FROM events)"
)


def with_finite_events(oracle: str) -> str:
    """Splice the finite-value events CTE into a DuckDB oracle and
    repoint its events references (DuckDB CASE/isfinite mirror of
    `operators/cleaning.finite_or_null`)."""
    body = oracle.replace("FROM events", "FROM __fin_events").replace(
        "JOIN events", "JOIN __fin_events"
    )
    stripped = body.lstrip()
    if stripped.startswith("WITH"):
        return body.replace("WITH", f"WITH {_FIN_EVENTS_CTE},", 1)
    return f"WITH {_FIN_EVENTS_CTE} {body}"


def metric_events(spark: SparkSession, sf_dir: str):
    """The events relation with `value` normalized through
    `finite_or_null` — the Spark half of the poisoned-metric
    contract (module comment above)."""
    from core_telecoms_etl_spark.operators.cleaning import finite_or_null
    from core_telecoms_etl_spark.sources.readers import load_table

    df = load_table(spark, sf_dir, "events")
    return df.withColumn("value", finite_or_null("value"))


_LOADED = False


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    from core_telecoms_etl_spark.queries import (  # noqa: F401
        analytics,
        inferential,
        relational,
        scalar_funcs,
        quality,
        star,
        temporal,
        text,
        vector,
        events,
    )

    _LOADED = True
