"""Join & shuffle strategy helpers for the 100 TB path (SURVEY.md §4.2):
broadcast hints, skew salting, and bucketed (co-located) joins.

When to use what — MEASURED on the standing skew corpus (one hot key
carrying 20% of fact mass, tools/make_skew_testdata.py, r15; full
matrix in BASELINE.md round-15, "Skewed-key standing corpus"):
- `broadcast` hint (re-exported): any dim ≲ a few hundred MB — kills the
  shuffle entirely, and with it the skew (no shuffle by key ⇒ no hot
  reducer). When the dim fits, THIS is the skew strategy.
- AQE skew-join (`spark.sql.adaptive.skewJoin.enabled`, on in get_spark)
  splits oversized partitions at runtime — including a single hot KEY's
  partition (each split re-joins against the matching build rows). It
  beat the plain shuffle 1.3–1.4× at sf0.1 and sf10 (hot key up to 3M
  rows); at sf1 the harness's fixed 1 MB advisory over-fragmented the
  post-shuffle stage and LOST to plain 1.6× — the thresholds
  (skewedPartitionThresholdInBytes / advisoryPartitionSizeInBytes) are
  part of the strategy and must be sized to the data, not copied.
- `salted_join` / `salted_groupby`: the LAST-resort hammer, not the
  default — measured ≈ plain at sf0.1 and 1.8–2.9× SLOWER at sf1/sf10,
  every scale violating its own precondition (hot-key mass ≫ n_salts ×
  other side; see the cost model below), because the n_salts×
  other-side replication / extra final agg are paid unconditionally.
  Reach for salting only where AQE cannot apply (stream-stream joins
  freeze their plan; non-AQE engines) or when one key genuinely
  exceeds executor memory AND the other side is tiny. For decomposable
  group-bys, note Spark's map-side partial aggregation already spreads
  a hot GROUP across input partitions — the shuffle carries per-
  partition partials, not the hot key's rows — so `salted_groupby`
  pays only for aggregates whose partial state does not collapse.
  Deterministic salts — no rand() — so plans are replayable and tests
  exact; value-identity of every salted path and the AQE split vs the
  plain plan is asserted on a hot key in tier-1
  (tests/test_joins.py) and on the skew corpus by the 210-query
  differential.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast  # noqa: F401  (re-export)

__all__ = [
    "broadcast",
    "salt_column",
    "salted_join",
    "salted_groupby",
]


def salt_column(unique_col: str | Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): hash of a (unique-ish) column.
    Using a real column instead of rand() keeps every run and every task
    retry identical — rand() in a shuffle key breaks task-retry
    idempotency."""
    c = F.col(unique_col) if isinstance(unique_col, str) else unique_col
    return F.pmod(F.xxhash64(c), F.lit(n_salts)).cast("int")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    *,
    salt_from: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where `skewed` has pathological key skew: the skewed side
    gets a deterministic salt from one of ITS unique columns; `other` is
    replicated n_salts× (explode over the salt range). The join key becomes
    (key, salt), spreading each hot key over n_salts reducers.

    Cost model: other side inflates ×n_salts — use only when the hot key's
    row count ≫ other's total size, and keep n_salts minimal."""
    s = skewed.withColumn("__salt", salt_column(salt_from, n_salts))
    o = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return s.join(o, [on, "__salt"], how).drop("__salt")


def salted_groupby(
    df: DataFrame,
    keys: list[str],
    *,
    salt_from: str,
    n_salts: int = 16,
    sums: list[str] | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: partial agg on
    (keys + salt) — spreading a hot key across n_salts reducers — then a
    cheap final agg on keys over n_salts partials. Returns the keys, the
    row count `n` and `sum_<c>` for each `sums` column (the decomposable
    aggregates; avg = sum/count downstream)."""
    sums = sums or []
    salted = df.withColumn("__salt", salt_column(salt_from, n_salts))
    partial = salted.groupBy(*keys, "__salt").agg(
        F.count("*").alias("__cnt"),
        *[F.sum(c).alias(f"__sum_{c}") for c in sums],
    )
    return partial.groupBy(*keys).agg(
        F.sum("__cnt").alias("n"),
        *[F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sums],
    )
