"""Deterministic sampling & dataset-split operators (north-star: a
training-data pipeline needs STABLE train/val/test assignment — the same
row must land in the same split on every run, every engine, every
cluster size; `df.sample()`'s seeded RNG is none of those across
engines/partitionings).

Mechanism: md5 of the id (+ salt), first 15 hex chars parsed as a long
(60 bits — fits a positive BIGINT in every ANSI engine), modulo the
bucket count. Portable: the exact same expression is expressible in
DuckDB/Trino/Snowflake SQL, so oracle checks are exact."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(
    col: Column | str, n_buckets: int = 10_000, salt: str = ""
) -> Column:
    """Stable bucket in [0, n_buckets) from md5 of the (salted) id string.
    Change `salt` to draw an independent assignment."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(
        F.substring(F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 15),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(n_buckets))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    *,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the class-rebalancing
    primitive (downsample the over-represented language/source, keep the
    rare one whole). A row is kept iff its stable hash bucket falls under
    its stratum's fraction; strata not listed get `default_fraction`.
    Same membership on every run/engine/partitioning, and the predicate
    is an ordinary filter — no RNG state, nothing blocks pushdown."""
    n = 1_000_000
    bucket = hash_bucket(id_col, n, salt)
    thr = None
    for label, frac in fractions.items():
        cond = F.col(stratum_col) == label
        lit = F.lit(int(frac * n))
        thr = F.when(cond, lit) if thr is None else thr.when(cond, lit)
    thr = thr.otherwise(F.lit(int(default_fraction * n)))
    return df.filter(bucket < thr)


def sample_exact_k(
    df: DataFrame, id_col: str, k: int, *, salt: str = ""
) -> DataFrame:
    """Exactly-k deterministic sample (the reservoir-sampling use case,
    RNG-free): order by (md5(id+salt), id) and take k. The hash order is
    uniform and independent of the physical row order, so this IS a
    uniform sample — but stable across runs/engines/partitionings.
    Physical plan is TakeOrderedAndProject: a size-k heap per partition
    and a k-row merge on the driver — never a global sort, so it holds at
    any corpus size. Change `salt` for an independent draw."""
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    return df.orderBy(key, F.col(id_col)).limit(k)


def domain_mixture(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    weights: dict[str, float],
    *,
    salt: str = "",
) -> DataFrame:
    """Resample to a target domain mixture WITHOUT upsampling: the
    training-data rebalancing primitive ("40% en, 20% es, ..."). Picks
    the largest output size at which every domain can meet its target
    share from available rows (scale = min over domains of count/weight),
    derives each domain's keep-fraction, and applies the stable md5
    bucket filter per domain. Domains not in `weights` are dropped.

    Plan shape: one tiny per-domain count aggregate (rows = #domains) is
    broadcast back onto the fact side, so the filter is a broadcast-join
    + pushed predicate — no driver round-trip, no second shuffle, and the
    assignment is deterministic across runs/engines/cluster sizes."""
    n = 1_000_000
    counts = df.groupBy(domain_col).agg(F.count("*").alias("_cnt"))
    w = None
    for label, frac in weights.items():
        cond = F.col(domain_col) == label
        lit = F.lit(float(frac))
        w = F.when(cond, lit) if w is None else w.when(cond, lit)
    per = counts.withColumn("_w", w.otherwise(F.lit(0.0))).filter(
        F.col("_w") > 0
    )
    scale = per.agg(
        F.min(F.col("_cnt") / F.col("_w")).alias("_scale")
    )
    thr = (
        per.crossJoin(F.broadcast(scale))
        .withColumn(
            "_thr",
            F.floor(
                F.lit(float(n))
                * F.least(
                    F.lit(1.0),
                    F.col("_w") * F.col("_scale") / F.col("_cnt"),
                )
            ),
        )
        .select(domain_col, "_thr")
    )
    return (
        df.join(F.broadcast(thr), domain_col)
        .filter(hash_bucket(id_col, n, salt) < F.col("_thr"))
        .drop("_thr")
    )


def dataset_split(
    df: DataFrame,
    id_col: str,
    *,
    weights: dict[str, float] | None = None,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a stable split label ('train'/'val'/'test' by
    default, weights 0.8/0.1/0.1). Labels are cumulative bucket ranges, so
    enlarging one split keeps existing members (monotone assignment)."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    n = 1_000_000
    bucket = hash_bucket(id_col, n, salt)
    expr = None
    acc = 0.0
    for label, w in weights.items():
        acc += w
        cond = bucket < int(acc * n)
        expr = (
            F.when(cond, label) if expr is None else expr.when(cond, label)
        )
    return df.withColumn(split_col, expr.otherwise(F.lit(None)))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column | str],
    n: int,
    *,
    rank_col: str,
) -> DataFrame:
    """Keep at most `n` rows per group under a deterministic priority
    order (C4/CommonCrawl-style per-domain document caps: no single
    domain may dominate the corpus), each with its 1-based rank in
    `rank_col`. `order_cols` MUST end in a unique tiebreaker so the
    kept set is stable across engines and runs.

    Scale: one shuffle on `group_col`; Spark plans the rank filter as a
    WindowGroupLimit (per-partition top-n pushed below the final sort),
    so a 100 TB corpus never materializes more than n rows per group per
    task. A pathologically heavy domain (one key ≫ one task) is the
    documented limit — pre-aggregate with a salted two-phase top-n if a
    single domain exceeds executor memory."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*order_cols)
    rk = F.row_number().over(w)
    return df.withColumn(rank_col, rk.cast("long")).filter(
        F.col(rank_col) <= n
    )


def weighted_sample_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "ws",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES): each row draws key = u^(1/w) with u ∈ (0,1]; the k largest
    keys are an exact weight-proportional sample without replacement —
    the data-mixing primitive (sample documents ∝ quality/importance)
    that a uniform `hash_bucket` filter cannot express.

    Deterministic and retry-stable: u derives from md5(salt:id) (never
    `rand()`), so the same corpus + salt always draws the same sample,
    and a different `salt` is an independent redraw. Weights must be
    > 0; w is used as-is (no normalization needed — A-ES is invariant
    to weight scaling).

    Scale shape: one projection computes keys row-wise (all codegen;
    md5+pow), and the top-k plans as TakeOrderedAndProject — per-
    partition heaps, no global sort, no shuffle of non-winners."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.withColumn("__es_key", key)
        .orderBy(F.desc("__es_key"), F.col(id_col))
        .limit(k)
        .drop("__es_key")
    )
