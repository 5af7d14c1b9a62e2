"""Temporal join operators (capability extensions; SURVEY.md §2.3 notes the
reference has no as-of/range joins — these are the Spark-first designs a
100 TB event pipeline needs).

Scale design:
- `asof_join`: the classic union-tag trick — both sides are unioned, tagged,
  shuffled ONCE on the partition key, and a per-partition ordered scan
  carries the latest right-side row forward (`last(..., ignorenulls)` over
  an unbounded-preceding frame). No inequality join, no range explosion,
  no broadcast requirement: linear in rows, one shuffle, skew handled by
  AQE. This is how as-of joins are done on shuffle engines.
- `range_join_binned`: an inequality join `r.ts ∈ (l.ts, l.ts + Δ]`
  executed as an equi-join on coarse time bins: the left side explodes to
  the (at most 2) bins its window overlaps, the right side keeps its single
  bin, the join runs on (key, bin) — hash join, not a broadcast-nested-loop
  — and the exact predicate refines inside the join. Candidate fan-out is
  bounded by bin width ≈ Δ.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "asof_join",
    "range_join_binned",
    "time_grid_ffill",
    "time_grid_lerp",
    "rolling_zscore_anomaly",
]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach one right row for the same ``on`` key
    (left-join semantics: unmatched left rows keep NULLs), pandas
    ``merge_asof`` parity at shuffle-engine scale:

    - ``backward`` (default): latest right with ``right.ts <= left.ts``
    - ``forward``: earliest right with ``right.ts >= left.ts``
    - ``nearest``: whichever of the two is closer (ties → backward,
      matching pandas)

    Single shuffle on ``on`` for every direction; per-partition ordered
    scans (nearest adds a second sort over the SAME partitioning — no
    extra Exchange). Ties at equal timestamps resolve right-before-left
    so a right row at exactly ``left.ts`` IS matched (ASOF inclusive
    semantics, matching DuckDB)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    right_cols = right_cols or [c for c in right.columns if c != on]
    lt = left.withColumn("__side", F.lit(1)).withColumn("__ts", F.col(left_ts))
    rt = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    # align schemas for the union: left lacks __r_*, right lacks left cols
    r_types = dict(rt.dtypes)
    for c in right_cols:
        lt = lt.withColumn(f"__r_{c}", F.lit(None).cast(r_types[f"__r_{c}"]))
    both = lt.unionByName(rt, allowMissingColumns=True).withColumn(
        # matched-ts carrier (numeric so deltas work for any ts type)
        "__rts",
        F.when(F.col("__side") == 0, F.col("__ts").cast("double")),
    )
    # right rows sort before left rows at the same __ts (side 0 < 1)
    w_back = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").desc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    windows = {"backward": [("b", w_back)], "forward": [("f", w_fwd)]}.get(
        direction, [("b", w_back), ("f", w_fwd)]
    )
    carried = both.select(
        "*",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__m{tag}_{c}")
            for tag, w in windows
            for c in right_cols
        ],
        *[
            F.last("__rts", ignorenulls=True).over(w).alias(f"__mts_{tag}")
            for tag, w in windows
        ],
    )
    out = carried.filter(F.col("__side") == 1)
    if direction == "nearest":
        ts_d = F.col("__ts").cast("double")
        d_b = ts_d - F.col("__mts_b")
        d_f = F.col("__mts_f") - ts_d
        use_b = F.col("__mts_f").isNull() | (
            F.col("__mts_b").isNotNull() & (d_b <= d_f)
        )
        picked = [
            F.when(use_b, F.col(f"__mb_{c}")).otherwise(F.col(f"__mf_{c}"))
            for c in right_cols
        ]
    else:
        tag = "b" if direction == "backward" else "f"
        picked = [F.col(f"__m{tag}_{c}") for c in right_cols]
    keep = list(left.columns)
    for c, col in zip(right_cols, picked):
        name = c if c not in left.columns else f"{c}{suffix}"
        out = out.withColumn(name, col)
        keep.append(name)
    return out.select(*keep)


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    window_seconds: int,
) -> DataFrame:
    """Join right rows with ``l.ts < r.ts <= l.ts + window_seconds`` for the
    same key. Executed as an equi-join on (key, time-bin): bin width equals
    the window span, so each left window overlaps at most 2 bins — the left
    side fans out ×2 (explode), the right side keeps its single bin, and the
    exact range predicate refines inside the hash join.

    Output columns: every left column prefixed ``l_``, every right column
    prefixed ``r_``. Inner-join semantics: a left row with no match in
    its window drops out (a caller that needs it back joins its
    aggregates onto the left side)."""
    span_us = window_seconds * 1_000_000

    def bin_of(ts: Column) -> Column:
        return (F.unix_micros(ts) / span_us).cast("long")

    l_pref = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__lts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns],
    ).withColumn(
        "__bin",
        F.explode(
            F.array(bin_of(F.col("__lts")), bin_of(F.col("__lts")) + 1)
        ),
    )
    r_pref = right.select(
        F.col(on).alias("__rk"),
        F.col(right_ts).alias("__rts"),
        F.col(right_ts).alias("__rbin_src"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns],
    ).withColumn("__bin", bin_of(F.col("__rbin_src")))
    cond = (
        (l_pref["__k"] == r_pref["__rk"])
        & (l_pref["__bin"] == r_pref["__bin"])
        & (r_pref["__rts"] > l_pref["__lts"])
        & (
            F.unix_micros(r_pref["__rts"])
            <= F.unix_micros(l_pref["__lts"]) + span_us
        )
    )
    return l_pref.join(r_pref, cond, "inner").drop(
        "__k", "__rk", "__bin", "__lts", "__rts", "__rbin_src"
    )


def time_grid_ffill(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
    bucket_seconds: int = 900,
) -> DataFrame:
    """Resample an irregular event series onto a fixed epoch-aligned
    time grid with forward fill — the gap-fill shape every metrics /
    sensor pipeline needs (irregular events → regular buckets a
    dashboard or model can consume).

    Per key: a `bucket_seconds` grid spans the key's [first, last]
    bucket; each grid point carries the LAST observed value at or
    before it (deterministic in-bucket tiebreak on (ts, *order_cols)
    descending) and the event count of its own bucket (0 for gaps).

    Scale shape: the grid materializes per key via sequence+explode
    (bounded by span/bucket, never a global calendar join); the
    per-bucket (count, last-value) pair folds into ONE map-side-
    combinable aggregation (`max_by` over the (ts, *order_cols)
    struct — no window rank + re-aggregation, one exchange instead
    of two); the forward fill is `last(..., ignorenulls)` over an
    ordered per-key partition scan. No global windows, no driver
    loops."""
    bucket = F.timestamp_seconds(
        F.floor(F.unix_seconds(F.col(ts_col)) / bucket_seconds)
        * bucket_seconds
    )
    # input contract: the grid family consumes OBSERVATIONS — a
    # NULL-valued event is not one. Without this filter Spark's max_by
    # (which skips NULL values) and the oracle's literal last-row pick
    # diverge, and an all-NULL bucket would anchor the interpolation at
    # a carried value (r8 NULL-injection differential); oracles mirror
    # the WHERE.
    ev = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("__k"),
        bucket.alias("__bucket"),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).alias("__v"),
        *[F.col(c) for c in order_cols],
    )
    span = ev.groupBy("__k").agg(
        F.min("__bucket").alias("__t0"), F.max("__bucket").alias("__t1")
    )
    # spread the grid GENERATION: AQE coalesces the small per-key span
    # aggregate to one partition, and sequence+explode is a narrow op —
    # without a rebalance the entire grid (span/bucket rows PER KEY;
    # 4.2M rows at sf0.1, 42M at sf10) materializes in a single task
    # before the join exchange re-parallelizes it (r13 finding, same
    # class as the bootstrap expansion). The rebalanced relation is one
    # narrow row per key; round-robin spreads the per-key span lengths
    # uniformly in expectation.
    n_par = df.sparkSession.sparkContext.defaultParallelism
    grid = span.repartition(n_par).select(
        "__k",
        F.explode(
            F.sequence(
                "__t0",
                "__t1",
                F.expr(f"INTERVAL {bucket_seconds} SECONDS"),
            )
        ).alias("grid_ts"),
    )
    per_bucket = ev.groupBy(
        F.col("__k").alias("__lk"), F.col("__bucket").alias("__lb")
    ).agg(
        F.count("*").alias("__n"),
        F.max_by(
            "__v",
            F.struct(F.col("__ts"), *[F.col(c) for c in order_cols]),
        ).alias("__v"),
    )
    w_fill = (
        Window.partitionBy("__k")
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(
            per_bucket,
            (F.col("__k") == F.col("__lk"))
            & (F.col("grid_ts") == F.col("__lb")),
            "left",
        )
        .select(
            F.col("__k").alias(key_col),
            "grid_ts",
            F.last("__v", ignorenulls=True)
            .over(w_fill)
            .alias("value_ffill"),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


def time_grid_lerp(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
    bucket_seconds: int = 900,
) -> DataFrame:
    """Grid resample with LINEAR interpolation between observations —
    the companion to `time_grid_ffill` for continuous signals (sensor
    values, prices) where a step function misrepresents the gap:
    v(t) = v0 + (v1 − v0)·(t − t0)/(t1 − t0) between the bracketing
    observed buckets; grid points at an observed bucket take its value
    exactly, and the last observed value extends to the grid end
    (nothing to interpolate toward).

    Same scale shape as ffill: per-key sequence+explode grid, ONE
    shuffle on the key, then ordered window passes over the same
    partitioning (carry-forward for the left bracket, carry-backward
    for the right) — Catalyst plans all windows over one Exchange.
    The carry-backward pass is expressed as a RUNNING frame over the
    key's DESCENDING grid order (`last ignorenulls` over
    unboundedPreceding..currentRow), never as a
    currentRow..unboundedFollowing frame: Spark's
    UnboundedFollowingWindowFunctionFrame re-scans from each row to
    the partition end — O(rows²) per key, measured 51s vs 1.5s at
    sf0.01 on ~4k-row per-key grids — while the reversed running
    frame is O(rows) with only an extra in-partition sort.
    The interpolation arithmetic is plain IEEE on values both engines
    hold bit-identically, so the oracle can replay it exactly."""
    filled = time_grid_ffill(
        df,
        key_col=key_col,
        ts_col=ts_col,
        value_col=value_col,
        order_cols=order_cols,
        bucket_seconds=bucket_seconds,
    )
    # value_ffill carries v0; recover t0/t1/v1 with two more windows
    # over the SAME per-key ordering (no extra shuffle)
    obs_ts = F.when(F.col("n_events") > 0, F.col("grid_ts"))
    obs_v = F.when(F.col("n_events") > 0, F.col("value_ffill"))
    w_fwd = (
        Window.partitionBy(key_col)
        .orderBy("grid_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy(key_col)
        .orderBy(F.desc("grid_ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t0 = F.last(obs_ts, ignorenulls=True).over(w_fwd)
    t1 = F.last(obs_ts, ignorenulls=True).over(w_bwd)
    v1 = F.last(obs_v, ignorenulls=True).over(w_bwd)
    v0 = F.col("value_ffill")
    frac = (
        (F.unix_micros(F.col("grid_ts")) - F.unix_micros(t0)).cast(
            "double"
        )
        / (F.unix_micros(t1) - F.unix_micros(t0)).cast("double")
    )
    lerp = F.when(t1 == t0, v0).otherwise(
        F.when(
            v1.isNull(), v0
        ).otherwise(v0 + (v1 - v0) * frac)
    )
    return filled.select(
        key_col,
        "grid_ts",
        lerp.alias("value_lerp"),
        "n_events",
    )


def rolling_zscore_anomaly(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple[str, ...] = ("event_id",),
    lookback: int = 20,
    min_points: int = 10,
    z_threshold: int = 3,
    grid: int = 100,
) -> DataFrame:
    """Flag events whose value deviates more than `z_threshold` sigmas
    from the trailing per-key baseline — the metrics/fraud anomaly
    shape (a usage spike vs the subscriber's own recent history).

    The trailing window is the `lookback` rows strictly BEFORE the
    current event (ROWS lookback PRECEDING .. 1 PRECEDING, ordered by
    (ts, *order_cols)), so an outlier never suppresses its own score;
    keys with fewer than `min_points` prior observations are never
    flagged (cold start).

    Exactness: the z-test runs entirely in BIGINT on the value's
    decimal grid (v*grid rounded to long). With n, S=Σv, SS=Σv² over
    the frame, z² > t² rewrites as

        (n·v − S)² > t²·(n·SS − S²)

    — no division, no floats, no engine-specific summation error, so a
    DuckDB oracle replays it bit-for-bit. Bounds: grid values ≤ ~5e4
    and lookback ≤ ~100 keep every term far inside int64.

    Scale: ONE shuffle on the key; the frame is a constant-size
    sliding ROWS window (Spark's retractable-sum frame, O(rows) per
    partition — integer adds are exactly invertible, so retraction is
    safe where it would not be for doubles)."""
    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in order_cols]]
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-lookback, -1)
    )
    v = F.round(F.col(value_col) * grid).cast("long")
    base = df.select(
        "*",
        v.alias("__v"),
        F.count(v).over(w).alias("__n"),
        F.sum(v).over(w).alias("__s"),
        F.sum(v * v).over(w).alias("__ss"),
    )
    n, s, ss = F.col("__n"), F.col("__s"), F.col("__ss")
    dev = n * F.col("__v") - s
    var_n2 = n * ss - s * s  # n² · variance (biased), all-integer
    flagged = base.filter(
        (n >= min_points) & (dev * dev > F.lit(z_threshold * z_threshold) * var_n2)
    )
    return flagged.select(
        *df.columns, n.cast("long").alias("n_baseline")
    )
