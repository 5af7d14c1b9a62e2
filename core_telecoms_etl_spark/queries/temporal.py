"""Temporal-join + windowing queries on the `events` table: as-of join,
range join, sliding windows, native session windows, range-frame windows.
All capability extensions (the reference is daily batch with no event-time
semantics, SURVEY.md §2.10); oracles are ANSI/DuckDB equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators.temporal import (
    asof_join,
    range_join_binned,
)
from core_telecoms_etl_spark.queries import (  # noqa: E501
    query,
    metric_events,
    with_finite_events,
)
from core_telecoms_etl_spark.sources.readers import load_table


@query(
    "asof_join",
    oracle="""SELECT p.event_id, p.user_id, p.ts,
                     c.event_id AS click_id, c.ts AS click_ts,
                     (epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0
                       AS gap_sec
              FROM (FROM events WHERE event_type = 'purchase') p
              ASOF LEFT JOIN (FROM events WHERE event_type = 'click') c
                ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-style as-of join: each purchase matched to the user's
    latest click at-or-before it. Union-tag + ordered partition scan —
    one shuffle, no inequality join (operators/temporal.py)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id").alias("click_id"),
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        right_cols=["click_id", "ts"],
        suffix="_click",
    ).withColumnRenamed("ts_click", "click_ts")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "click_id",
        "click_ts",
        (
            (F.unix_micros("ts") - F.unix_micros("click_ts")) / 1_000_000.0
        ).alias("gap_sec"),
    )


@query(
    "range_join",
    oracle="""SELECT e.event_id, e.user_id,
                     CAST(count(x.event_id) AS BIGINT) AS n_next_10m,
                     round(coalesce(sum(x.value), 0), 2) AS value_next_10m
              FROM (FROM events WHERE event_type = 'error') e
              LEFT JOIN events x
                ON e.user_id = x.user_id
               AND x.ts > e.ts
               AND epoch_us(x.ts) <= epoch_us(e.ts) + 600 * 1000000
              GROUP BY e.event_id, e.user_id""",
)
def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: activity in the 10 minutes after each error
    event, per user. Executed as a binned equi-join (≤2 bins per window),
    never a nested-loop (operators/temporal.py). Zero-match errors are
    restored by LEFT-joining the aggregated counts back onto the error
    set: the second join touches per-error aggregates, not candidates."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    cand = range_join_binned(
        errors,
        ev.select("event_id", "user_id", "ts", "value"),
        on="user_id",
        window_seconds=600,
    )
    counts = cand.groupBy("l_event_id").agg(
        F.count("r_event_id").alias("n_next_10m"),
        F.round(F.sum("r_value"), 2).alias("value_next_10m"),
    )
    return errors.join(
        counts, errors.event_id == counts.l_event_id, "left"
    ).select(
        "event_id",
        "user_id",
        F.coalesce("n_next_10m", F.lit(0).cast("long")).alias("n_next_10m"),
        F.coalesce("value_next_10m", F.lit(0.0)).alias("value_next_10m"),
    )


@query(
    "events_sliding",
    oracle="""SELECT ws AS window_start, event_type,
                     count(*) AS n_events, round(sum(value), 2) AS value_sum
              FROM events,
                   unnest([time_bucket(INTERVAL '15 minutes', ts),
                           time_bucket(INTERVAL '15 minutes', ts)
                             - INTERVAL '15 minutes']) AS t(ws)
              GROUP BY ws, event_type""",
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 30-minute windows every 15 minutes: each event lands in
    exactly 2 windows (width/slide). Spark expands via its window
    generator; the oracle unnests the same 2 aligned starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


@query(
    "session_window",
    oracle="""WITH flagged AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    >= 1800 * 1000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              sess AS (
                SELECT user_id, ts, value,
                       sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS sid
                FROM flagged)
              SELECT user_id, min(ts) AS session_start,
                     max(ts) AS session_end,
                     count(*) AS n_events, round(sum(value), 2) AS value_sum
              FROM sess GROUP BY user_id, sid""",
)
def session_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-minute gap) — the same
    operator Structured Streaming uses for stateful sessionization. A new
    session starts when the gap reaches the timeout (strict >=), hence the
    oracle's >= where the lag-based `sessionize` query uses >."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "value_sum",
        )
    )


@query(
    "window_range_frame",
    oracle="""SELECT event_id, user_id, ts,
                     round(sum(value) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
                       2) AS value_1h
              FROM events""",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame running aggregate: per-user rolling 1-hour value sum.
    Ordering on integer microseconds so the frame bound is exact; the frame
    contents are identical across engines, and the sum is snapped at the
    2-decimal grid."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("value_1h"),
    )


@query(
    "asof_join_forward",
    oracle="""SELECT p.event_id, p.user_id, p.ts,
                     c.event_id AS next_click_id, c.ts AS next_click_ts
              FROM (FROM events WHERE event_type = 'purchase') p
              ASOF LEFT JOIN (FROM events WHERE event_type = 'click') c
                ON p.user_id = c.user_id AND p.ts <= c.ts""",
)
def asof_join_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase matched to the user's EARLIEST click
    at-or-after it (post-purchase behavior). Same union-tag single-shuffle
    plan as backward — only the ordered scan direction flips
    (operators/temporal.py asof_join(direction="forward"))."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id").alias("next_click_id"),
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        right_cols=["next_click_id", "ts"],
        suffix="_click",
        direction="forward",
    ).withColumnRenamed("ts_click", "next_click_ts")
    return out.select(
        "event_id", "user_id", "ts", "next_click_id", "next_click_ts"
    )


@query(
    "time_grid_fill",
    oracle="""WITH b AS (
                SELECT user_id,
                       time_bucket(INTERVAL '15 minutes', min(ts)) AS t0,
                       time_bucket(INTERVAL '15 minutes', max(ts)) AS t1
                FROM events WHERE value IS NOT NULL
                GROUP BY user_id),
              grid AS (
                SELECT user_id,
                       unnest(generate_series(t0, t1,
                              INTERVAL '15 minutes')) AS grid_ts
                FROM b),
              obs AS (
                SELECT user_id,
                       time_bucket(INTERVAL '15 minutes', ts) AS bucket,
                       value,
                       row_number() OVER (
                         PARTITION BY user_id,
                           time_bucket(INTERVAL '15 minutes', ts)
                         ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE value IS NOT NULL),
              lastv AS (
                SELECT user_id, bucket, value FROM obs WHERE rn = 1),
              cnts AS (
                SELECT user_id,
                       time_bucket(INTERVAL '15 minutes', ts) AS bucket,
                       count(*) AS n
                FROM events WHERE value IS NOT NULL
                GROUP BY 1, 2)
              SELECT g.user_id, g.grid_ts,
                     last_value(l.value IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.grid_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS value_ffill,
                     CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
              FROM grid g
              LEFT JOIN lastv l
                ON g.user_id = l.user_id AND g.grid_ts = l.bucket
              LEFT JOIN cnts c
                ON g.user_id = c.user_id AND g.grid_ts = c.bucket""",
)
def time_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular events resampled onto a 15-minute epoch-aligned grid
    with forward fill (`operators/temporal.time_grid_ffill`) — the
    gap-fill/resample shape for metrics and sensor feeds. Each user's
    grid spans their [first, last] bucket; gaps carry the last observed
    value forward and an event count of 0. Values copy through with no
    arithmetic, so cross-engine equality is exact. Spark's 15-minute
    epoch-floor buckets equal DuckDB's time_bucket (whose sub-month
    origin 2000-01-03 is a multiple of 900s from the epoch — the same
    alignment fact the tumbling-window oracles rely on)."""
    from core_telecoms_etl_spark.operators.temporal import time_grid_ffill

    return time_grid_ffill(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        order_cols=("event_id",),
        bucket_seconds=900,
    )


@query(
    "time_grid_interpolate",
    oracle="""WITH b AS (
                SELECT user_id,
                       time_bucket(INTERVAL '15 minutes', min(ts)) AS t0,
                       time_bucket(INTERVAL '15 minutes', max(ts)) AS t1
                FROM events WHERE value IS NOT NULL
                GROUP BY user_id),
              grid AS (
                SELECT user_id,
                       unnest(generate_series(t0, t1,
                              INTERVAL '15 minutes')) AS grid_ts
                FROM b),
              obs AS (
                SELECT user_id,
                       time_bucket(INTERVAL '15 minutes', ts) AS bucket,
                       value,
                       row_number() OVER (
                         PARTITION BY user_id,
                           time_bucket(INTERVAL '15 minutes', ts)
                         ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE value IS NOT NULL),
              lastv AS (
                SELECT user_id, bucket, value FROM obs WHERE rn = 1),
              cnts AS (
                SELECT user_id,
                       time_bucket(INTERVAL '15 minutes', ts) AS bucket,
                       count(*) AS n
                FROM events WHERE value IS NOT NULL
                GROUP BY 1, 2),
              br AS (
                SELECT g.user_id, g.grid_ts,
                       coalesce(c.n, 0) AS n,
                       last_value(l.value IGNORE NULLS) OVER w_fwd AS v0,
                       last_value(CASE WHEN l.value IS NOT NULL
                                  THEN g.grid_ts END IGNORE NULLS)
                         OVER w_fwd AS tt0,
                       first_value(CASE WHEN l.value IS NOT NULL
                                   THEN g.grid_ts END IGNORE NULLS)
                         OVER w_bwd AS tt1,
                       first_value(l.value IGNORE NULLS) OVER w_bwd AS v1
                FROM grid g
                LEFT JOIN lastv l
                  ON g.user_id = l.user_id AND g.grid_ts = l.bucket
                LEFT JOIN cnts c
                  ON g.user_id = c.user_id AND g.grid_ts = c.bucket
                WINDOW
                  w_fwd AS (PARTITION BY g.user_id ORDER BY g.grid_ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW),
                  w_bwd AS (PARTITION BY g.user_id ORDER BY g.grid_ts
                            ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING))
              SELECT user_id, grid_ts,
                     CASE WHEN tt1 = tt0 THEN v0
                          WHEN v1 IS NULL THEN v0
                          ELSE v0 + (v1 - v0) *
                            (CAST(epoch_us(grid_ts) - epoch_us(tt0)
                                  AS DOUBLE)
                             / CAST(epoch_us(tt1) - epoch_us(tt0)
                                    AS DOUBLE))
                     END AS value_lerp,
                     CAST(n AS BIGINT) AS n_events
              FROM br""",
)
def time_grid_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid resample with LINEAR interpolation
    (`operators/temporal.time_grid_lerp`): gap buckets take the
    straight line between their bracketing observations; observed
    buckets keep their exact value; the tail extends the last value.
    Same one-shuffle-per-key plan as the forward-fill variant, two
    window passes over the same partitioning. Interpolation arithmetic
    mirrors token-for-token (µs integer deltas → one double divide →
    one fused multiply-add shape), so equality is exact."""
    from core_telecoms_etl_spark.operators.temporal import time_grid_lerp

    return time_grid_lerp(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        order_cols=("event_id",),
        bucket_seconds=900,
    )


@query(
    "rolling_anomaly",
    oracle=with_finite_events("""WITH g AS (
                SELECT event_id, ts, user_id, event_type, value, props,
                       CAST(round(value * 100) AS BIGINT) AS v,
                       count(value) OVER w AS n,
                       sum(CAST(round(value * 100) AS BIGINT)) OVER w AS s,
                       sum(CAST(round(value * 100) AS BIGINT)
                           * CAST(round(value * 100) AS BIGINT)) OVER w
                         AS ss
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
              SELECT event_id, ts, user_id, event_type, value, props,
                     CAST(n AS BIGINT) AS n_baseline
              FROM g
              WHERE n >= 10
                AND (n*v - s) * (n*v - s) > 9 * (n*ss - s*s)"""),
)
def rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection
    (`operators/temporal.rolling_zscore_anomaly`): flag events >3σ
    from the user's own last-20-events baseline (strictly preceding —
    an outlier never suppresses its own score; <10 prior points never
    flags). The z² comparison is rewritten divide-free in BIGINT on
    the cent grid, (n·v−S)² > 9·(n·SS−S²), so both engines evaluate
    exact integer arithmetic — no float summation anywhere. n counts
    NON-NULL values in both engines (a null-valued event neither
    contributes to nor consumes baseline slots). One shuffle on
    user_id; constant-size sliding ROWS frame."""
    from core_telecoms_etl_spark.operators.temporal import (
        rolling_zscore_anomaly,
    )

    return rolling_zscore_anomaly(
        metric_events(spark, sf_dir),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        order_cols=("event_id",),
        lookback=20,
        min_points=10,
        z_threshold=3,
        grid=100,
    )


@query(
    "interarrival_stats",
    oracle="""WITH g AS (
                SELECT event_type,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                         PARTITION BY user_id, event_type ORDER BY ts)
                         AS gap_us
                FROM events)
              SELECT event_type,
                     count(*) AS n_gaps,
                     round(CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE)
                           / count(*) / 1e6, 3) AS mean_gap_s,
                     round(quantile_cont(gap_us, 0.5) / 1e6, 3) AS p50_gap_s,
                     round(quantile_cont(gap_us, 0.9) / 1e6, 3) AS p90_gap_s
              FROM g WHERE gap_us IS NOT NULL
              GROUP BY 1 ORDER BY 1""",
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival cadence: for each user's stream of
    one event type, the gap to the previous occurrence; aggregated to
    count / mean / exact interpolated p50 / p90 seconds — the arrival-
    process profile behind retention and anomaly baselines (and the
    input to choosing stream watermark widths).

    Input contract: (user_id, ts) unique (events table guarantee).

    Exactness: gaps are exact BIGINT microseconds (unix_micros ↔
    epoch_us); mean = Σ/n/1e6 mirrored; percentiles use the proven
    percentile↔quantile_cont interpolation pairing on integer inputs;
    all outputs rounded at 1e-3 s.

    Scale: the lag window partitions by (user, type) — per-user
    partitions, never global; then one shuffle to the |types|-row
    rollup."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts")
    g = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        g.groupBy("event_type")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(
                F.sum("gap_us").cast("double") / F.count("*") / F.lit(1e6), 3
            ).alias("mean_gap_s"),
            F.round(F.percentile("gap_us", 0.5) / F.lit(1e6), 3).alias(
                "p50_gap_s"
            ),
            F.round(F.percentile("gap_us", 0.9) / F.lit(1e6), 3).alias(
                "p90_gap_s"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "late_arrival_audit",
    oracle="""WITH arr AS (
                SELECT event_type, value,
                       epoch_us(ts) AS tus,
                       max(epoch_us(ts)) OVER (ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS high_water
                FROM events)
              SELECT event_type,
                     count(*) AS n_events,
                     CAST(sum(CASE WHEN tus < high_water - 3600000000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
                     round(CAST(sum(CASE WHEN tus < high_water - 3600000000
                                    THEN 1 ELSE 0 END) AS BIGINT)
                           / CAST(count(*) AS DOUBLE), 6) AS p_late
              FROM arr GROUP BY 1 ORDER BY 1""",
)
def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy simulation on batch data: replay the stream in
    ARRIVAL order (event_id — the ingest sequence) and count, per
    event type, the rows a 1-hour watermark would have dropped (event
    time below the running high-water mark minus the delay) — the
    audit that sizes `withWatermark` before you commit to a threshold
    (pairs with `interarrival_stats`).

    Exactness: microsecond BIGINT timestamps, an integer prefix-MAX,
    and integer comparisons; the rate is one mirrored division.

    Scale: the running high-water mark is a global prefix max over
    arrival order — computed with the repo's two-level bucketed shape
    (prefix-MAX variant): arrival-id range buckets, within-bucket
    running max windows parallelize, and only the B-row bucket-max
    table prefix-maxes single-partition before broadcasting back. The
    oracle states the single-window form declaratively."""
    ev = load_table(spark, sf_dir, "events")
    n_buckets = 256
    base = ev.select(
        "event_type",
        F.col("event_id").alias("eid"),
        F.unix_micros("ts").alias("tus"),
    )
    span = base.agg(
        F.min("eid").alias("lo"), F.max("eid").alias("hi")
    )
    bucketed = base.join(F.broadcast(span)).withColumn(
        "bkt",
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.lit(n_buckets - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("eid") - F.col("lo"))
                        * F.lit(n_buckets)
                        / (F.col("hi") - F.col("lo"))
                    ).cast("long"),
                ),
            ),
        ).otherwise(F.lit(0)),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.select(
        "event_type",
        "bkt",
        "tus",
        F.max("tus").over(w_in).alias("hw_in"),
    )
    totals = bucketed.groupBy("bkt").agg(F.max("tus").alias("bmax"))
    w_off = (
        Window.partitionBy(F.pmod(F.col("bkt"), F.lit(1)))
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "bkt", F.max("bmax").over(w_off).alias("prev_max")
    )
    delay_us = F.lit(3600000000)
    joined = cum.join(F.broadcast(offsets), "bkt").withColumn(
        "high_water",
        F.greatest(F.col("hw_in"), F.coalesce(F.col("prev_max"), F.col("hw_in"))),
    )
    late = (F.col("tus") < F.col("high_water") - delay_us).cast("int")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(late).cast("long").alias("n_late_1h"),
        )
        .select(
            "event_type",
            "n_events",
            "n_late_1h",
            F.round(
                F.col("n_late_1h") / F.col("n_events").cast("double"), 6
            ).alias("p_late"),
        )
        .orderBy("event_type")
    )


@query(
    "fulfillment_latency",
    oracle="""WITH lat AS (
                SELECT o_orderpriority,
                       CAST(date_diff('day', o_orderdate, l_shipdate)
                            AS BIGINT) AS days
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
              SELECT o_orderpriority,
                     count(*) AS n_lines,
                     round(CAST(CAST(sum(days) AS BIGINT) AS DOUBLE)
                           / count(*), 4) AS mean_days,
                     round(quantile_cont(days, 0.5), 4) AS p50_days,
                     round(quantile_cont(days, 0.95), 4) AS p95_days,
                     CAST(max(days) AS BIGINT) AS max_days
              FROM lat GROUP BY 1 ORDER BY 1""",
)
def fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLA readout per priority: mean / exact
    interpolated p50 / p95 / max days between order and line shipment —
    the operations-latency mart every fulfillment pipeline reports
    (reference capability: its marts stop at complaint counts).

    Exactness: day latencies are exact BIGINT; mean = Σ/n mirrored;
    percentiles via the proven percentile↔quantile_cont pairing.

    Scale: one orders⋈lineitem join on the order key (AQE picks the
    strategy; at production bucketing co-locates both on orderkey —
    SCALING.md), then a |priorities|-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lat = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("days"),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum("days").cast("double") / F.count("*"), 4
            ).alias("mean_days"),
            F.round(F.percentile("days", 0.5), 4).alias("p50_days"),
            F.round(F.percentile("days", 0.95), 4).alias("p95_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )
