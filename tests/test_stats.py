"""Statistics-family operator tests: rolling anomaly, snapshot diff,
A/B z-test, RFM, rollup merge, windowed funnel, co-purchase pair
expansion, and the two-sample KS test."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators.scd import snapshot_diff
from core_telecoms_etl_spark.operators.stats import (
    ab_test_zscore,
    rfm_segments,
)
from core_telecoms_etl_spark.operators.temporal import (
    rolling_zscore_anomaly,
)


def _series(spark, values, user=1):
    return spark.createDataFrame(
        [
            (i, user, datetime(2024, 1, 1, 0, 0, i), "view", float(v))
            for i, v in enumerate(values)
        ],
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    )


def test_rolling_anomaly_flags_spike_not_baseline(spark):
    # 15 flat observations then one 100x spike: only the spike flags
    df = _series(spark, [10.0] * 15 + [1000.0, 10.0])
    out = rolling_zscore_anomaly(
        df, lookback=20, min_points=10, z_threshold=3
    ).collect()
    assert [r.event_id for r in out] == [15]
    assert out[0].n_baseline == 15


def test_rolling_anomaly_cold_start_never_flags(spark):
    # huge spike but only 5 prior points < min_points=10 -> no flag
    df = _series(spark, [10.0] * 5 + [1000.0])
    assert (
        rolling_zscore_anomaly(df, min_points=10).count() == 0
    )


def test_rolling_anomaly_outlier_not_in_own_baseline(spark):
    # two consecutive spikes: the frame excludes the current row, so
    # the SECOND spike is judged against a baseline that now contains
    # the first spike (variance blows up -> weaker z) but the first
    # is judged on the clean baseline
    df = _series(spark, [10.0] * 12 + [1000.0, 1000.0])
    out = rolling_zscore_anomaly(
        df, lookback=20, min_points=10, z_threshold=3
    ).collect()
    flagged = {r.event_id for r in out}
    assert 12 in flagged


def test_rolling_anomaly_zero_variance_baseline(spark):
    # identical baseline (variance 0): any deviation flags, equality
    # does not (0 > 0 is false)
    df = _series(spark, [10.0] * 12 + [10.0, 10.01])
    out = rolling_zscore_anomaly(
        df, lookback=20, min_points=10, z_threshold=3
    ).collect()
    assert [r.event_id for r in out] == [13]


def test_snapshot_diff_classes(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    out = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    # 1 deleted, 2 updated, 3 unchanged (null-safe!), 4 inserted
    assert out == {1: "delete", 2: "update", 4: "insert"}


def test_snapshot_diff_null_transitions_are_updates(spark):
    old = spark.createDataFrame(
        [(1, None), (2, 5.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, 1.0), (2, None)], "k long, v double"
    )
    out = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    # null -> value and value -> null are both updates under
    # null-safe compare, never 'unchanged' (which would drop out)
    assert out == {1: "update", 2: "update"}


def test_snapshot_diff_null_key_component(spark):
    # a business key with a NULL component must still match across
    # snapshots (eqNullSafe join keys) — never a spurious
    # insert+delete pair (ADVICE r6)
    old = spark.createDataFrame(
        [(1, None, 10.0), (2, "x", 20.0)], "k long, k2 string, v double"
    )
    new = spark.createDataFrame(
        [(1, None, 15.0), (2, "x", 20.0)], "k long, k2 string, v double"
    )
    out = [
        (r.k, r.k2, r.change_type)
        for r in snapshot_diff(old, new, key_cols=["k", "k2"]).collect()
    ]
    assert out == [(1, None, "update")]


def test_ab_test_one_row_and_partition(spark):
    ev = _series(spark, [1.0] * 4)
    ev = ev.union(
        spark.createDataFrame(
            [
                (100 + i, i, datetime(2024, 1, 2), "purchase", 1.0)
                for i in range(40)
            ],
            ev.schema,
        )
    )
    row = ab_test_zscore(ev).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_a + r.n_b == ev.select("user_id").distinct().count()
    # both arms have identical means here -> z/significant are NULL
    assert r.significant in (0, 1, None)


def test_ab_test_identical_arms_not_significant(spark):
    # every user has exactly one purchase -> zero variance in both
    # arms -> z is NULL (0/0) and significant must not be 1
    ev = spark.createDataFrame(
        [
            (i, i, datetime(2024, 1, 1), "purchase", 1.0)
            for i in range(100)
        ],
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    )
    r = ab_test_zscore(ev).collect()[0]
    assert r.mean_a == 1.0 and r.mean_b == 1.0
    assert r.significant != 1


def test_rfm_scores_cover_quartiles(spark, sf_dir):
    from core_telecoms_etl_spark.sources.readers import load_table

    out = rfm_segments(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "customer"),
    )
    rows = out.collect()
    for c in ("r_score", "f_score", "m_score"):
        vals = {getattr(r, c) for r in rows}
        assert vals <= {1, 2, 3, 4} and len(vals) == 4
    # cell counts sum to the number of customers with orders
    n = sum(r.n_customers for r in rows)
    oc = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert n == oc


def test_rolling_anomaly_single_exchange(spark):
    # ONE hash exchange on the key: the sliding frame and the filter
    # reuse the same partitioning
    df = _series(spark, [10.0] * 30)
    plan = rolling_zscore_anomaly(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_rfm_windows_share_one_exchange(spark, sf_dir):
    from core_telecoms_etl_spark.sources.readers import load_table

    out = rfm_segments(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "customer"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the three ntile windows all repartition on c_mktsegment exactly
    # once: same partition key, per-score re-sorts only
    import re

    seg_ex = [
        a
        for a in re.findall(r"hashpartitioning\(([^,]+)[,)]", plan)
        if a.startswith("c_mktsegment")
    ]
    assert len(seg_ex) == 1


def test_merge_partial_rollup_equals_full_recompute(spark):
    from core_telecoms_etl_spark.operators.stats import (
        merge_partial_rollup,
    )

    rows = [(i % 3, (i * 7 + 1) % 100, 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long, one long")

    def partial(d):
        return d.groupBy("k").agg(
            F.sum("v").cast("long").alias("v"),
            F.count("*").cast("long").alias("n"),
        )

    # split three ways on arbitrary boundaries; merge must equal the
    # single-pass recompute exactly (integer re-summation)
    parts = [
        partial(df.filter(F.col("v") < 30)),
        partial(df.filter((F.col("v") >= 30) & (F.col("v") < 71))),
        partial(df.filter(F.col("v") >= 71)),
    ]
    merged = {
        (r.k): (r.v, r.n)
        for r in merge_partial_rollup(
            parts, key_cols=["k"], sum_cols=["v"], count_col="n"
        ).collect()
    }
    full = {(r.k): (r.v, r.n) for r in partial(df).collect()}
    assert merged == full


def test_windowed_funnel_horizon_cuts_conversions(spark):
    from datetime import datetime

    from core_telecoms_etl_spark.operators.funnel import funnel_counts

    def ev(eid, uid, minute, typ):
        return (eid, uid, datetime(2024, 1, 1, 0, minute), typ)

    rows = [
        # user 1 converts within horizon (gap 5 min each)
        ev(0, 1, 0, "signup"),
        ev(1, 1, 5, "click"),
        ev(2, 1, 10, "purchase"),
        # user 2 clicks too late (gap 30 min > 10-min horizon)
        ev(3, 2, 0, "signup"),
        ev(4, 2, 30, "click"),
        ev(5, 2, 31, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    plain = funnel_counts(df, ["signup", "click", "purchase"]).collect()[0]
    windowed = funnel_counts(
        df, ["signup", "click", "purchase"], horizon_seconds=600
    ).collect()[0]
    assert (plain.n_signup, plain.n_signup_click_purchase) == (2, 2)
    assert (windowed.n_signup, windowed.n_signup_click) == (2, 1)
    assert windowed.n_signup_click_purchase == 1


def test_windowed_funnel_boundary_inclusive(spark):
    from datetime import datetime

    from core_telecoms_etl_spark.operators.funnel import funnel_counts

    rows = [
        (0, 1, datetime(2024, 1, 1, 0, 0), "signup"),
        # exactly at the horizon boundary -> included (<=)
        (1, 1, datetime(2024, 1, 1, 0, 10), "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    w = funnel_counts(df, ["signup", "click"], horizon_seconds=600)
    assert w.collect()[0].n_signup_click == 1


def test_copurchase_pair_expansion(spark):
    # duplicate part in an order counts once; single-item baskets
    # produce no pairs; pairs are (a<b) canonical
    rows = [
        (1, 10), (1, 20), (1, 20), (1, 30),
        (2, 20), (2, 10),
        (3, 99),
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    baskets = df.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("__parts")
    )
    out = sorted(
        (r.a, r.b)
        for r in baskets.select(
            F.posexplode("__parts").alias("__i", "a"), "__parts"
        )
        .select(
            "a",
            F.explode(
                F.slice(
                    "__parts",
                    F.col("__i") + 2,
                    F.greatest(
                        F.size("__parts") - F.col("__i") - 1, F.lit(0)
                    ),
                )
            ).alias("b"),
        )
        .collect()
    )
    assert out == [(10, 20), (10, 20), (10, 30), (20, 30)]


def test_ks_two_sample_known_value(spark):
    from core_telecoms_etl_spark.operators.stats import ks_two_sample

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(
        df, value_col="v", group_col="g", group_a="a", group_b="b",
        n_buckets=4,
    ).collect()[0]
    # D = max|Fa - Fb| = 1/3 (at v=1 and v=3)
    assert (r.n_a, r.n_b, r.d_scaled) == (3, 3, 3)
    assert abs(r.d_stat - 1 / 3) < 1e-15
    assert r.reject_h0 == 0


def test_ks_identical_samples_zero(spark):
    from core_telecoms_etl_spark.operators.stats import ks_two_sample

    rows = [(g, float(v)) for g in ("a", "b") for v in range(50)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(
        df, value_col="v", group_col="g", group_a="a", group_b="b"
    ).collect()[0]
    assert r.d_scaled == 0 and r.d_stat == 0.0 and r.reject_h0 == 0


def test_ks_disjoint_samples_one(spark):
    from core_telecoms_etl_spark.operators.stats import ks_two_sample

    rows = [("a", float(v)) for v in range(20)] + [
        ("b", float(v + 100)) for v in range(20)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(
        df, value_col="v", group_col="g", group_a="a", group_b="b"
    ).collect()[0]
    # completely separated distributions -> D = 1, decisively rejected
    assert r.d_stat == 1.0 and r.reject_h0 == 1


def test_ks_no_fact_sized_global_window(spark):
    from core_telecoms_etl_spark.operators.stats import ks_two_sample

    rows = [("a", float(v)) for v in range(100)] + [
        ("b", float(v) + 0.5) for v in range(100)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    plan = (
        ks_two_sample(
            df, value_col="v", group_col="g", group_a="a", group_b="b"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the per-value CDF window (producing __ca_in/__cb_in) must be
    # partitioned on the range bucket — never a global Window over the
    # per-value relation; the only single-partition window is over the
    # B-row bucket-totals table (pmod idiom)
    cdf_windows = [
        line
        for line in plan.splitlines()
        if "Window" in line and "__ca_in" in line
    ]
    assert cdf_windows and all("__bkt" in line for line in cdf_windows)


def test_ks_empty_side_yields_null_not_error(spark):
    from core_telecoms_etl_spark.operators.stats import ks_two_sample

    rows = [("a", float(v)) for v in range(10)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(
        df, value_col="v", group_col="g", group_a="a", group_b="b"
    ).collect()[0]
    # no b-side observations: NULL statistic, never an ANSI 0/0 error
    assert (r.n_a, r.n_b) == (10, 0)
    assert r.d_stat is None and r.reject_h0 is None


def test_snapshot_diff_key_only_tables(spark):
    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    out = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    # nothing to compare -> only membership changes are reported
    assert out == {1: "delete", 3: "insert"}
