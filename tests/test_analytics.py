"""Funnel-fold and deterministic-sampling operator tests."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators.funnel import (
    funnel_counts,
    user_funnel_times,
)
from core_telecoms_etl_spark.operators.sampling import (
    dataset_split,
    hash_bucket,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, 1 if len(r) < 3 else r[2], datetime(2024, 1, 1, 0, r[1]), r[0])
            for i, r in enumerate(rows)
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )


def test_funnel_order_matters(spark):
    # user 1 completes in order; user 2 has purchase BEFORE click → stalls
    rows = [
        ("signup", 0, 1),
        ("click", 10, 1),
        ("purchase", 20, 1),
        ("signup", 0, 2),
        ("purchase", 5, 2),
        ("click", 10, 2),
    ]
    out = funnel_counts(_ev(spark, rows), ["signup", "click", "purchase"]).collect()[0]
    assert (
        out.n_signup,
        out.n_signup_click,
        out.n_signup_click_purchase,
    ) == (2, 2, 1)


def test_funnel_strictly_after_previous_stage(spark):
    # click at the SAME minute as signup does not count (strict >)
    rows = [("signup", 5, 1), ("click", 5, 1)]
    times = user_funnel_times(
        _ev(spark, rows), ["signup", "click"]
    ).collect()[0]
    assert times.stage_ts[0] is not None
    assert times.stage_ts[1] is None


def test_funnel_ignores_pre_signup_events(spark):
    rows = [("click", 0, 1), ("signup", 5, 1), ("click", 9, 1)]
    times = user_funnel_times(
        _ev(spark, rows), ["signup", "click"]
    ).collect()[0]
    assert times.stage_ts[1].minute == 9  # the post-signup click


def test_hash_bucket_stable_and_salted(spark):
    df = spark.range(1000)
    a = df.select("id", hash_bucket("id", 100).alias("b"))
    b = df.select("id", hash_bucket("id", 100).alias("b"))
    assert a.exceptAll(b).isEmpty()  # identical across evaluations
    salted = df.select("id", hash_bucket("id", 100, salt="v2").alias("b"))
    assert not a.exceptAll(salted).isEmpty()  # salt changes assignment
    # buckets are uniform: the lowest 20% of them hold ≈20% of ids
    ids = spark.range(10_000)
    n = ids.filter(hash_bucket("id", 1_000_000) < 200_000).count()
    assert abs(n - 2000) < 300  # within ~4σ of the binomial


def test_dataset_split_partitions_everything_once(spark):
    df = spark.range(2000)
    s = dataset_split(df, "id")
    counts = {r.split: r.n for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"]
    # monotone growth: enlarging train keeps every existing train member
    bigger = dataset_split(
        df, "id", weights={"train": 0.9, "val": 0.05, "test": 0.05}
    )
    t_small = {r.id for r in s.filter("split = 'train'").collect()}
    t_big = {r.id for r in bigger.filter("split = 'train'").collect()}
    assert t_small <= t_big


def test_sample_exact_k_is_exact_stable_and_heap_based(spark):
    from core_telecoms_etl_spark.operators.sampling import sample_exact_k

    df = spark.range(5_000)
    s1 = sample_exact_k(df, "id", 50)
    ids1 = {r.id for r in s1.collect()}
    assert len(ids1) == 50
    # same draw on a different partitioning
    ids2 = {
        r.id for r in sample_exact_k(df.repartition(7), "id", 50).collect()
    }
    assert ids1 == ids2
    # independent draw under a different salt
    ids3 = {r.id for r in sample_exact_k(df, "id", 50, salt="v2").collect()}
    assert ids1 != ids3
    # top-k heap, not a global sort
    assert "TakeOrderedAndProject" in s1._jdf.queryExecution().executedPlan().toString()


def test_domain_mixture_hits_target_shares(spark):
    from core_telecoms_etl_spark.operators.sampling import domain_mixture

    # 800 'a' + 150 'b' + 50 'c'; target 50/25/25 ⇒ scale = min(800/.5,
    # 150/.25, 50/.25) = 200 ⇒ keep ≈100 a, ≈50 b, all 50 c
    df = spark.range(1000).withColumn(
        "dom",
        F.when(F.col("id") < 800, "a")
        .when(F.col("id") < 950, "b")
        .otherwise("c"),
    )
    out = domain_mixture(
        df, "id", "dom", {"a": 0.5, "b": 0.25, "c": 0.25}
    )
    counts = {
        r.dom: r.n
        for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()
    }
    assert counts["c"] == 50  # binding domain kept whole
    assert abs(counts["a"] - 100) < 35  # ~4σ binomial tolerance
    assert abs(counts["b"] - 50) < 25
    # unlisted domains are dropped
    out2 = domain_mixture(df, "id", "dom", {"a": 0.6, "b": 0.4})
    assert out2.filter("dom = 'c'").isEmpty()


def test_scd2_intervals_chain(spark):
    from datetime import datetime

    from core_telecoms_etl_spark.operators.scd import scd2_history

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), "bronze"),
            (1, datetime(2024, 2, 1), "silver"),
            (1, datetime(2024, 3, 1), "gold"),
            (2, datetime(2024, 1, 15), "bronze"),
        ],
        "customer_id long, changed_at timestamp, tier string",
    )
    out = scd2_history(
        df, key_cols=["customer_id"], ts_col="changed_at"
    ).collect()
    v1 = {
        r.tier: (r.valid_from, r.valid_to, r.is_current)
        for r in out
        if r.customer_id == 1
    }
    # intervals chain with no gaps: each valid_to == next valid_from
    assert v1["bronze"][1] == v1["silver"][0]
    assert v1["silver"][1] == v1["gold"][0]
    assert v1["gold"][1] is None and v1["gold"][2] is True
    assert not v1["bronze"][2] and not v1["silver"][2]


def test_upsert_updates_win_and_inserts_append(spark):
    from core_telecoms_etl_spark.operators.scd import upsert

    target = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "id long, v string, ver long"
    )
    updates = spark.createDataFrame(
        # a stale update of key 1 loses to the target; inside the batch
        # the highest version of key 3 wins
        [(2, "B", 2), (3, "c0", 0), (3, "c", 1), (1, "a_stale", 0)],
        "id long, v string, ver long",
    )
    merged = upsert(target, updates, key_cols=["id"], version_col="ver")
    out = {r.id: r.v for r in merged.collect()}
    assert out == {1: "a", 2: "B", 3: "c"}
    # re-applying the same batch changes nothing
    again = upsert(merged, updates, key_cols=["id"], version_col="ver")
    assert {r.id: r.v for r in again.collect()} == out


def test_upsert_same_version_update_wins(spark):
    from core_telecoms_etl_spark.operators.scd import upsert

    target = spark.createDataFrame([(1, "old", 5)], "id long, v string, ver long")
    updates = spark.createDataFrame([(1, "new", 5)], "id long, v string, ver long")
    out = upsert(
        target, updates, key_cols=["id"], version_col="ver"
    ).collect()
    assert len(out) == 1 and out[0].v == "new"


def test_attribution_first_event_purchase_is_direct(spark, tmp_path):
    """A purchase with no preceding non-purchase event must credit
    'direct', and same-timestamp ordering must follow the event_id
    tiebreak (the determinism contract in the query docstring)."""
    from datetime import datetime

    from core_telecoms_etl_spark.queries.events import (
        attribution_last_touch,
    )

    t = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: purchase FIRST (direct), then click -> purchase
        (1, t, 1, "purchase", 10.0, "{}"),
        (2, t, 1, "click", 0.0, "{}"),  # same ts: event_id orders it
        (3, t, 1, "purchase", 20.0, "{}"),
        # user 2: view -> purchase
        (4, t, 2, "view", 0.0, "{}"),
        (5, t, 2, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    out = {
        r.channel: (r.n_purchases, r.attributed_value)
        for r in attribution_last_touch(spark, sf).collect()
    }
    assert out == {"direct": (1, 10.0), "click": (1, 20.0),
                   "view": (1, 5.0)}


def test_winsorize_degenerate_group_all_equal(spark, tmp_path):
    """A group whose values are all equal clips nothing and sums
    exactly (lo == hi == v for every row)."""
    from datetime import datetime

    from core_telecoms_etl_spark.queries.analytics import (
        winsorize_features,
    )

    t = datetime(2024, 1, 1)
    rows = [(i, t, 1, "flat", 2.5, "{}") for i in range(10)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    row = winsorize_features(spark, sf).collect()[0]
    assert row.n == 10
    assert row.n_clipped_low == 0 and row.n_clipped_high == 0
    assert row.sum_winsorized == 25.0


def test_triangle_stats_hand_graphs(spark):
    """K3 -> 1 triangle, clustering 1.0; a 4-path -> 0 triangles; K4 ->
    4 triangles; duplicate/reversed edges collapse."""
    from core_telecoms_etl_spark.operators.graph import triangle_stats

    k3 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1)], ["src", "dst"]  # one dup reversed
    )
    r = triangle_stats(k3).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (3, 3, 1)
    assert r.clustering_coeff == 1.0

    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    r = triangle_stats(path).collect()[0]
    assert (r.n_edges, r.n_wedges, r.n_triangles) == (3, 2, 0)
    assert r.clustering_coeff == 0.0

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], ["src", "dst"]
    )
    r = triangle_stats(k4).collect()[0]
    assert (r.n_edges, r.n_triangles) == (6, 4)


def test_triangle_stats_hub_graph_counts_once(spark):
    """A star plus one rim edge: exactly 1 triangle regardless of hub
    degree (the degree-ordered orientation handles the skewed hub)."""
    from core_telecoms_etl_spark.operators.graph import triangle_stats

    edges = [(0, i) for i in range(1, 20)] + [(1, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    r = triangle_stats(df).collect()[0]
    assert r.n_triangles == 1
    assert r.n_nodes == 20


def test_node_jaccard_similarity_values(spark):
    """Two parts always bought together -> jaccard 1.0 and they top the
    ranking at sf0.001... or at least every score is in (0, 1] and
    common <= min(deg)."""
    import __spark_entry__ as e

    rows = e.queries()["node_jaccard_similarity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert 0 < len(rows) <= 25
    prev = None
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0
        assert r.n_common <= r.n_union
        assert r.part_a < r.part_b
        if prev is not None:
            assert (prev.jaccard, ) >= (r.jaccard, )  # descending
        prev = r
