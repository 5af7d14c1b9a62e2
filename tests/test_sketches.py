"""Count-min sketch operator tests (operators/sketches.py): the CMS
structural guarantees (never undercounts; exact when collision-free),
the mergeable-state property, and the bounded-state claim."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators import sketches as sk


def _tokens(spark):
    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 10 + [
        (t,) for t in "defghijklmnop"
    ]
    return spark.createDataFrame(rows, "token string")


def test_cms_never_undercounts_and_is_exact_when_wide(spark):
    df = _tokens(spark)
    exact = {
        r.token: r.n
        for r in df.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    counters = sk.cms_build(df, "token", depth=4, width=4096)
    est = {
        r.token: r.cms_est
        for r in sk.cms_estimate(
            counters, df.select("token").distinct(), "token", width=4096
        ).collect()
    }
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert est[t] >= n  # structural: min over cells ≥ true count
    # 16 keys in 4×4096 cells: overwhelmingly collision-free → exact
    assert est == exact


def test_cms_counter_table_is_bounded(spark):
    depth, width = 4, 64
    counters = sk.cms_build(
        _tokens(spark), "token", depth=depth, width=width
    ).collect()
    assert len(counters) <= depth * width
    assert {r.seed for r in counters} == set(range(depth))
    assert all(0 <= r.bucket < width for r in counters)
    # total mass per depth row equals the input size (every token lands
    # in exactly one bucket per row)
    n = _tokens(spark).count()
    per_seed = {}
    for r in counters:
        per_seed[r.seed] = per_seed.get(r.seed, 0) + r["count"]
    assert all(v == n for v in per_seed.values())


def test_cms_merge_equals_whole(spark):
    df = _tokens(spark).withColumn("half", F.col("token") < F.lit("g"))
    a = sk.cms_build(df.filter("half"), "token", depth=4, width=64)
    b = sk.cms_build(df.filter("NOT half"), "token", depth=4, width=64)
    whole = sk.cms_build(df, "token", depth=4, width=64)
    merged = sk.cms_merge(a, b)
    key = lambda r: (r.seed, r.bucket)  # noqa: E731
    assert {key(r): r["count"] for r in merged.collect()} == {
        key(r): r["count"] for r in whole.collect()
    }


def test_cms_rejects_bad_params(spark):
    with pytest.raises(ValueError):
        sk.cms_build(_tokens(spark), "token", depth=0, width=64)
    with pytest.raises(ValueError):
        sk.cms_merge()


def test_cms_estimate_plan_broadcasts_counters(spark):
    """The probe side must be a broadcast hash join against the tiny
    counter table — no shuffle of the key side."""
    df = _tokens(spark)
    counters = sk.cms_build(df, "token", depth=4, width=64)
    est = sk.cms_estimate(
        counters, df.select("token").distinct(), "token", width=64
    )
    plan = est._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "BroadcastHashJoin" in plan


def test_cms_streaming_incremental_merge(spark, tmp_path):
    """The mergeable-state property in its streaming shape: per-micro-
    batch counter tables accumulated with cms_merge equal the CMS built
    over the whole stream in one batch pass — fixed-size heavy-hitter
    state over an unbounded stream (the pattern `foreachBatch` +
    persisted counter table runs on a cluster)."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows1 = [("a",)] * 30 + [("b",)] * 5 + [("x",)]
    rows2 = [("a",)] * 20 + [("c",)] * 7 + [("y",)]

    def write_flat(rows, name):
        pq.write_table(
            pa.table({"token": [r[0] for r in rows]}), f"{src}/{name}"
        )

    write_flat(rows1, "f1.parquet")

    merged = {"df": None}

    def on_batch(batch, batch_id):
        c = sk.cms_build(batch, "token", depth=3, width=128)
        merged["df"] = (
            c if merged["df"] is None else sk.cms_merge(merged["df"], c)
        )
        # materialize so later merges don't replan over dropped batches
        merged["df"] = batch.sparkSession.createDataFrame(
            merged["df"].collect(), merged["df"].schema
        )

    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    write_flat(rows2, "f2.parquet")
    q2 = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    whole = sk.cms_build(
        spark.createDataFrame(rows1 + rows2, "token string"),
        "token",
        depth=3,
        width=128,
    )
    key = lambda r: (r.seed, r.bucket)  # noqa: E731
    assert {key(r): r["count"] for r in merged["df"].collect()} == {
        key(r): r["count"] for r in whole.collect()
    }


def test_theta_lg_nom_entries_parameter(spark):
    """Higher lg_nom_entries tightens the estimate (VERDICT r6 item 8:
    the parameter must be a first-class operator knob, defaulting to
    the measured ≥14 recommendation, not the builtin's 12)."""
    n = 200_000
    df = spark.range(n).select(F.col("id").alias("k"))

    def estimate(lg: int) -> float:
        return (
            df.agg(sk.theta_agg("k", lg_nom_entries=lg).alias("s"))
            .select(sk.theta_estimate("s").alias("e"))
            .collect()[0]
            .e
        )

    err = lambda e: abs(e - n) / n  # noqa: E731
    # the wrapper default (14) must match an explicit 14 and stay
    # within the measured ~1.2% envelope; 16 within ~0.1%+slack
    est_default = (
        df.agg(sk.theta_agg("k").alias("s"))
        .select(sk.theta_estimate("s").alias("e"))
        .collect()[0]
        .e
    )
    assert est_default == estimate(sk.THETA_DEFAULT_LG_NOM_ENTRIES)
    assert err(est_default) <= 0.02, est_default
    assert err(estimate(16)) <= 0.005


def test_theta_agg_rejects_bad_lg(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sk.theta_agg("k", lg_nom_entries=3)
    with _pytest.raises(ValueError):
        sk.theta_agg("k", lg_nom_entries=27)


def test_bloom_no_false_negatives(spark):
    keys = spark.range(0, 5000).select(F.col("id").alias("k"))
    mask = sk.bloom_build(keys, "k", n_bits=1 << 16, n_hashes=5)
    hits = keys.filter(sk.bloom_might_contain("k", mask)).count()
    assert hits == 5000  # every inserted key MUST pass


def test_bloom_prunes_disjoint_keys(spark):
    keys = spark.range(0, 1000).select(F.col("id").alias("k"))
    mask = sk.bloom_build(keys, "k", n_bits=1 << 17, n_hashes=5)
    probe = spark.range(1_000_000, 1_050_000).select(F.col("id").alias("k"))
    fp = probe.filter(sk.bloom_might_contain("k", mask)).count()
    # m=2^17, k=5, n=1000 -> theoretical fp ~ 1e-8; allow generous slack
    assert fp < 50, f"false-positive rate too high: {fp}/50000"


def test_bloom_rejects_bad_bits(spark):
    with pytest.raises(ValueError):
        sk.bloom_build(spark.range(1), "id", n_bits=100)


def test_bloom_probe_type_drift_cannot_false_negative(spark):
    """xxhash64 is type-sensitive (xxhash64(7::INT) != xxhash64(7::BIGINT)),
    so an un-pinned probe over a narrower integer column than the build
    side would silently zero out — build and probe both cast to the
    shared key_type, making the never-false-negative guarantee real."""
    ints = spark.createDataFrame(
        [(i,) for i in range(200)], "k int"  # IntegerType build side
    )
    mask = sk.bloom_build(ints, "k", n_bits=1 << 14, n_hashes=4)
    longs = spark.createDataFrame(
        [(i,) for i in range(200)], "k long"  # LongType probe side
    )
    hits = longs.filter(
        sk.bloom_might_contain("k", mask, n_hashes=4)
    ).count()
    assert hits == 200


def test_bloom_string_keys_round_trip(spark):
    df = spark.createDataFrame([(f"u{i}",) for i in range(300)], "k string")
    mask = sk.bloom_build(
        df, "k", n_bits=1 << 14, n_hashes=4, key_type="string"
    )
    hits = df.filter(
        sk.bloom_might_contain("k", mask, n_hashes=4, key_type="string")
    ).count()
    assert hits == 300


# --- exact_top_k_by_count (VERDICT r10 ask #1) ------------------------------


def test_exact_topk_bound_exceeds_domain_at_configured_sf(spark, sf_dir):
    """The derived tracked budget must cover the ACTUAL distinct-key
    count at the configured sf — bound-vs-domain enforced, not assumed."""
    part_count = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    tracked = max(65536, 2 * part_count)
    distinct_keys = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert tracked > distinct_keys
    assert tracked >= 2 * part_count  # headroom for dirty FKs


def test_exact_topk_2m_distinct_probe(spark):
    """The scale probe the r10 verdict asked for: ≥2M distinct keys —
    the exact cardinality regime (sf10 part keys) where the old
    hard-coded 1M budget returned the EMPTY set — must yield the true
    top-10 with exact counts. At this domain the operator auto-switches
    to the groupBy arm (2M → tracked 4M > Spark's hard 1M sketch
    ceiling), which is exactly the fix: the decade that silently broke
    the sketch now silently gets the always-exact plan instead."""
    n_domain = 2_000_000
    base = spark.range(n_domain).select(F.col("id").alias("k"))
    # 10 heavy keys get +id%7+2 extra copies via an explode of repeats
    heavy = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") + 2).alias("reps")
    )
    extra = heavy.select(
        F.explode(F.sequence(F.lit(1), F.col("reps"))).alias("_"),
        "k",
    ).select("k")
    df = base.unionByName(extra.select("k"))
    got = [
        (r.item, r.n)
        for r in sk.exact_top_k_by_count(
            df, "k", 10, domain_size=n_domain
        ).collect()
    ]
    # true counts: key i (i<10) has 1 + (i+2) copies; ties broken by item
    expect = sorted(
        [(i, 1 + i + 2) for i in range(10)], key=lambda t: (-t[1], t[0])
    )
    assert got == expect


def test_exact_topk_sketch_arm_near_ceiling(spark):
    """Sketch arm just under the engine ceiling: 400k distinct keys →
    tracked 800k ≤ 1M — past the r10-sf1 failure point (200k distinct)
    and the largest regime the sketch can serve exactly — returns the
    true top-5."""
    n_domain = 400_000
    base = spark.range(n_domain).select(F.col("id").alias("k"))
    extra = (
        spark.range(5)
        .select(
            F.explode(
                F.sequence(F.lit(1), F.col("id") + 2)
            ).alias("_"),
            F.col("id").alias("k"),
        )
        .select("k")
    )
    got = [
        (r.item, r.n)
        for r in sk.exact_top_k_by_count(
            base.unionByName(extra), "k", 5, domain_size=n_domain
        ).collect()
    ]
    expect = sorted(
        [(i, 1 + i + 2) for i in range(5)], key=lambda t: (-t[1], t[0])
    )
    assert got == expect


def test_exact_topk_groupby_arm_matches_sketch_arm(spark):
    """Past max_tracked the operator switches to the plain groupBy
    top-k; both arms must return identical (item, n) rows."""
    df = _tokens(spark).select(
        F.xxhash64("token").alias("k")
    )
    a = sk.exact_top_k_by_count(df, "k", 5, domain_size=100).collect()
    b = sk.exact_top_k_by_count(
        df, "k", 5, domain_size=100, max_tracked=10
    ).collect()
    assert [(r.item, r.n) for r in a] == [(r.item, r.n) for r in b]
    assert len(a) == 5


def test_exact_topk_tripwire_raises_past_budget(spark):
    """An understated domain (tracked < true distinct) must RAISE
    loudly, never return 0 rows — the r10-sf1 failure class. The
    sketch arm is eager (ADVICE r11 tie-enclosure fix), so the raise
    happens at call time."""
    df = spark.range(200_000).select(F.col("id").alias("k"))
    with pytest.raises(Exception, match="exact_top_k_by_count"):
        # tracked = 65536 floor << 200k distinct
        sk.exact_top_k_by_count(df, "k", 10, domain_size=0)


def test_exact_topk_boundary_tie_deterministic(spark):
    """ADVICE r11: a tie group at the k-th count WIDER than the
    initial fetch (max(4k,100)=100 here vs 200 tied items) must still
    yield the deterministic (n desc, item) cut — the operator
    escalates fetch until the boundary count is fully enclosed, never
    emitting an arbitrary subset of the tied items."""
    heavy = spark.range(3).select(
        F.explode(F.array(*[F.lit(1)] * 5)).alias("_"),
        F.col("id").alias("k"),
    ).select("k")
    # keys 1000..1199 appear exactly twice each — the boundary tie
    tied = spark.range(1000, 1200).select(
        F.explode(F.array(F.lit(1), F.lit(2))).alias("_"),
        F.col("id").alias("k"),
    ).select("k")
    df = heavy.unionByName(tied)
    got = [
        (r.item, r.n)
        for r in sk.exact_top_k_by_count(
            df, "k", 5, domain_size=203
        ).collect()
    ]
    assert got == [(0, 5), (1, 5), (2, 5), (1000, 2), (1001, 2)]


def test_exact_topk_null_keys_excluded_both_arms(spark):
    """ADVICE r11: approx_top_k ignores NULLs while groupBy counts
    NULL as a group — both arms must exclude NULL keys so the
    domain-driven arm choice is never observable in the rows."""
    df = spark.createDataFrame(
        [(None,)] * 50 + [(1,)] * 3 + [(2,)] * 2 + [(3,)] * 1,
        "k: int",
    )
    a = sk.exact_top_k_by_count(df, "k", 3, domain_size=10).collect()
    b = sk.exact_top_k_by_count(
        df, "k", 3, domain_size=10, max_tracked=1
    ).collect()
    assert [(r.item, r.n) for r in a] == [(1, 3), (2, 2), (3, 1)]
    assert [(r.item, r.n) for r in b] == [(1, 3), (2, 2), (3, 1)]


def test_exact_topk_rejects_bad_args(spark):
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="k must be"):
        sk.exact_top_k_by_count(df, "k", 0, domain_size=10)
    with pytest.raises(ValueError, match="domain_size"):
        sk.exact_top_k_by_count(df, "k", 1, domain_size=-1)
