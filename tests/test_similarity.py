"""Vector-similarity tests (SURVEY.md §2.13 X3): cosine math vs numpy,
brute-force exactness, and recall of the approximate (IVF / LSH) paths
against the brute-force baseline on real test embeddings."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators import similarity as sim
from core_telecoms_etl_spark.sources.readers import load_table
from tests import fold_refs as refs

VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),  # close to 0
    (2, [0.0, 1.0, 0.0]),  # orthogonal to 0
    (3, [-1.0, 0.0, 0.0]),  # opposite of 0
]


def _vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_cosine_from_norms_matches_numpy(spark):
    df = _vecs(spark)
    a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    cos = sim.cosine_from_norms(
        sim.dot_expr("va", "vb"), sim.norm2_expr("va"), sim.norm2_expr("vb")
    )
    out = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select("ia", "ib", cos.alias("cos"))
        .collect()
    )
    import numpy as np

    # storage is array<float> (float32); math promotes to double — so the
    # oracle must truncate through float32 first, then compute in float64
    vecs = {
        i: np.array(v, dtype=np.float32).astype(np.float64) for i, v in VECS
    }
    for r in out:
        expected = float(
            vecs[r.ia] @ vecs[r.ib]
            / math.sqrt((vecs[r.ia] @ vecs[r.ia]) * (vecs[r.ib] @ vecs[r.ib]))
        )
        assert r.cos == pytest.approx(expected, abs=1e-9)


def test_brute_force_topk_ordering(spark):
    df = _vecs(spark)
    out = sim.brute_force_topk(df, df.filter("vec_id = 0"), k=3).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [1, 2, 3]  # close, orthogonal, opposite


def test_brute_force_topk_arrow_bit_identical(spark, sf_dir):
    """The Arrow-batched scorer must return the EXACT rows of the fold
    path — same (query_id, neighbor_id, rank) and bit-identical cosine
    doubles (the bootstrap_ci_partials precedent: the fast path earns
    default status only by exact equality with the declarative form)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    fold = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in refs.brute_force_topk_fold(e, q, k=10).collect()
    }
    arrow = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in sim.brute_force_topk(e, q, k=10).collect()
    }
    assert set(fold) == set(arrow)
    for key, c in fold.items():
        assert arrow[key] == c, (key, arrow[key], c)  # bit equality


def test_brute_force_topk_arrow_empty_queries(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 0)
    assert sim.brute_force_topk(e, q, k=5).count() == 0


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(e, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """n_probe == n_centroids degenerates to exact search."""
    e = load_table(spark, sf_dir, "embeddings").limit(100)
    q = e.filter(F.col("vec_id") < 2)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(e, q, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk(e, q, k=5, n_centroids=8, n_probe=8).collect()
    }
    assert full == exact


def test_ivf_arrow_bit_identical_to_fold(spark, sf_dir):
    """The r11 single-pass Arrow IVF must return the EXACT rows of the
    retained declarative fold form — same (query_id, neighbor_id,
    rank) and bit-identical cosine doubles — on the kmeans-refined
    quantizer, whose bucket boundaries exercise the assignment tie
    discipline."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    fold = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in refs.ivf_topk_fold(
            e, q, k=10, n_centroids=16, n_probe=4, kmeans=True
        ).collect()
    }
    arrow = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in sim.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4).collect()
    }
    assert set(fold) == set(arrow)
    for key, c in fold.items():
        assert arrow[key] == c, (key, arrow[key], c)


def test_ivf_arrow_chunked_queries_bit_identical(spark, sf_dir):
    """Q-chunking inside the bucket scorer must not change results
    (3 < |probing queries| forces multi-chunk paths)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    wide = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in sim.ivf_topk(e, q, k=10, n_centroids=8, n_probe=8).collect()
    }
    chunked = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in sim.ivf_topk(
            e, q, k=10, n_centroids=8, n_probe=8, q_chunk=3
        ).collect()
    }
    assert wide == chunked


def test_lsh_arrow_bit_identical_to_fold(spark, sf_dir):
    """The r11 single-pass Arrow LSH must return the EXACT rows of the
    retained declarative fold form — same candidate set (the JVM-hash
    hyperplane signs + dim-ascending projection make every sketch long
    equal `refs.sketch_expr`'s), same (query_id, neighbor_id, rank), and
    bit-identical cosine doubles — single-table and multi-table, with
    q_chunk forced below the query count, and with max_hamming at both
    ends so BOTH density-adaptive selection routes run (ham=16 makes
    every pair a candidate → density 1.0 → full-GEMM route; ham=6 on
    these embeddings stays on the gathered-matvec route)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    for n_tables, q_chunk, ham in (
        (1, 1024, 6), (4, 1024, 6), (4, 3, 6), (1, 1024, 16),
    ):
        fold = {
            (r.query_id, r.neighbor_id, r.rank): r.cosine
            for r in refs.lsh_topk_fold(
                e, q, k=10, n_bits=16, max_hamming=ham, n_tables=n_tables
            ).collect()
        }
        arrow = {
            (r.query_id, r.neighbor_id, r.rank): r.cosine
            for r in sim.lsh_topk(
                e, q, k=10, n_bits=16, max_hamming=ham,
                n_tables=n_tables, q_chunk=q_chunk,
            ).collect()
        }
        assert set(fold) == set(arrow), (n_tables, q_chunk, ham)
        for key, c in fold.items():
            assert arrow[key] == c, (n_tables, q_chunk, ham, key, arrow[key], c)


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(e, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_topk(e, q, k=10, n_bits=16, max_hamming=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"


def test_multi_table_lsh_recall_at_least_single(spark, sf_dir):
    """L independent sketch tables (union of candidates) must not lose
    recall vs one table — the 1-(1-p)^L recall lever the
    vector_topk_lsh query's 0.8 floor relies on. Both deterministic, so
    exact comparison."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(e, q, k=10).collect()
    }

    def recall(n_tables):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in sim.lsh_topk(
                e, q, k=10, n_bits=16, max_hamming=6, n_tables=n_tables
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 >= 0.8, f"multi-table recall below the query floor: {r4}"


def test_kmeans_ivf_recall_at_least_naive(spark, sf_dir):
    """Deterministic Lloyd refinement must not hurt recall vs the naive
    lowest-id quantizer (kept in the fold reference) at the same n_probe
    (both fully deterministic, so this is an exact, non-flaky
    comparison)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(e, q, k=10).collect()
    }

    def recall(top):
        approx = {(r.query_id, r.neighbor_id) for r in top.collect()}
        return len(exact & approx) / len(exact)

    kmeans = sim.ivf_topk(e, q, k=10, n_centroids=16, n_probe=4)
    naive = refs.ivf_topk_fold(e, q, k=10, n_centroids=16, n_probe=4)
    assert recall(kmeans) >= recall(naive)


def test_cluster_assign_topn_copies_share_clusters(spark, sf_dir):
    """A vector copied verbatim gets the same top-n centroids as its
    original, so cluster blocking always pairs the copies (the
    SemDeDup-style dedup blocking the semantic_dedup query audits), and
    the assignment is the same on every run."""
    e = load_table(spark, sf_dir, "embeddings").limit(100)
    clone = e.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    data = e.unionByName(clone)

    def run():
        out = {}
        for r in sim.cluster_assign_topn(
            data, n_clusters=8, n_assign=2
        ).collect():
            out.setdefault(r.vec_id, set()).add(r.centroid_id)
        return out

    got = run()
    assert len(got) == 103
    for i in range(3):
        assert len(got[i]) == 2
        assert got[i + 1000] == got[i]
    assert run() == got


def test_kmeans_centroids_deterministic(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").limit(200)
    a = sim.kmeans_centroids(e, k=8).collect()
    b = sim.kmeans_centroids(e, k=8).collect()
    assert sorted(r.centroid_id for r in a) == sorted(
        r.centroid_id for r in b
    )
    ca = {r.centroid_id: r.centroid for r in a}
    cb = {r.centroid_id: r.centroid for r in b}
    assert ca == cb


def _clustered_corpus(spark, n=4000, dim=32, n_centers=16, noise=0.25):
    """Synthesize the r11 decision-matrix clustered regime: unnormalized
    gaussian centers (norm ≈ √dim) + per-dim gaussian noise — vectors
    concentrate tightly around center directions."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((n_centers, dim))
    v = centers[np.arange(n) % n_centers] + noise * rng.standard_normal(
        (n, dim)
    )
    return spark.createDataFrame(
        [(int(i), v[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def test_auto_topk_routes_exact_on_uniform(spark, sf_dir):
    """VERDICT r11 ask #4: on the near-uniform testdata embeddings the
    probe statistic sits UNDER the gated null bound, the router picks
    the exact scorer, and the neighbors equal brute force exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    probe = sim.clusteredness_probe(e)
    assert not sim._auto_topk_routes_ivf(
        probe, sim.AUTO_TOPK_GAP_RATIO, e.count, min_ivf_rows=0
    ), probe  # shape alone rejects IVF here, before the size floor
    q = e.filter(F.col("vec_id") < 4)
    routed, _ = sim.auto_topk(e, q, k=5)
    assert routed.select("route").distinct().collect()[0].route == "exact"
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in routed.collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.brute_force_topk(e, q, k=5).collect()
    }
    assert got == want


def test_auto_topk_routes_ivf_on_clustered(spark):
    """The clustered branch: probe statistic clears the gate, route is
    'ivf', the probe stat is reported on every row, and recall vs
    exact stays high (clustered cells align with the data — the whole
    point of routing IVF here)."""
    d = _clustered_corpus(spark)
    probe = sim.clusteredness_probe(d)
    assert sim._auto_topk_routes_ivf(
        probe, sim.AUTO_TOPK_GAP_RATIO, d.count, min_ivf_rows=0
    ), probe
    q = d.filter(F.col("vec_id") < 4)
    # min_ivf_rows=0: the synthetic corpus is tiny, and this test pins
    # the SHAPE arm; the size floor has its own routing-matrix test
    routed, _ = sim.auto_topk(
        d, q, k=5, n_centroids=8, n_probe=4, min_ivf_rows=0
    )
    rows = routed.collect()
    assert {r.route for r in rows} == {"ivf"}
    assert {r.probe_stat for r in rows} == {probe["stat"]}
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(d, q, k=5).collect()
    }
    hit = {(r.query_id, r.neighbor_id) for r in rows} & exact
    assert len(hit) / len(exact) >= 0.8  # clustered-regime recall


def test_auto_topk_routing_matrix_size_and_shape(spark):
    """VERDICT r12 ask #5: the full small/large x uniform/clustered
    decision matrix. IVF routes ONLY in the large-AND-clustered cell —
    below AUTO_TOPK_MIN_IVF_ROWS (~2e5, the r11 memory-probe
    crossover) IVF's fixed build/shuffle overheads lose to the exact
    Arrow scorer regardless of shape, so small corpora must route
    exact even when razor-clustered. Predicate-level for all four
    cells, plus the behavioral small-clustered -> exact check through
    auto_topk's DEFAULT floor."""
    clustered = {"stat": 0.95, "null_bound": 0.49, "n_sample": 2048,
                 "dim": 64}
    uniform = {"stat": 0.50, "null_bound": 0.49, "n_sample": 2048,
               "dim": 64}
    gr = sim.AUTO_TOPK_GAP_RATIO
    small, large = 50_000, 1_000_000
    assert sim.AUTO_TOPK_MIN_IVF_ROWS == 200_000
    assert sim._auto_topk_routes_ivf(clustered, gr, lambda: large)
    assert not sim._auto_topk_routes_ivf(clustered, gr, lambda: small)
    assert not sim._auto_topk_routes_ivf(uniform, gr, lambda: large)
    assert not sim._auto_topk_routes_ivf(uniform, gr, lambda: small)
    # behavioral: a tiny clustered corpus through the DEFAULT floor
    # routes exact — and exact-route results ARE brute force
    d = _clustered_corpus(spark)
    q = d.filter(F.col("vec_id") < 2)
    routed, _ = sim.auto_topk(d, q, k=3)
    rows = routed.collect()
    assert {r.route for r in rows} == {"exact"}
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.brute_force_topk(d, q, k=3).collect()
    }
    assert {(r.query_id, r.neighbor_id, r.rank) for r in rows} == want


def test_clusteredness_probe_deterministic_across_layouts(spark, sf_dir):
    """The probe must be a pure function of corpus CONTENT: hash-ordered
    sample + dim-ascending scoring — identical statistic under any
    partitioning."""
    e = load_table(spark, sf_dir, "embeddings")
    a = sim.clusteredness_probe(e)
    b = sim.clusteredness_probe(e.repartition(23))
    assert a == b


def test_kmeans_centroids_bit_stable_across_partitionings(spark, sf_dir):
    """VERDICT r11 ask #2: the fixed-point integer-grid update makes
    centroids BIT-identical under any partitioning/batch split — the
    property a float avg cannot give (partial-sum merge order). Checked
    across three very different physical layouts."""
    e = load_table(spark, sf_dir, "embeddings")
    outs = [
        {
            r.centroid_id: r.centroid
            for r in sim.kmeans_centroids(d, k=8).collect()
        }
        for d in (e, e.repartition(1), e.repartition(17, "vec_id"))
    ]
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) > 0


def test_kmeans_centroids_agrees_with_fold_reference(spark, sf_dir):
    """The Arrow fixed-point form must stay semantically the same
    clustering as the retained declarative fold reference: identical
    surviving cluster ids and near-identical centroid directions (the
    2^-30 grid + float-avg low bits are the only divergence)."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").limit(500)
    fast = {
        r.centroid_id: np.array(r.centroid)
        for r in sim.kmeans_centroids(e, k=8).collect()
    }
    ref = {
        r.centroid_id: np.array(r.centroid)
        for r in refs.kmeans_centroids_fold(e, k=8, iters=2).collect()
    }
    assert sorted(fast) == sorted(ref)
    for cid in fast:
        a, b = fast[cid], ref[cid]
        cos = float(a @ b / np.sqrt((a @ a) * (b @ b)))
        assert cos > 1 - 1e-9, (cid, cos)


def test_quantize_vectors_codes_and_error_bound(spark):
    import math

    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.operators.similarity import (
        quantize_vectors,
    )

    d = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, [0.0, 0.0, 0.0]),
            (3, [127.0, -127.0, 63.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r.vec_id: r
        for r in quantize_vectors(d, "embedding", "vec_id").collect()
    }
    for r in rows.values():
        assert all(-127 <= q <= 127 for q in r.qvec)
    # zero vector → scale 0, all-zero codes, zero error
    assert rows[2].scale == 0.0 and rows[2].qvec == [0, 0, 0]
    assert rows[2].max_abs_err == 0.0
    # reconstruction error bounded by scale/2 (+ float slack)
    for vid in (1, 3):
        r = rows[vid]
        assert r.max_abs_err <= r.scale / 2 + 1e-12
    # exact check: scale = 2/127 for vec 1, codes floor(v/scale + .5)
    s = 2.0 / 127.0
    assert math.isclose(rows[1].scale, s)
    assert rows[1].qvec == [
        math.floor(1.0 / s + 0.5),
        math.floor(-2.0 / s + 0.5),
        math.floor(0.5 / s + 0.5),
    ]


def test_knn_classify_separable_clusters(spark, tmp_path):
    """Two orthogonal label clusters classify perfectly; output is one
    row per query with a 0/1 hit flag."""
    from core_telecoms_etl_spark.queries.vector import knn_classify

    rows = []
    for i in range(40):
        base = [0.0] * 4
        # label by parity: even ids cluster on axis 0, odd on axis 1
        base[0 if i % 2 == 0 else 1] = 1.0 + (i % 5) * 0.01
        rows.append((i, [float(x) for x in base], i % 2))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    d = tmp_path / "emb"
    df.write.parquet(str(d / "embeddings.parquet"))
    out = knn_classify(spark, str(d)).collect()
    assert len(out) == 2  # vec_id 0 and 20
    assert all(r.correct == 1 for r in out)
    assert all(r.pred_label == r.true_label for r in out)


def test_knn_classify_ivf_flags_on_separable_clusters(spark, tmp_path):
    """On well-separated orthogonal clusters the IVF candidates contain
    the exact top-10 (recall 1.0) and the IVF vote equals the exact
    vote for every query — both flags must come back 1, and the
    majority-vote helper must agree with the exact classifier."""
    from core_telecoms_etl_spark.operators import similarity as sim
    from core_telecoms_etl_spark.queries.vector import (
        _majority_vote,
        knn_classify_ivf,
    )
    from pyspark.sql import functions as F

    rows = []
    for i in range(60):
        base = [0.0] * 4
        base[0 if i % 2 == 0 else 1] = 1.0 + (i % 7) * 0.01
        rows.append((i, [float(x) for x in base], i % 2))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    d = tmp_path / "emb"
    df.write.parquet(str(d / "embeddings.parquet"))
    out = knn_classify_ivf(spark, str(d)).collect()
    assert [r.query_id for r in out] == [0, 20, 40]
    assert all(r.recall_ok == 1 for r in out)
    assert all(r.vote_agree_ok == 1 for r in out)
    assert all(r.n_exact == 10 for r in out)
    # the vote itself: IVF candidates classify each query to its cluster
    q = df.filter(F.col("vec_id") % 20 == 0)
    c = df.filter(F.col("vec_id") % 20 != 0)
    topk = sim.ivf_topk(c, q, k=10, n_centroids=4, n_probe=4)
    labels = c.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlab")
    )
    votes = {r.query_id: r.pred for r in _majority_vote(topk, labels).collect()}
    assert votes == {0: 0, 20: 0, 40: 0}


def test_rounded_arrow_bit_identical(spark, sf_dir):
    """`brute_force_topk_arrow_rounded6` must return the EXACT rows of
    the inline rounded-fold form (queries/vector.py discipline:
    cosine = round(dot,6)/sqrt(round(n2q,6)*round(n2c,6))) — same
    (query_id, neighbor_id, rank) and bit-identical cosine doubles.
    This is the pin that lets knn_classify's exact arm run on the
    Arrow scorer (VERDICT r9 ask #2)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    fold = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in refs.brute_force_topk_rounded6_fold(e, q, k=10).collect()
    }
    arrow = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in sim.brute_force_topk_arrow_rounded6(e, q, k=10).collect()
    }
    assert set(fold) == set(arrow)
    for key, c in fold.items():
        assert arrow[key] == c, (key, arrow[key], c)  # bit equality


def test_rounded_arrow_empty_queries(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 0)
    assert sim.brute_force_topk_arrow_rounded6(e, q, k=5).count() == 0


def test_q_chunked_selection_bit_identical(spark, sf_dir):
    """Q-chunking probe (VERDICT r10 ask #7): with `q_chunk` forced
    below the query count (3 < Q = 8, spanning an uneven final chunk)
    both Arrow scorers must return EXACTLY the default-chunk rows —
    same keys and bit-identical cosines. Selection is per-query, so
    chunking the BLAS matrix may only change shape-dependent rounding,
    which the interval keep rule absorbs; the emitted values come from
    the exact dim-ascending rescore either way."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    for fn in (sim.brute_force_topk, sim.brute_force_topk_arrow_rounded6):
        wide = {
            (r.query_id, r.neighbor_id, r.rank): r.cosine
            for r in fn(e, q, k=10).collect()
        }
        chunked = {
            (r.query_id, r.neighbor_id, r.rank): r.cosine
            for r in fn(e, q, k=10, q_chunk=3).collect()
        }
        assert wide == chunked, fn.__name__


def test_knn_classify_arrow_matches_fold(spark, sf_dir):
    """End-to-end: the Arrow-scorer knn_classify equals the pre-r10
    inline-fold form row for row (same query set, labels, hits)."""
    from core_telecoms_etl_spark.queries.vector import knn_classify

    new = [tuple(r) for r in knn_classify(spark, sf_dir).collect()]
    old = [tuple(r) for r in refs.knn_classify_fold(spark, sf_dir).collect()]
    assert new == old


def _nan_frame(spark):
    """30 finite vectors plus two NaN-component ones (ids 98, 99)."""
    nan = float("nan")
    rows = [(i, [1.0 + 0.01 * i, 0.5, 0.0]) for i in range(30)]
    rows.append((98, [nan, 1.0, 0.0]))  # NaN component -> NaN cosine
    rows.append((99, [nan, 1.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _rows_nan_as_str(df, order):
    return [
        tuple("nan" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in df.orderBy(*order).collect()
    ]


_TOPK_NAN_ROWS = [(0, 98, "nan", 1), (0, 99, "nan", 2)]


@pytest.mark.parametrize(
    "arrow, fold, order, nan_rows",
    [
        pytest.param(
            lambda d, q: sim.brute_force_topk(d, q, k=5),
            lambda d, q: refs.brute_force_topk_fold(d, q, k=5),
            ["query_id", "rank"],
            _TOPK_NAN_ROWS,
            id="brute_force_topk",
        ),
        pytest.param(
            lambda d, q: sim.brute_force_topk_arrow_rounded6(d, q, k=5),
            lambda d, q: refs.brute_force_topk_rounded6_fold(d, q, k=5),
            ["query_id", "rank"],
            _TOPK_NAN_ROWS,
            id="brute_force_topk_arrow_rounded6",
        ),
        pytest.param(
            lambda d, q: sim.cosine_pairs_arrow_rounded6(d),
            lambda d, q: refs.cosine_pairs_fold(d),
            ["id_a", "id_b"],
            sorted(
                [(i, n, "nan") for i in range(30) for n in (98, 99)]
                + [(98, 99, "nan")]
            ),
            id="cosine_pairs_arrow_rounded6",
        ),
    ],
)
def test_arrow_topk_nan_cosine_matches_fold(spark, arrow, fold, order, nan_rows):
    """NaN-component vectors produce NaN cosines, which Spark's window
    orders FIRST under DESC and which pass a `>= threshold` filter
    (NaN is greatest). The Arrow scorers must keep them with a true NaN
    cosine (ADVICE r9: a bare -cosine sort key dropped them, diverging
    from the fold path and making results batch-partitioning-dependent)
    — row for row equal to the fold form, finite cosines bit-equal."""
    df = _nan_frame(spark)
    q = df.filter("vec_id = 0")
    got = _rows_nan_as_str(arrow(df, q), order)
    assert got == _rows_nan_as_str(fold(df, q), order)
    assert [r for r in got if "nan" in r] == nan_rows


def test_ivf_lsh_arrow_nan_vectors_match_fold(spark):
    """NaN-component corpus vectors through the r11 single-pass paths:
    IVF assignment treats a NaN sim as greatest with the min-centroid
    tie-break (the fold window's NaN-DESC order), LSH sketches a
    NaN projection to bit 0 (NaN > 0 is false on both sides), and both
    keep NaN cosines first in the final order — row-for-row equal to
    the fold forms on the same frame."""
    df = _nan_frame(spark)
    q = df.filter("vec_id = 0")
    for arrow_fn, fold_fn, kw in (
        (sim.ivf_topk, refs.ivf_topk_fold,
         dict(n_centroids=4, n_probe=4)),
        (sim.lsh_topk, refs.lsh_topk_fold,
         dict(n_bits=16, max_hamming=16, n_tables=2)),
    ):
        fold = [
            (r.query_id, r.neighbor_id, r.rank)
            for r in fold_fn(df, q, k=5, **kw).orderBy("rank").collect()
        ]
        arrow = [
            (r.query_id, r.neighbor_id, r.rank)
            for r in arrow_fn(df, q, k=5, **kw).orderBy("rank").collect()
        ]
        assert arrow == fold, arrow_fn.__name__
        assert fold[0][1] == 98 and fold[1][1] == 99, fold
        nan_cos = (
            arrow_fn(df, q, k=5, **kw)
            .filter("neighbor_id = 98")
            .collect()[0]
            .cosine
        )
        assert math.isnan(nan_cos), arrow_fn.__name__


def test_ivf_lsh_arrow_zero_norm_corpus_raises(spark):
    """Zero-norm corpus vectors raise loudly on the r11 single-pass
    paths (the IVF assignment divides for every row; the LSH path
    raises when the row becomes a candidate — max_hamming=16 makes
    every pair a candidate here)."""
    import pytest

    rows = [(i, [1.0 + 0.01 * i, 0.5, 0.0]) for i in range(20)]
    rows.append((99, [0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    with pytest.raises(Exception, match="zero-norm"):
        sim.ivf_topk(df, q, k=5, n_centroids=4, n_probe=4).count()
    with pytest.raises(Exception, match="zero-norm"):
        sim.lsh_topk(
            df, q, k=5, n_bits=16, max_hamming=16, n_tables=1
        ).count()


@pytest.mark.parametrize(
    "score, corpus_raises, call_match",
    [
        pytest.param(
            lambda c, q: sim.brute_force_topk(c, q, k=5),
            True, "zero-norm query", id="brute_force_topk",
        ),
        pytest.param(
            lambda c, q: sim.brute_force_topk_arrow_rounded6(c, q, k=5),
            True, "zero-norm query", id="brute_force_topk_arrow_rounded6",
        ),
        # zero-norm corpus rows on IVF/LSH:
        # test_ivf_lsh_arrow_zero_norm_corpus_raises
        pytest.param(
            lambda c, q: sim.ivf_topk(c, q, k=5, n_centroids=4, n_probe=4),
            False, "zero-norm query", id="ivf_topk",
        ),
        pytest.param(
            lambda c, q: sim.lsh_topk(c, q, k=5, n_bits=16, max_hamming=16),
            False, "zero-norm query", id="lsh_topk",
        ),
        # all-pairs has no query side: any zero-norm row fails the
        # call-time collect
        pytest.param(
            lambda c, q: sim.cosine_pairs_arrow_rounded6(c),
            False, "zero-norm vector", id="cosine_pairs_arrow_rounded6",
        ),
    ],
)
def test_arrow_topk_zero_norm_raises(spark, score, corpus_raises, call_match):
    """Zero-norm vectors make cosine undefined; the ANSI fold path
    raises DIVIDE_BY_ZERO, so the Arrow scorers raise the same loud
    failure (documented contract) instead of silently emitting NaNs:
    zero-norm corpus rows when scored, zero-norm queries at call time
    (driver-side collect)."""
    rows = [(i, [1.0 + 0.01 * i, 0.5, 0.0]) for i in range(20)]
    rows.append((99, [0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    if corpus_raises:
        with pytest.raises(Exception, match="zero-norm"):
            score(df, df.filter("vec_id = 0")).collect()
    with pytest.raises(ValueError, match=call_match):
        score(df, df.filter("vec_id = 99"))


def test_cosine_pairs_arrow_bit_identical(spark, sf_dir):
    """The Arrow all-pairs scorer must return the EXACT rows of the
    declarative join form — same (id_a, id_b) set and bit-identical
    rounded cosines (the r10 sf1 sweep measured the fold form at 719s
    for 8k vectors; the swap is only legal at exact equality)."""
    from core_telecoms_etl_spark.queries.vector import (
        _load_conformant,
        cosine_pairs,
    )

    fold = {
        (r.id_a, r.id_b): r.cosine
        for r in refs.cosine_pairs_fold(
            _load_conformant(spark, sf_dir), threshold=0.3
        ).collect()
    }
    arrow = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs(spark, sf_dir).collect()
    }
    assert len(fold) > 0  # non-vacuous at sf0.001
    assert set(fold) == set(arrow)
    for key, c in fold.items():
        assert arrow[key] == c, (key, arrow[key], c)  # bit equality


def test_vector_topk_arrow_matches_fold(spark, sf_dir):
    """vector_topk on the Arrow scorer equals the pre-r10 inline fold
    form row for row, bit-identical cosines included."""
    from core_telecoms_etl_spark.queries.vector import vector_topk

    new = sorted(tuple(r) for r in vector_topk(spark, sf_dir).collect())
    old = sorted(
        tuple(r) for r in refs.vector_topk_fold(spark, sf_dir).collect()
    )
    assert new == old and len(new) > 0


@pytest.mark.parametrize(
    "score, match",
    [
        pytest.param(
            lambda v, m: sim.brute_force_topk(v, v, k=2, max_collect_rows=m),
            "ivf_topk", id="brute_force_topk",
        ),
        pytest.param(
            lambda v, m: sim.brute_force_topk_arrow_rounded6(
                v, v, k=2, max_collect_rows=m
            ),
            "ivf_topk", id="brute_force_topk_arrow_rounded6",
        ),
        pytest.param(
            lambda v, m: sim.cosine_pairs_arrow_rounded6(v, max_collect_rows=m),
            "cluster_assign_topn", id="cosine_pairs_arrow_rounded6",
        ),
        pytest.param(
            lambda v, m: sim.ivf_topk(
                v, v, k=2, n_centroids=2, n_probe=2, max_collect_rows=m
            ),
            "ivf_topk", id="ivf_topk",
        ),
        pytest.param(
            lambda v, m: sim.lsh_topk(
                v, v, k=2, max_hamming=16, max_collect_rows=m
            ),
            "lsh_topk", id="lsh_topk",
        ),
    ],
)
def test_eager_collect_bound_enforced(spark, score, match):
    """VERDICT r10 ask #5: the eager-collect contract is a contract —
    past max_collect_rows each Arrow scorer RAISES naming itself or its
    escalation path instead of collecting toward a driver OOM (and the
    limit+1 trick means the failing path itself never materializes
    more than max_collect_rows+1 rows)."""
    vecs = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") + 1).cast("float"), F.lit(1.0).cast("float")
        ).alias("embedding"),
    )
    with pytest.raises(ValueError, match=match):
        score(vecs, 4)
    # within the bound: unchanged behavior
    assert score(vecs, 8).count() > 0


def test_conformant_vectors_drops_the_three_poison_modes(spark):
    """The r15 NULL-corpus contract: NULL vector, empty vector, and
    NULL-component vector all fall out of the similarity relation (no
    cosine exists for any of them); intact vectors survive. JVM-side
    predicates only — no Python in the filter."""
    from core_telecoms_etl_spark.operators.similarity import (
        conformant_vectors,
    )

    rows = [
        (1, [1.0, 2.0]),
        (2, None),
        (3, []),
        (4, [None, 2.0]),
        (5, [0.5, None]),
        (6, [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r.vec_id for r in conformant_vectors(df).select("vec_id").collect()
    )
    assert kept == [1, 6]
