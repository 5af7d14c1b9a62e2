"""Declarative fold references for the Arrow vector scorers (test-only).

Each function builds the same result as a production scorer in
`operators/similarity.py` or `queries/vector.py`, but through the
interpreted higher-order fold (`dot_expr`/`norm2_expr`) in a broadcast
join and a row_number window. The equality tests in test_similarity.py
pin the Arrow kernel to these forms bit for bit. They are correct at
test scale and interpreter-bound at corpus scale, which is why
production no longer runs them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators.similarity import (
    _centroids,
    cosine_from_norms,
    dot_expr,
    kmeans_centroids,
    norm2_expr,
)
from core_telecoms_etl_spark.queries.vector import N_QUERY_VECS, _load_conformant


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk_fold(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Reference for `brute_force_topk`: broadcast(queries) × corpus →
    fold cosine → window top-k. Returns (query_id, neighbor_id, cosine,
    rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm2_expr(vec_col).alias("q_n2"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm2_expr(vec_col).alias("c_n2"),
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "cosine",
        cosine_from_norms(
            dot_expr("q_vec", "c_vec"), F.col("q_n2"), F.col("c_n2")
        ),
    )
    return _rank_topk(scored, k)


def rounded_n2(vec: str) -> Column:
    return F.round(norm2_expr(vec), 6)


def rounded_cosine_from_norms(a: str, b: str, n2_a: str, n2_b: str) -> Column:
    """round(dot, 6) / sqrt(n²a · n²b) on once-per-row rounded norms —
    the queries/vector.py cosine discipline."""
    return F.round(dot_expr(a, b), 6) / F.sqrt(F.col(n2_a) * F.col(n2_b))


def brute_force_topk_rounded6_fold(
    corpus: DataFrame, queries: DataFrame, *, k: int = 10
) -> DataFrame:
    """Reference for `brute_force_topk_arrow_rounded6` (vec_id /
    embedding columns)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        rounded_n2("embedding").alias("q_n2"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        rounded_n2("embedding").alias("c_n2"),
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "cosine", rounded_cosine_from_norms("q_vec", "c_vec", "q_n2", "c_n2")
    )
    return _rank_topk(scored, k)


def cosine_pairs_fold(df: DataFrame, *, threshold: float = 0.3) -> DataFrame:
    """Reference for `cosine_pairs_arrow_rounded6`: a self-join on
    id_a < id_b, rounded-fold cosine, threshold filter, 6dp output."""
    a = df.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("v_a"),
        rounded_n2("embedding").alias("n2_a"),
    )
    b = df.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("v_b"),
        rounded_n2("embedding").alias("n2_b"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_raw", rounded_cosine_from_norms("v_a", "v_b", "n2_a", "n2_b")
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
    )


def vector_topk_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference for the `vector_topk` query."""
    e = _load_conformant(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return brute_force_topk_rounded6_fold(e, q, k=10).select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def knn_classify_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference for the `knn_classify` query: rounded-fold top-10
    neighbors, then the majority vote (ties to the smallest label)."""
    e = _load_conformant(spark, sf_dir)
    q = e.filter(
        (F.col("vec_id") % 20 == 0) & F.col("label").isNotNull()
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlab"),
        rounded_n2("embedding").alias("qn2"),
    )
    c = e.filter(F.col("vec_id") % 20 != 0).select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("cv"),
        F.col("label").alias("nlab"),
        rounded_n2("embedding").alias("cn2"),
    )
    scored = c.join(F.broadcast(q)).select(
        "qid",
        "qlab",
        "nid",
        "nlab",
        rounded_cosine_from_norms("qv", "cv", "qn2", "cn2").alias("cos"),
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cos"), "nid")
    topk = (
        scored.withColumn("r", F.row_number().over(wk))
        .filter(F.col("r") <= 10)
        .select("qid", "qlab", "nlab")
    )
    votes = (
        topk.filter(F.col("nlab").isNotNull())
        .groupBy("qid", "qlab", "nlab")
        .agg(F.count("*").alias("cnt"))
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("cnt"), "nlab")
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlab").cast("long").alias("true_label"),
            F.col("nlab").cast("long").alias("pred_label"),
            (F.col("nlab") == F.col("qlab")).cast("long").alias("correct"),
        )
        .orderBy("query_id")
    )


def ivf_assign(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Assign each vector to its nearest centroid (max cosine, id
    tie-break). Returns (assignments(id, vec, centroid_id), centroids);
    `centroids` overrides the lowest-id quantizer."""
    cents = (
        centroids
        if centroids is not None
        else _centroids(df, id_col, vec_col, n_centroids)
    )
    cents_n = cents.withColumn("cent_n2", norm2_expr("centroid"))
    scored = df.select(
        F.col(id_col), F.col(vec_col), norm2_expr(vec_col).alias("v_n2")
    ).join(F.broadcast(cents_n)).withColumn(
        "sim",
        cosine_from_norms(
            dot_expr(vec_col, "centroid"), F.col("v_n2"), F.col("cent_n2")
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, "centroid_id")
    )
    return assign, cents


def ivf_topk_fold(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans: bool = False,
) -> DataFrame:
    """Reference for `ivf_topk`: fold-join assignment, a per-query probe
    window over the centroids, then the probed buckets joined against
    the broadcast probes and fold-scored. The quantizer is the lowest-id
    vectors, or with `kmeans` the engine's `kmeans_centroids`."""
    cents_in = (
        kmeans_centroids(
            corpus, id_col=id_col, vec_col=vec_col, k=n_centroids
        )
        if kmeans
        else None
    )
    assign, cents = ivf_assign(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids,
        centroids=cents_in,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm2_expr(vec_col).alias("q_n2"),
    )
    qc = q.join(
        F.broadcast(cents.withColumn("cent_n2", norm2_expr("centroid")))
    ).withColumn(
        "sim",
        cosine_from_norms(
            dot_expr("q_vec", "centroid"), F.col("q_n2"), F.col("cent_n2")
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "q_n2", "centroid_id")
    )
    cand = assign.withColumn("c_n2", norm2_expr(vec_col)).join(
        F.broadcast(probes), "centroid_id"
    ).filter(F.col(id_col) != F.col("query_id"))
    scored = cand.withColumn(
        "cosine",
        cosine_from_norms(
            dot_expr("q_vec", vec_col), F.col("q_n2"), F.col("c_n2")
        ),
    ).select("query_id", F.col(id_col).alias("neighbor_id"), "cosine")
    return _rank_topk(scored, k)


def sketch_expr(vec_col: str, n_bits: int, seed: int) -> Column:
    """Sign-bit LSH sketch expression: bit_i = sign(v · h_i) for
    pseudo-random hyperplanes derived from xxhash64(dim, bit, seed)."""
    dim_idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)

    def bit(i: int) -> Column:
        # h_i[d] in {-1,+1} from the hash parity of (d, i, seed)
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                dim_idx,
                lambda x, d: x.cast("double")
                * F.when(
                    F.xxhash64(d, F.lit(i), F.lit(seed)).bitwiseAND(1) == 1, 1.0
                ).otherwise(-1.0),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )

    sketch = bit(0)
    for i in range(1, n_bits):
        sketch = sketch + bit(i)
    return sketch


def lsh_topk_fold(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_bits: int = 16,
    max_hamming: int = 6,
    n_tables: int = 1,
) -> DataFrame:
    """Reference for `lsh_topk`: per-table sketches (seeds 42, 43, ...),
    the Hamming filter OR-reduced over tables inside an n×Q broadcast
    nested-loop join, then fold scoring."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm2_expr(vec_col).alias("c_n2"),
        *[
            sketch_expr(vec_col, n_bits, 42 + t).alias(f"c_sketch_{t}")
            for t in range(n_tables)
        ],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm2_expr(vec_col).alias("q_n2"),
        *[
            sketch_expr(vec_col, n_bits, 42 + t).alias(f"q_sketch_{t}")
            for t in range(n_tables)
        ],
    )
    any_table_close = None
    for t in range(n_tables):
        close = (
            F.bit_count(
                F.col(f"c_sketch_{t}").bitwiseXOR(F.col(f"q_sketch_{t}"))
            )
            <= max_hamming
        )
        any_table_close = (
            close if any_table_close is None else (any_table_close | close)
        )
    cand = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).filter(any_table_close)
    scored = cand.withColumn(
        "cosine",
        cosine_from_norms(
            dot_expr("q_vec", "c_vec"), F.col("q_n2"), F.col("c_n2")
        ),
    )
    return _rank_topk(scored, k)


def kmeans_centroids_fold(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Semantic reference for `kmeans_centroids`: broadcast-assign fold
    join + row_number window + per-dim float avg. Deterministic for a
    FIXED partitioning but order-SENSITIVE in its float avg, which is
    why the fixed-point Arrow form replaced it."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        return _centroids(df, id_col, vec_col, k)
    dim = row.d
    cents = _centroids(df, id_col, vec_col, k)
    for _ in range(iters):
        assigned, _ = ivf_assign(
            df, id_col=id_col, vec_col=vec_col, centroids=cents
        )
        cents = assigned.groupBy("centroid_id").agg(
            F.array(
                *[
                    F.avg(F.element_at(F.col(vec_col), i + 1))
                    for i in range(dim)
                ]
            ).alias("centroid")
        )
    return cents
