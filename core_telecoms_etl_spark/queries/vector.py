"""Vector-similarity queries on the `embeddings` table (SURVEY.md §2.13
X3 + north-star ANN). Brute-force cosine is the oracle-checked baseline;
IVF and sign-bit LSH are the approximate scale paths (rows-only checks,
recall-tested against brute force in pytest).

Float determinism: cosine = dot/sqrt(n²a·n²b) where dot and the norms are
rounded at 1e-6 BEFORE the division, so both engines divide bit-identical
doubles; ranks order by the resulting cosine with an id tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators import similarity as sim
from core_telecoms_etl_spark.queries import query
from core_telecoms_etl_spark.sources.readers import load_table

N_QUERY_VECS = 8

# DuckDB mirror of sim.conformant_vectors: non-NULL, non-empty, no NULL
# components (the r15 NULL-corpus contract — every similarity oracle
# scopes to the same conformant relation its Spark query scores)
_VOK = (
    "embedding IS NOT NULL AND len(embedding) > 0 "
    "AND len(list_filter(embedding, "
    "x -> x IS NULL OR NOT isfinite(x))) = 0"
)
_EMB_OK = f"(SELECT * FROM embeddings WHERE {_VOK})"


def _load_conformant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings relation every similarity query scores: the raw
    table through `sim.conformant_vectors` (NULL / empty / NULL-element
    vectors have no cosine; the per-row readouts embedding_norms /
    vector_quantize instead keep all rows and pin the NULL contracts)."""
    return sim.conformant_vectors(load_table(spark, sf_dir, "embeddings"))

_DDOT = (
    "round(list_dot_product(CAST(a.embedding AS DOUBLE[]),"
    " CAST(b.embedding AS DOUBLE[])), 6)"
)
_DN = lambda t: (  # noqa: E731
    f"round(list_dot_product(CAST({t}.embedding AS DOUBLE[]),"
    f" CAST({t}.embedding AS DOUBLE[])), 6)"
)


@query(
    "embedding_norms",
    oracle="""SELECT vec_id, label,
                     CAST(len(embedding) AS BIGINT) AS n_dims,
                     CASE WHEN embedding IS NULL THEN NULL
                          ELSE sqrt(round(list_reduce(
                            list_prepend(0.0,
                              list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> x * x)),
                            (a, b) -> a + b), 6))
                     END AS l2_norm
              FROM embeddings""",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norms — the array-fold building block of every
    similarity op, verified exactly. Deliberately UNFILTERED: this is
    the query that pins the per-row NULL contract (NULL vector -> NULL
    norm, empty vector -> 0.0, NULL component -> NULL), so the oracle
    mirrors Spark's aggregate fold with list_reduce(list_prepend(0.0,
    squares)) — DuckDB's list_aggregate 'sum' SKIPS NULL components
    and returns NULL on empty lists, both opposite to the fold, and
    list_dot_product outright raises on NULL components; the explicit
    NULL-list CASE is needed because list_prepend(0.0, NULL) is [0.0]
    in DuckDB, not NULL (r15 NULL-corpus findings)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("n_dims"),
        F.sqrt(F.round(sim.norm2_expr("embedding"), 6)).alias("l2_norm"),
    )


@query(
    "vector_topk",
    oracle=f"""WITH q AS (SELECT * FROM embeddings
                          WHERE vec_id < {N_QUERY_VECS} AND {_VOK}),
               scored AS (
                 SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                        {_DDOT} / sqrt({_DN('a')} * {_DN('b')}) AS cosine
                 FROM q a JOIN {_EMB_OK} b ON b.vec_id <> a.vec_id),
               ranked AS (
                 SELECT query_id, neighbor_id, cosine,
                        CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
                 FROM scored)
               SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
               FROM ranked WHERE rank <= 10""",
)
def vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — exact brute-force cosine top-10 for a broadcast query set.
    Since r10 the scoring runs through the Arrow rounded-variant scorer
    (`brute_force_topk_arrow_rounded6` — the inline fold join measured
    13× for 4× more vectors in the sf1 bench); the final 6dp display
    rounding stays a JVM projection, so output is bit-identical to the
    pre-r10 fold form (equality pytest against tests/fold_refs.py)."""
    e = _load_conformant(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    topk = sim.brute_force_topk_arrow_rounded6(
        e, q, id_col="vec_id", vec_col="embedding", k=10
    )
    return topk.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


@query(
    "cosine_pairs",
    oracle=f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      round({_DDOT} / sqrt({_DN('a')} * {_DN('b')}), 6) AS cosine
               FROM {_EMB_OK} a JOIN {_EMB_OK} b ON a.vec_id < b.vec_id
               WHERE {_DDOT} / sqrt({_DN('a')} * {_DN('b')}) >= 0.3""",
)
def cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection: all pairs with cosine ≥ 0.3 (exact
    baseline; LSH/IVF below are the 100 TB paths). Since r10 the O(n²)
    scoring runs through the Arrow all-pairs scorer — the fold form
    measured 719 s at sf1 (8k vectors = 32M interpreted folds); output
    is bit-identical (equality pytest against tests/fold_refs.py)."""
    e = _load_conformant(spark, sf_dir)
    return sim.cosine_pairs_arrow_rounded6(
        e, id_col="vec_id", vec_col="embedding", threshold=0.3
    )


def _recall_vs_exact(
    exact: DataFrame, approx: DataFrame, floor: float
) -> DataFrame:
    """(query_id, n_exact, recall_ok): per-query SCORE recall of
    `approx` against the in-plan exact top-k, flagged against `floor`.
    A retrieved candidate counts as a hit iff its cosine reaches the
    exact set's kth-best cosine — the standard ANN score-recall, and
    the tie-ROBUST form of membership recall: under duplicated corpus
    vectors the exact top-k's membership is tie-broken arbitrarily
    (the 8×-replica differential makes every vector an 8-clique and
    flipped 40/800 membership flags, r8+r14), while the score
    threshold is invariant to which tied copy either arm picked. Safe
    because both arms' scorers emit BIT-IDENTICAL cosines for the same
    pair (same accumulation order over the 64 dims — measured), so
    `>=` at the threshold is exact, not epsilon-fuzzy. The flag is
    deterministic (both plans are hash-seeded, no RNG), which converts
    an approximate operator into a driver-checkable projection: the
    oracle asserts every query clears the floor."""
    kth = exact.groupBy("query_id").agg(
        F.count("*").alias("n_exact"),
        F.min("cosine").alias("__kth"),
    )
    hits = (
        approx.join(
            kth.select("query_id", "__kth"), "query_id"
        )
        .filter(F.col("cosine") >= F.col("__kth"))
        .groupBy("query_id")
        .agg(F.count("*").alias("__n_hit"))
    )
    return kth.join(hits, "query_id", "left").select(
        "query_id",
        F.col("n_exact").cast("long").alias("n_exact"),
        (
            F.coalesce(F.col("__n_hit"), F.lit(0)) / F.col("n_exact")
            >= floor
        )
        .cast("long")
        .alias("recall_ok"),
    )


_RECALL_ORACLE = f"""SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_exact,
                            CAST(1 AS BIGINT) AS recall_ok
                     FROM embeddings
                     WHERE vec_id < {N_QUERY_VECS} AND {_VOK}"""


@query("vector_topk_ivf", oracle=_RECALL_ORACLE)
def vector_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path — IVF: bucket the corpus by nearest coarse centroid
    (kmeans-refined quantizer, 2 deterministic Lloyd iterations), probe
    6/16 buckets per query. Emits the per-query recall@10 flag vs the
    in-plan exact top-k (floor 0.8; measured 0.9–1.0 on testdata) so the
    approximate path earns a deterministic oracle row; raw neighbor
    output + recall floors stay pytest-covered via sim.ivf_topk."""
    e = _load_conformant(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    approx = sim.ivf_topk(
        e, q, k=10, n_centroids=16, n_probe=6
    )
    exact = sim.brute_force_topk(e, q, k=10)
    return _recall_vs_exact(exact, approx, floor=0.8)


_AUTO_ROUTE_ORACLE = f"""SELECT vec_id AS query_id,
                                CAST(10 AS BIGINT) AS n_exact,
                                CAST(1 AS BIGINT) AS recall_ok,
                                'exact' AS route
                         FROM embeddings
                         WHERE vec_id < {N_QUERY_VECS} AND {_VOK}"""


@query("auto_topk_route", oracle=_AUTO_ROUTE_ORACLE)
def auto_topk_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 router (VERDICT r11 ask #4) — `sim.auto_topk` measures the
    corpus's nearest-neighbor cosine concentration on a deterministic
    sample and picks the scorer ITSELF: clustered → IVF (r11 matrix:
    recall 1.000 at ~half exact cost), near-uniform → exact (IVF
    recall collapses to ~0.5 there). The testdata embeddings are unit
    gaussians — the near-uniform regime — so the PINNED oracle row is
    route='exact' with full recall vs the in-plan exact top-k; a wrong
    routing decision flips the route column and reds the row. The
    clustered branch (route='ivf') plus the raw probe statistic are
    pinned by pytest on a synthesized clustered corpus."""
    from core_telecoms_etl_spark.queries import cache_scoped

    e = _load_conformant(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    routed, exact = sim.auto_topk(e, q, k=10)
    routed = cache_scoped("vector.auto_route", routed)
    rec = _recall_vs_exact(exact, routed, floor=0.8)
    # the route literal is constant across rows; a 1-row broadcast
    # cross join attaches it without a per-row shuffle
    return rec.join(
        F.broadcast(routed.select("route").distinct())
    ).select("query_id", "n_exact", "recall_ok", "route")


@query("vector_topk_lsh", oracle=_RECALL_ORACLE)
def vector_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path — multi-table sign-bit LSH (4 independent 16-bit
    sketch tables, candidate if any table's Hamming ≤ 6) before exact
    scoring of survivors. Per-query recall@10 flag vs in-plan exact
    top-k (floor 0.8; measured 0.9–1.0 on testdata — single-table recall
    bottoms at 0.3 on these near-uniform synthetic embeddings, the
    L-table union is what buys the margin)."""
    e = _load_conformant(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    approx = sim.lsh_topk(
        e, q, k=10, n_bits=16, max_hamming=6, n_tables=4
    )
    exact = sim.brute_force_topk(e, q, k=10)
    return _recall_vs_exact(exact, approx, floor=0.8)


_SEMDEDUP_TH = 0.4

_SEMDEDUP_ORACLE = f"""SELECT (SELECT count(*) FROM embeddings
                               WHERE {_VOK}) AS n_vectors,
                              count(*) AS n_global_pairs,
                              CAST(1 AS BIGINT) AS coverage_ok
                       FROM (
                         SELECT {_DDOT} / sqrt({_DN('a')} * {_DN('b')}) AS c
                         FROM {_EMB_OK} a JOIN {_EMB_OK} b
                           ON a.vec_id < b.vec_id)
                       WHERE c >= {_SEMDEDUP_TH}"""


@query("semantic_dedup", oracle=_SEMDEDUP_ORACLE)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup blocking audit — the deterministic projection for the
    embedding-cluster dedup step (drop all but one of each
    within-cluster duplicate component): counts the exact global
    cosine-pair relation at the dedup threshold and flags
    that the cluster blocking (kmeans k=16, top-4 multi-assignment)
    covers ≥ 80% of it. Synthetic near-uniform embeddings are the
    blocking worst case — measured coverage 0.95–1.0 across
    sf0.001/0.01/0.1 at top-4 (top-2, the clustered-corpus default,
    bottoms at 0.60 on this data); the floor sits under every
    measurement. The kept-rows step itself is not built as an
    operator."""
    e = _load_conformant(spark, sf_dir)
    n_vectors = e.count()
    # exact global pair relation through the Arrow all-pairs scorer
    # (bit-identical to the declarative fold join — r10: the fold form
    # here cost ~64M interpreted folds at sf1 because the two counts
    # below each re-derived it; now one Arrow pass, counted once)
    glob = sim.cosine_pairs_arrow_rounded6(
        e, id_col="vec_id", vec_col="embedding", threshold=_SEMDEDUP_TH
    ).select("id_a", "id_b")
    assign = sim.cluster_assign_topn(e, n_clusters=16, n_assign=4)
    ca = assign.select(F.col("vec_id").alias("id_a"), "centroid_id")
    cb = assign.select(F.col("vec_id").alias("id_b"), "centroid_id")
    cand = (
        ca.join(cb, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # single pass over glob: total pairs + covered pairs in one agg
    # (two separate aggregations would execute the scorer twice)
    flagged = glob.join(
        cand.withColumn("__cov", F.lit(1)), ["id_a", "id_b"], "left"
    )
    counts = flagged.agg(
        F.count("*").alias("n_global_pairs"),
        F.sum(F.coalesce(F.col("__cov"), F.lit(0))).alias("__n_covered"),
    )
    return counts.select(
        F.lit(n_vectors).cast("long").alias("n_vectors"),
        "n_global_pairs",
        # zero global pairs => vacuous coverage (flag 1, no ANSI
        # divide-by-zero on an empty corpus — r8 empty-facts
        # differential)
        F.when(F.col("n_global_pairs") == 0, F.lit(1))
        .otherwise(
            (F.col("__n_covered") / F.col("n_global_pairs") >= 0.8)
            .cast("long")
        )
        .alias("coverage_ok"),
    )


@query(
    "vector_quantize",
    oracle="""WITH t AS (
                SELECT vec_id, label,
                       CAST(embedding AS DOUBLE[]) AS v,
                       list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                               x -> abs(x))) / 127.0
                         AS raw_scale,
                       len(list_filter(CAST(embedding AS DOUBLE[]),
                                       x -> NOT isfinite(x))) > 0
                         AS nonfin
                FROM embeddings),
              t2 AS (
                SELECT vec_id, label, v,
                       CASE WHEN coalesce(nonfin, FALSE) THEN NULL
                            ELSE raw_scale END AS scale,
                       coalesce(nonfin, FALSE) AS nonfin
                FROM t)
              SELECT vec_id, label, scale,
                     CASE WHEN v IS NULL OR nonfin THEN NULL
                          ELSE coalesce(array_to_string(
                            CASE WHEN scale = 0
                                 THEN list_transform(v,
                                   x -> CAST(0 AS BIGINT))
                                 ELSE list_transform(v,
                                   x -> CAST(floor(x / scale + 0.5)
                                             AS BIGINT))
                            END, ','), '')
                     END AS qvec_csv,
                     CASE WHEN nonfin THEN NULL
                          WHEN scale = 0
                          THEN list_max(list_transform(v, x -> abs(x)))
                          ELSE list_max(list_transform(v,
                            x -> abs(x - floor(x / scale + 0.5) * scale)))
                     END AS max_abs_err
              FROM t2""",
)
def vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (operators/similarity.py):
    per-vector scale, integer codes via engine-unambiguous
    floor(x + 0.5) rounding, and the reconstruction error bound. Single
    scan, no shuffle, no Python. The code array is projected to a CSV
    string for the value compare (the harness can't sort list columns);
    the operator itself returns the real array<long>."""
    q = sim.quantize_vectors(
        load_table(spark, sf_dir, "embeddings"), "embedding", "vec_id"
    )
    return q.select(
        "vec_id",
        "label",
        "scale",
        # concat_ws swallows a NULL ARRAY into '' (it skips NULL args),
        # which silently conflates "no vector" with "zero-dim vector" —
        # guard so NULL vector -> NULL csv, empty vector -> '' (the r15
        # NULL-corpus contract; NULL COMPONENTS are skipped by both
        # engines' joiners, also pinned by that sweep)
        F.when(
            F.col("qvec").isNotNull(), F.concat_ws(",", F.col("qvec"))
        ).alias("qvec_csv"),
        "max_abs_err",
    )


@query(
    "knn_classify",
    oracle=f"""WITH q AS (
                 SELECT vec_id AS qid, embedding AS qv, label AS qlab
                 FROM embeddings
                 WHERE vec_id % 20 = 0 AND {_VOK}
                   AND label IS NOT NULL),
               c AS (
                 SELECT vec_id AS nid, embedding AS cv, label AS nlab
                 FROM embeddings
                 WHERE vec_id % 20 <> 0 AND {_VOK}),
               scored AS (
                 SELECT qid, qlab, nid, nlab,
                        round(list_dot_product(CAST(qv AS DOUBLE[]),
                                               CAST(cv AS DOUBLE[])), 6)
                        / sqrt(round(list_dot_product(CAST(qv AS DOUBLE[]),
                                                      CAST(qv AS DOUBLE[])), 6)
                             * round(list_dot_product(CAST(cv AS DOUBLE[]),
                                                      CAST(cv AS DOUBLE[])), 6))
                          AS cos
                 FROM q CROSS JOIN c),
               topk AS (
                 SELECT qid, qlab, nlab FROM (
                   SELECT qid, qlab, nlab,
                          row_number() OVER (PARTITION BY qid
                                             ORDER BY cos DESC, nid) AS r
                   FROM scored) WHERE r <= 10),
               votes AS (
                 SELECT qid, qlab, nlab, count(*) AS cnt
                 FROM topk WHERE nlab IS NOT NULL GROUP BY 1, 2, 3),
               win AS (
                 SELECT qid, qlab, nlab AS pred,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY cnt DESC, nlab) AS vr
                 FROM votes)
               SELECT qid AS query_id,
                      CAST(qlab AS BIGINT) AS true_label,
                      CAST(pred AS BIGINT) AS pred_label,
                      CAST(CASE WHEN pred = qlab THEN 1 ELSE 0 END AS BIGINT)
                        AS correct
               FROM win WHERE vr = 1 ORDER BY qid""",
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — k-NN label prediction readout: every 20th vector becomes a
    query, classified by majority label of its 10 exact-cosine nearest
    corpus neighbors (ties → smallest label) — the standard
    embedding-quality eval a training pipeline runs after each encoder
    change. One row per query: true label, predicted label, 0/1 hit.

    Exactness: cosine uses the repo's rounded-fold discipline (dot and
    norms rounded at 6dp); neighbor and vote ranks carry full
    deterministic tiebreaks (cosine DESC, id) / (count DESC, label);
    labels cast BIGINT both sides.

    Scale: since r10 the exact Q·N scoring runs through the Arrow
    rounded-variant scorer (`brute_force_topk_arrow_rounded6` — the
    last interpreted fold hot path, VERDICT r9 ask #2; all 6dp
    roundings stay JVM-side so the output is bit-identical to the
    inline fold form, pinned by an equality pytest against
    tests/fold_refs.py).
    Per-batch interval-sound partial top-k keeps Python egress at
    ~batches×Q×k rows; swap the scorer for `ivf_topk`/`lsh_topk` at
    corpus scale (same downstream vote).

    NULL contract (r15): the whole readout scopes to conformant
    vectors; graded queries need a true label (qlab NOT NULL — Spark's
    pred == NULL is NULL where DuckDB's CASE falls to 0, so an
    ungraded row can't be represented consistently), and NULL-labeled
    neighbors are found but don't vote (filtered before the count;
    DuckDB's NULL vote-group would win Spark's NULLS-FIRST tie-break
    and lose DuckDB's NULLS-LAST one)."""
    e = _load_conformant(spark, sf_dir)
    q = e.filter(
        (F.col("vec_id") % 20 == 0) & F.col("label").isNotNull()
    )
    c = e.filter(F.col("vec_id") % 20 != 0)
    topk = sim.brute_force_topk_arrow_rounded6(
        c, q, id_col="vec_id", vec_col="embedding", k=10
    )
    labels = c.filter(F.col("label").isNotNull()).select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlab")
    )
    pred = _majority_vote(topk, labels)
    qlab = q.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")
    )
    return (
        pred.join(qlab, "query_id")
        .select(
            "query_id",
            F.col("qlab").cast("long").alias("true_label"),
            F.col("pred").cast("long").alias("pred_label"),
            (F.col("pred") == F.col("qlab")).cast("long").alias("correct"),
        )
        .orderBy("query_id")
    )


def _majority_vote(topk: DataFrame, labels: DataFrame) -> DataFrame:
    """(query_id, pred) majority label over a (query_id, neighbor_id)
    candidate relation; ties break to the smallest label — the
    knn_classify vote convention, shared by the exact and IVF scorers."""
    v = (
        topk.select("query_id", "neighbor_id")
        .join(labels, "neighbor_id")
        .groupBy("query_id", "nlab")
        .agg(F.count("*").alias("cnt"))
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("cnt"), "nlab")
    return (
        v.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("nlab").alias("pred"))
    )


@query(
    "knn_classify_ivf",
    oracle=f"""SELECT vec_id AS query_id,
                     CAST(label AS BIGINT) AS true_label,
                     CAST(10 AS BIGINT) AS n_exact,
                     CAST(1 AS BIGINT) AS recall_ok,
                     CAST(1 AS BIGINT) AS vote_agree_ok
              FROM embeddings
              WHERE vec_id % 20 = 0 AND {_VOK} AND label IS NOT NULL
              ORDER BY 1""",
)
def knn_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3k scale path — the corpus-scale kNN readout knn_classify's
    docstring promises (r7 verdict ask #4): the same majority-vote
    classification, but over `ivf_topk` candidates instead of the exact
    all-pairs scorer. Two deterministic flags make the approximate path
    driver-checkable (the X3b convention):
    - recall_ok: per-query recall@10 of the IVF candidates vs the
      in-plan exact top-10, floor 0.5 (measured min 0.7 across
      sf0.001/0.01/0.1 at n_probe=12/16);
    - vote_agree_ok: GLOBAL agreement rate between the IVF vote and the
      exact vote, floor 0.7 (measured 0.86–0.88) — a broken vote
      readout (wrong tie-break, dropped labels) collapses this flag,
      so the vote itself is oracle-gated, not just candidate recall.

    Honest-data caveat: the synthetic embeddings are near-uniform —
    no cluster structure — so holding the recall floor needs a deep
    probe (12/16 buckets ≈ 75% of the corpus; same regime the
    vector_topk_lsh docstring documents). On real clustered embeddings
    the 100 TB setting is n_centroids ≈ √N with n_probe fixed, which
    makes candidate volume O(Q·√N·bucket) instead of O(Q·N); the probe
    fraction here is a data artifact, not the operator's asymptote.

    Scale: since r11 `ivf_topk` is the single-pass Arrow scorer — one
    mapInPandas corpus scan fuses assignment, probing, and bucket
    scoring (71 s at the 10^6×10^4 probe vs the fold form's >590 s
    kill); the corpus is never broadcast or materialized n·C-wide, and
    the vote and both flag reductions run on the k·|Q|-row candidate
    relation."""
    from core_telecoms_etl_spark.queries import cache_scoped

    e = _load_conformant(spark, sf_dir)
    q = e.filter(
        (F.col("vec_id") % 20 == 0) & F.col("label").isNotNull()
    )
    c = e.filter(F.col("vec_id") % 20 != 0)
    # both top-k relations are consumed twice (vote + recall flag) and
    # are bounded at |Q|·k rows — pin them so the scorers run once
    approx = cache_scoped(
        "vector.knn_ivf.approx",
        sim.ivf_topk(c, q, k=10, n_centroids=16, n_probe=12),
    )
    exact = cache_scoped(
        "vector.knn_ivf.exact", sim.brute_force_topk(c, q, k=10)
    )
    labels = c.filter(F.col("label").isNotNull()).select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlab")
    )
    pa = _majority_vote(approx, labels).withColumnRenamed("pred", "pa")
    pe = _majority_vote(exact, labels).withColumnRenamed("pred", "pe")
    agree = (
        pa.join(pe, "query_id")
        .agg(
            (
                F.avg((F.col("pa") == F.col("pe")).cast("double"))
                >= F.lit(0.7)
            )
            .cast("long")
            .alias("vote_agree_ok")
        )
    )
    rec = _recall_vs_exact(exact, approx, floor=0.5)
    truth = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").cast("long").alias("true_label"),
    )
    return (
        truth.join(rec, "query_id")
        .join(F.broadcast(agree))
        .select(
            "query_id", "true_label", "n_exact", "recall_ok",
            "vote_agree_ok",
        )
        .orderBy("query_id")
    )
