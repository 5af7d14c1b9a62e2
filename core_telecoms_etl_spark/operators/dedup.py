"""Deduplication operators for training-data pipelines (SURVEY.md §2.13
X1/X2 + north-star): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these at 100 TB):
- Exact dedup: hash-groupBy on a 32-byte digest, never on the full text —
  the shuffle moves digests + ids only.
- Jaccard: inverted-index self-join on shingles (explode → join on shingle
  → pair-count). Quadratic only within a shingle's posting list; common
  shingles are the skew risk → `prefix_filter_pairs` bounds the join
  without losing a pair.
- MinHash+LSH: signatures are k xxhash64 mins (one pass), banded into b
  buckets; candidate pairs only form inside a (band, bucket) — the
  classic sub-quadratic near-dup join. All hashing is JVM-side.
- SimHash: 64-bit signature; near-dups collide on rotated prefixes.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from core_telecoms_etl_spark.caching import cache_scoped
from core_telecoms_etl_spark.operators.text import (
    content_sha256,
    shingles_of,
    tokens,
)


def _min_overlap_expr(threshold: float, n_col: str = "n_sh") -> F.Column:
    """Exact ⌈t·n⌉ as integer arithmetic — the minimal overlap a set of
    size n must share with a match at similarity/containment threshold t.

    ⌈t·n⌉ computed as F.ceil(double_t * n) is WRONG for ~290 (t, n)
    combos with n < 2000 and t in 1% steps: the double product rounds
    above the exact rational (t=0.28, n=25 → 7.000000000000001 → ceil 8,
    exact 7), shortening the prefix by one and silently dropping
    qualifying pairs — a losslessness violation. Fix: treat t as the
    decimal the caller wrote (Fraction(str(t)): 0.28 → 28/100, the
    shortest-repr round-trip recovers the intended decimal) and compute
    ⌈num·n/den⌉ = (num·n + den − 1) div den in exact BIGINT arithmetic
    (num·n < 2^53 for any realistic shingle count).
    """
    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator
    # Overflow guard (ADVICE r9): a threshold that is not a short decimal
    # (e.g. 1/3 → den = 10^16) would push num·n past 2^63 for shingle
    # counts in the low thousands, and non-ANSI Spark WRAPS the BIGINT
    # product silently — a wrong (possibly negative) prefix bound instead
    # of an error. den ≤ 10^4 keeps num·n exact for n up to ~9·10^14
    # (num < den), far beyond any per-document shingle count.
    if den > 10_000:
        raise ValueError(
            f"threshold {threshold!r} is not a short decimal "
            f"(denominator {den} > 10000); pass a 1-4 decimal threshold "
            "so the exact-BIGINT prefix bound cannot overflow"
        )
    return F.expr(
        f"CAST(({num}L * {n_col} + {den - 1}L) DIV {den}L AS BIGINT)"
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-content dedup: keep the lowest id per sha256 digest.
    Returns (id, digest, n_copies) — one row per distinct content."""
    return (
        df.select(
            F.col(id_col), content_sha256(text_col).alias("content_sha256")
        )
        .groupBy("content_sha256")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .select(id_col, "content_sha256", "n_copies")
    )


def exact_dedup_rows(
    df: DataFrame, text_col: str, id_col: str, *, copies_col: str = "n_copies"
) -> DataFrame:
    """Keep-rows exact dedup: the SURVIVING ROW (lowest id) per sha256
    digest, full payload carried through the one digest shuffle via
    min_by — the composition form of `exact_dedup`.

    The equivalent dedup-then-join-back (`df ⋈ exact_dedup(df).ids`)
    evaluates `df`'s lineage twice (digest branch + probe branch) and
    pays a second join on the id key; here the payload rides the single
    hashpartitioning(digest) exchange and survives as
    min_by(struct(row), id) — one evaluation, one exchange, no join
    (r15 optimization round; measured on training_pipeline /
    layered_near_dup whose upstreams are expensive composed chains).
    Requires `id_col` non-null (min_by skips NULL-ordered rows); ids
    are unique in every caller, making the survivor deterministic.
    Returns df's columns plus `copies_col` (exact-copy count);
    `copies_col` must not already exist in df (the output would carry
    duplicate/ambiguous names)."""
    if copies_col in df.columns:
        raise ValueError(
            f"exact_dedup_rows: copies_col {copies_col!r} already exists "
            "in df — pass a copies_col name not present in df.columns"
        )
    cols = df.columns
    return (
        df.groupBy(content_sha256(text_col).alias("__digest"))
        .agg(
            F.min_by(F.struct(*cols), F.col(id_col)).alias("__row"),
            F.count("*").alias(copies_col),
        )
        .select(*[F.col(f"__row.{c}").alias(c) for c in cols], copies_col)
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, shingles) with token + shingle arrays materialized in their own
    projections — keeps Catalyst from re-inlining the tokenizer into every
    downstream reference (see shingles_of PERF note).

    EXPLODE CAVEAT (found by the r11 minhash profile): a plain
    `F.explode(shingles)` directly over this relation triggers
    InferFiltersFromGenerate, whose inferred `size(shingles) > 0`
    predicate Catalyst pushes into the parquet scan filter BY
    SUBSTITUTION — re-inlining the full tokenize+shingle expression,
    whose per-element element_at(filter(split(text))) lambda makes the
    filter O(words²) per doc (measured: the posting explode at sf0.1
    went 0.4s → 4.5s, 12×; at sf1 it dominated the whole near-dup
    family). Exploding sites over an UNCACHED _shingled must use
    `F.explode_outer` + an isNotNull filter on the generated column
    (identical semantics — the arrays are non-empty by construction —
    but the outer generate infers no pushable filter). Sites that
    explode a `cache_scoped` relation are safe: the InMemoryRelation
    is an optimizer barrier."""
    toks = df.select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("__toks")
    ).filter(F.size("__toks") >= n)
    return toks.select(
        "doc", shingles_of(F.col("__toks"), n).alias("shingles")
    )


def _hashed(sh: DataFrame) -> DataFrame:
    """Each shingle replaced by its xxhash64. array_distinct restores the
    distinct-shingle invariant if two of a doc's shingles collide in 64
    bits (else n_common could exceed the true intersection for that
    doc's pairs)."""
    return sh.select(
        "doc",
        F.array_distinct(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
        ).alias("shingles"),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    hash_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) from integer counts → deterministic.
    The self-join is quadratic in each shingle's posting list; for
    corpora with skewed shingles `prefix_filter_pairs` is the lossless
    bounded alternative.

    `hash_shingles` replaces each shingle string with its xxhash64 before
    the explode+self-join: the shuffle and join keys become 8-byte longs
    instead of ~n-word strings (measured ~2.3× end-to-end). Counts — and
    therefore jaccard values — are unchanged unless two distinct shingles
    collide in 64 bits (P ≈ m²/2⁶⁵; at 10⁹ distinct shingles ≈ 3%, per
    PAIR it only shifts n_common by 1 — turn off for exactness audits).
    """
    # Cache at the shingle-ARRAY level, before the explode: the self-join
    # consumes everything twice, and caching here also stops
    # InferFiltersFromGenerate from pushing a `size(shingles) > 0` filter
    # below the projection — that pushdown re-inlines the tokenizer into
    # the filter and re-evaluates it per element_at (O(tokens²), ~3×
    # slower end-to-end). At cluster scale: persist(DISK) or checkpoint.
    sh = _shingled(df, id_col, text_col, n)
    if hash_shingles:
        sh = _hashed(sh)
    sh = cache_scoped("dedup.jaccard.shingles", sh)
    post = sh.select(
        "doc",
        F.size("shingles").alias("n_shingles"),
        F.explode("shingles").alias("shingle"),
    )
    a = post.select(
        F.col("doc").alias("doc_a"),
        F.col("n_shingles").alias("n_a"),
        "shingle",
    )
    b = post.select(
        F.col("doc").alias("doc_b"),
        F.col("n_shingles").alias("n_b"),
        "shingle",
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_common"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (SSJoin /
    PPJoin candidate generation, Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08) — LOSSLESS, unlike capping stop-shingle posting lists:
    identical result to `jaccard_pairs`, with a candidate join that
    explodes only each doc's PREFIX instead of its full posting list.

    The filter: order every doc's shingle set by one GLOBAL canonical
    order — ascending document frequency, ties on the 64-bit shingle
    hash — and keep the first |x| - ceil(t·|x|) + 1 shingles. Any pair
    with jaccard ≥ t has |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), so the
    common shingles cannot all hide in both suffixes: the prefixes must
    intersect, and candidates = prefix-postings self-join. Because the
    canonical order puts the RAREST shingles first, prefix posting
    lists are the shortest ones in the corpus — the quadratic stop-
    shingle blowup that forces jaccard_pairs' cap never enters the
    join at all.

    Verification is set arithmetic on the per-doc shingle ARRAYS
    (array_intersect of distinct sets — order-insensitive, so the
    arrays never need re-sorting): the candidate set is tiny, so the
    two verify joins move |candidates| rows, not postings. Shingles
    are xxhash64 longs throughout (see jaccard_pairs on collisions).

    Plan: one postings shuffle (df counts), one postings window
    (row_number per doc over the canonical order — prefix selection),
    one prefix-postings self-join, two array-lookup joins. At 100 TB
    the prefix explode emits ~(1-t)·|shingles| of the index
    jaccard_pairs builds, and every join key is 8 bytes.
    """
    sh = _shingled(df, id_col, text_col, n).select(
        "doc",
        F.array_distinct(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
        ).alias("shingles"),
    )
    sh = cache_scoped("dedup.prefix.shingles", sh)
    post = sh.select(
        "doc",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    freq = post.groupBy("shingle").agg(F.count("*").alias("df"))
    # canonical rank of each shingle WITHIN its doc; prefix length
    # |x| - ceil(t|x|) + 1 per doc
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    pref = (
        post.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n_sh")
            - _min_overlap_expr(threshold)
            + 1
        )
        .select("doc", "shingle")
    )
    cand = (
        pref.select(F.col("doc").alias("doc_a"), "shingle")
        .join(pref.select(F.col("doc").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    arr = sh.select(
        F.col("doc"),
        F.col("shingles"),
        F.size("shingles").alias("n_sh"),
    )
    out = (
        cand.join(
            arr.select(
                F.col("doc").alias("doc_a"),
                F.col("shingles").alias("__sa"),
                F.col("n_sh").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            arr.select(
                F.col("doc").alias("doc_b"),
                F.col("shingles").alias("__sb"),
                F.col("n_sh").alias("n_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("__sa", "__sb"))
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact DIRECTED containment pairs |S(src)∩S(dst)|/|S(src)| ≥ t via
    an ASYMMETRIC prefix filter — LOSSLESS, sub-quadratic (the r7
    verdict's fix for the uncapped threshold-0 pair pass this query
    family used before).

    The filter: containment(src→dst) ≥ t means at most
    |src| − ⌈t·|src|⌉ of src's shingles are absent from S(dst), so in
    ANY global shingle order src's first |src| − ⌈t·|src|⌉ + 1 shingles
    (its prefix) cannot all miss — at least one prefix shingle is in
    S(dst). Candidates are therefore prefix(src) ⨝ FULL postings(dst):
    only the SOURCE side is prefix-pruned (the destination side carries
    no constraint — that asymmetry is exactly why symmetric PPJoin
    pruning does not apply). With the canonical order ascending document
    frequency, prefix shingles are the corpus's RAREST, so each prefix
    posting meets a short full-posting list: candidate volume is
    Σ_src Σ_{s∈prefix(src)} df(s), not the Σ_s df(s)²/2 of the
    all-pairs index — the stop-shingle blowup ("in the the" with df D
    contributing D²/2 rows) never enters the join because a stop
    shingle lands in a prefix only when a doc has nothing rarer.

    Verification is exact set arithmetic on the per-doc shingle ARRAYS
    (array_intersect), moving |candidates| rows, not postings. Shingles
    are xxhash64 longs (see jaccard_pairs on the collision caveat).

    Returns directed rows (doc_src, doc_dst, n_common, n_src, n_dst):
    both directions of a near-identical pair appear, a subset doc
    appears only as src.
    """
    sh = _shingled(df, id_col, text_col, n).select(
        "doc",
        F.array_distinct(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
        ).alias("shingles"),
    )
    sh = cache_scoped("dedup.containment.shingles", sh)
    post = sh.select(
        "doc",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    freq = post.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    pref = (
        post.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n_sh")
            - _min_overlap_expr(threshold)
            + 1
        )
        .select(F.col("doc").alias("doc_src"), "shingle")
    )
    cand = (
        pref.join(
            post.select(F.col("doc").alias("doc_dst"), "shingle"), "shingle"
        )
        .filter(F.col("doc_src") != F.col("doc_dst"))
        .select("doc_src", "doc_dst")
        .distinct()
    )
    arr = sh.select("doc", "shingles", F.size("shingles").alias("n_sh"))
    return (
        cand.join(
            arr.select(
                F.col("doc").alias("doc_src"),
                F.col("shingles").alias("__ss"),
                F.col("n_sh").alias("n_src"),
            ),
            "doc_src",
        )
        .join(
            arr.select(
                F.col("doc").alias("doc_dst"),
                F.col("shingles").alias("__sd"),
                F.col("n_sh").alias("n_dst"),
            ),
            "doc_dst",
        )
        .withColumn("n_common", F.size(F.array_intersect("__ss", "__sd")))
        .filter(
            F.col("n_common").cast("double") / F.col("n_src")
            >= F.lit(threshold)
        )
        .select("doc_src", "doc_dst", "n_common", "n_src", "n_dst")
    )


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_common: int = 1,
) -> DataFrame:
    """Train/test contamination detection — the eval-integrity pass of a
    training-data pipeline: (train_id, test_id, n_common) for every train
    doc sharing ≥ min_common distinct word n-grams with a test doc.

    Same inverted-index shape as `jaccard_pairs` but ACROSS two corpora:
    the test side is tiny by construction (an eval set), so its exploded
    postings broadcast and the 100 TB train side never shuffles — the
    scan streams against a broadcast hash table. Shingles join as their
    xxhash64, as in `jaccard_pairs`.

    Both sides cache at the shingle-ARRAY level for the same reason
    jaccard_pairs does: InferFiltersFromGenerate otherwise pushes a
    `size(shingles) > 0` filter below the explode and re-evaluates the
    whole tokenize+shingle tree per row (measured 3× on the train side).
    At cluster scale switch the train side to persist(DISK_ONLY) or a
    checkpoint — or accept the 2-3× recompute and drop the cache."""

    def _posts(df: DataFrame, slot: str) -> DataFrame:
        sh = _hashed(_shingled(df, id_col, text_col, n))
        # one slot per SIDE: train/test caches must stay live together
        return cache_scoped(slot, sh).select(
            "doc", F.explode("shingles").alias("shingle")
        )

    tr = _posts(train, "dedup.decontam.train")
    te = _posts(test, "dedup.decontam.test")
    pairs = (
        tr.select(F.col("doc").alias("train_id"), "shingle")
        .join(
            F.broadcast(te.select(F.col("doc").alias("test_id"), "shingle")),
            "shingle",
        )
        .groupBy("train_id", "test_id")
        .agg(F.count("*").alias("n_common"))
    )
    return pairs.filter(F.col("n_common") >= min_common)


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_common: int = 1,
) -> DataFrame:
    """Drop every train doc contaminated by the test set (any test doc,
    ≥ min_common shared distinct n-grams): one broadcast-probe pass plus a
    left-anti join on the flagged ids."""
    flagged = (
        contamination_pairs(
            train, test, id_col, text_col, n=n, min_common=min_common
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(flagged, id_col, "left_anti")


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a CPU-dense per-row stage across the cluster's cores.

    Spark sizes scan splits by BYTES (`maxPartitionBytes`), not by
    downstream compute: a 10 MB text file arrives as ONE split, and a
    signature stage hanging off it (k×shingles xxhash64 folds per row)
    runs serially no matter how many cores are idle — measured 10× on
    the sf0.1 scale probe. One round-robin repartition of the raw rows
    (narrow payload, cheap vs the compute it unlocks) restores
    parallelism. Skipped when the input already has at least
    defaultParallelism partitions — the true-at-scale case, where the
    data arrives in thousands of splits and the shuffle would be pure
    waste.

    Partition-count probe: `len(df.inputFiles())` (a metadata listing
    already cached by the scan) rather than `df.rdd.getNumPartitions()`,
    which forces a full physical-plan→RDD conversion on the driver per
    call and raises on streaming inputs. File count lower-bounds the
    split count, so at scale (thousands of files) the repartition is
    correctly skipped; locally (one file per table) it correctly fires.
    Non-file inputs (in-memory test frames) report zero files and get
    the spread, which is the cheap safe default for them."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files < target:
        return df.repartition(target)
    return df


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, k: int = 64
) -> DataFrame:
    """(id, sig: array<bigint>[k]) MinHash signature: sig[i] = min over
    shingles of xxhash64(xxhash64(shingle), seed=i).

    The shingle string is hashed ONCE to a long, then each of the k seeds
    mixes that 8-byte long — k× cheaper than re-hashing the multi-word
    string per seed, with the same min-wise LSH property (the outer hash
    family stays pairwise-independent-ish over distinct base hashes).

    Plan shape: explode the hashed shingles and take the k mins as ONE
    hash aggregation with k codegen'd min(xxhash64(h, seed_i)) columns,
    folded back into the signature array. The obvious per-row form —
    transform(sequence(0, k-1), i -> array_min(transform(h, ...))) —
    computes identical values but runs as interpreted higher-order
    functions allocating k intermediate arrays per row: measured 12×
    slower at sf0.1 (6.6s → 0.55s for the signature stage). The
    aggregation's shuffle carries k longs per doc partial — at 100 TB
    that is ~512 bytes/doc with map-side combine, cheaper than the
    memory churn it replaces."""
    sh = _shingled(_ensure_parallelism(df), id_col, text_col, n)
    # explode_outer + isNotNull: see _shingled's EXPLODE CAVEAT (the
    # r11 minhash profile measured this single generate at 4.5s of the
    # signature stage's 5.1s at sf0.1 with plain explode)
    posts = (
        sh.select("doc", F.explode_outer("shingles").alias("__s"))
        .filter(F.col("__s").isNotNull())
        .withColumn("__h", F.xxhash64("__s"))
    )
    mins = posts.groupBy("doc").agg(
        *[
            F.min(F.xxhash64("__h", F.lit(i))).alias(f"__m{i}")
            for i in range(k)
        ]
    )
    return mins.select(
        "doc", F.array(*[f"__m{i}" for i in range(k)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    est_threshold: float = 0.7,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the k-signature into `bands`
    buckets (r = k/bands rows per band), join docs sharing any
    (band, bucket), then estimate jaccard as matching-minhash fraction
    and filter. Sub-quadratic: pairs form only inside LSH buckets."""
    r = k // bands
    sig = cache_scoped(
        "dedup.minhash.sig",
        minhash_signature(df, id_col, text_col, n=n, k=k),
    )
    # (doc, band, bucket): each r-row band hashed to one 8-byte key
    banded = sig.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        "_", F.slice("sig", b * r + 1, r).cast("array<string>")
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b")
        )
        .distinct()
    )
    sa = sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda m: m
        )
    ) / F.lit(float(k))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= est_threshold)
    )


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: bigint). Near-dups are signatures within small
    Hamming distance; see `simhash_pairs` for the pigeonhole blocking.

    Two-stage: the weight-vector aggregate is materialized as a column,
    then the 63 sign-bit reads reference it cheaply (inlining the
    aggregate into each read would explode codegen). Unlike
    `minhash_signature`, the per-row fold BEATS an explode + 63-column
    hash aggregation here (measured 1.5s vs 2.4s at sf0.1): the fold
    allocates one 63-int array per token with no grouping machinery,
    while the agg pays 2.5M-row hash-agg bookkeeping — the HOF rewrite
    only pays off when the inner op multiplies allocations k-fold."""
    from core_telecoms_etl_spark.operators.text import (
        simhash_from_weights,
        simhash_weights,
    )

    w = _ensure_parallelism(df).select(
        F.col(id_col), simhash_weights(text_col).alias("__w")
    )
    return w.select(id_col, simhash_from_weights(F.col("__w")).alias("simhash"))


def _pick_combo_order(
    n_rows: int, max_hamming: int, budget_per_row: float = 128.0
) -> int:
    """Smallest combination order m ∈ [1, 5] whose expected
    random-collision candidate count at `n_rows` docs fits the budget
    (~budget_per_row·n, floor 1M — small corpora always take m = 1).
    The estimate sums n²/2 ÷ 2^key_bits over every combination key
    using each key's TRUE packed width (block widths differ by ±1), ×2
    for simhash bit bias. Monotone: bigger corpora pick bigger m. m = 5
    is the ceiling — C(max_hamming + 5, 5) keys per doc is where the
    explode cost overtakes the join saving; past that, widen the
    signature (128-bit simhash), don't deepen the blocking."""
    from itertools import combinations

    budget = max(budget_per_row * n_rows, 1e6)
    best = 1
    for m in range(1, 6):
        n_b = max_hamming + m
        if n_b > 64:
            break
        starts = [round(i * 64 / n_b) for i in range(n_b + 1)]
        widths = [starts[i + 1] - starts[i] for i in range(n_b)]
        best = m
        est = 2.0 * sum(
            n_rows * n_rows / 2.0 / 2.0 ** sum(widths[j] for j in S)
            for S in combinations(range(n_b), m)
        )
        if est <= budget:
            break
    return best


def _simhash_mass_tripwire(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    n_rows: int,
    max_candidates: int,
    sample_size: int = 2048,
) -> None:
    """Estimate the TRUE hamming ≤ max_hamming pair mass from a bounded
    deterministic signature sample and raise if it exceeds the budget.
    Bounded collect: ≤ sample_size longs cross the driver. The sample is
    id-ordered (deterministic across partitionings); density resolution
    is ~2/sample_size², plenty to catch quadratic-mass corpora (the
    failure mode is density ~1e-2, resolution ~5e-7)."""
    import numpy as np

    sig_sample = (
        simhash_signatures(df, id_col, text_col)
        .orderBy(id_col)
        .limit(sample_size)
        .select("simhash")
        .collect()
    )
    a = np.array([r.simhash for r in sig_sample], dtype=np.int64).astype(
        np.uint64
    )
    if len(a) < 2:
        return
    x = a[:, None] ^ a[None, :]
    ham = np.zeros(x.shape, dtype=np.int8)
    for _ in range(64):
        ham += (x & np.uint64(1)).astype(np.int8)
        x >>= np.uint64(1)
    h = ham[np.triu_indices(len(a), 1)]
    density = float((h <= max_hamming).sum()) / len(h)
    est = density * n_rows * (n_rows - 1) / 2
    if est > max_candidates:
        raise RuntimeError(
            "simhash_pairs: the corpus itself holds an estimated "
            f"{est:.2e} pairs within hamming <= {max_hamming} "
            f"(sampled density {density:.2e}, median sample hamming "
            f"{float(np.median(h)):.0f}/64, n_rows={n_rows}) — past "
            f"max_candidates={max_candidates}. This is intrinsic "
            "quadratic mass (signatures concentrate on this corpus "
            "shape), not a blocking problem: no pigeonhole scheme can "
            "shrink a result this large. Use minhash banding "
            "(minhash_lsh_pairs) or a wider signature, lower "
            "max_hamming, or pass max_candidates=None to run anyway."
        )


def _combination_keys(sig: DataFrame, n_b: int, m: int) -> DataFrame:
    """`sig` exploded to one row per m-combination of the n_b blocks of
    its 64-bit `simhash`: `chunk_pos` numbers the combination in
    `itertools.combinations` order and `chunk` packs its blocks into one
    long, the first block in the highest bits. Block i covers bits
    [starts[i], starts[i+1]); widths differ by at most 1.

    Disjoint blocks of at most 64 bits in total always fit one long.
    The blocks are computed once per row as an array, and one
    higher-order expression folds each literal combination over it, so
    the plan grows with n_b, not with C(n_b, m)·m: unrolled
    per-combination shift/OR trees (1287 of them at m = 5) overflow
    codegen's 64 KB method limit and then the driver heap."""
    from itertools import combinations

    starts = [round(i * 64 / n_b) for i in range(n_b + 1)]
    widths = [starts[i + 1] - starts[i] for i in range(n_b)]

    def block(i: int):
        # a full-width block (max_hamming = 0, m = 1) needs the all-ones long:
        # (1 << 64) - 1 overflows LongType
        mask = -1 if widths[i] == 64 else (1 << widths[i]) - 1
        return F.shiftrightunsigned("simhash", starts[i]).bitwiseAND(mask)

    combos = ", ".join(
        "array(" + ", ".join(map(str, S)) + ")"
        for S in combinations(range(n_b), m)
    )
    widths_sql = "array(" + ", ".join(map(str, widths)) + ")"
    keys = F.expr(
        f"transform(array({combos}), S -> aggregate(S, 0L,"
        f" (acc, j) -> shiftleft(acc, {widths_sql}[j]) | __blk[j]))"
    )
    return (
        sig.withColumn("__blk", F.array(*(block(i) for i in range(n_b))))
        .select("*", F.posexplode(keys).alias("chunk_pos", "chunk"))
        .drop("__blk")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 8,
    n_rows: int | None = None,
    max_candidates: int | None = 1_000_000_000,
) -> DataFrame:
    """SimHash near-dup pairs via GENERALIZED pigeonhole blocking + exact
    Hamming filter. The 64-bit signature splits into B = max_hamming + m
    blocks, and candidates are keyed on every m-block COMBINATION
    (C(B, m) keys per doc): a pair within `max_hamming` damages at most
    max_hamming blocks, so at least m blocks agree, so at least one
    m-combination key is shared — completeness is still pigeonhole, not
    luck, for EVERY m ≥ 1. m = 1 is the classic k+1-block scheme; larger
    m trades more keys per doc (C(B, m)) for m×-wider keys, which is
    what survives scale: single-block keys carry only 64/(k+1) bits
    (~7 bits at k = 8 — 128 distinct values), so bucket sizes grow
    linearly with the corpus and the self-join quadratically — measured
    ENOSPC'ing a 77 GB disk at 500k docs (sf10, r12) where m = 4 keys
    carry ~21 bits. This is the 64-bit version of the
    Manku-Das Sarma-Garcia-Molina table scheme (WWW'07, public).

    m is chosen driver-side from the corpus size: smallest m ≤ 5 whose
    expected random-collision candidate count (sum over combination
    keys of n²/2 ÷ 2^key_bits, ×2 bias margin — simhash bits of real
    text are not perfectly uniform) fits ~128·n. Pass `n_rows` to skip
    the one count job that sizing otherwise runs.

    QUADRATIC-MASS TRIPWIRE (`max_candidates`): blocking can only
    remove pairs the Hamming filter would reject — when the corpus
    itself holds ≥ max_candidates pairs within `max_hamming`, the
    result is intrinsically that large and NO blocking scheme shrinks
    it. That is a corpus-shape property, measured, not hypothetical:
    the sf10 synthetic corpus (short docs over a shared vocabulary)
    concentrates signatures at median pairwise hamming 17, putting
    1.5% of ALL pairs inside hamming ≤ 8 — ~1.9e9 true candidates at
    500k docs, which ENOSPC'd even the combination-blocked join. So
    past the point where n²/2 could exceed the budget, a 2048-doc
    signature sample estimates the true pair mass (density × n²/2,
    bounded collect of 2048 longs) and RAISES with the measurement and
    the escalation path (minhash banding separates this regime; or a
    wider signature) instead of silently launching a shuffle that
    cannot fit. Pass max_candidates=None to run regardless."""
    if n_rows is None:
        n_rows = df.count()
    if (
        max_candidates is not None
        and n_rows * (n_rows - 1) / 2 > max_candidates
    ):
        _simhash_mass_tripwire(
            df, id_col, text_col, max_hamming, n_rows, max_candidates
        )
    m = _pick_combo_order(n_rows, max_hamming)
    n_b = max_hamming + m
    # signature computation is the expensive pass; the blocking self-join
    # reads it twice → cache
    sig = cache_scoped(
        "dedup.simhash.sig", simhash_signatures(df, id_col, text_col)
    )
    chunks = _combination_keys(
        sig.select(F.col(id_col).alias("doc"), "simhash"), n_b, m
    )
    # Catalyst cannot size explode output — at m ≥ 2 it estimated the
    # n·C(B,m)-row chunk relation below the broadcast threshold and
    # tried to BROADCAST 26.5 GiB (fatal, observed at sf10). The scale
    # regime always wants a shuffled hash join on (chunk_pos, chunk);
    # m = 1 keeps the planner's choice (tiny corpora genuinely benefit
    # from broadcast there).
    if m >= 2:
        chunks = chunks.hint("shuffle_hash")
    cand = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk_pos") == F.col("y.chunk_pos"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def refine_pairs_exact(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The verify stage of sketch-based near-dup: exact distinct-n-gram
    Jaccard computed ONLY on candidate pairs (from MinHash-LSH or SimHash
    blocking), keeping pairs at or above `threshold`.

    `candidates` needs (doc_a, doc_b) columns; output matches
    `jaccard_pairs`: (doc_a, doc_b, n_common, n_a, n_b, jaccard) with
    exact integer counts over unhashed string shingles — so when the
    candidate generator's recall is 1 at the threshold, the refined
    result equals the full exact-jaccard pair set, at candidate-set cost
    instead of inverted-index-self-join cost.

    Scale: the candidate set is sketch-blocked (≪ n²); each side of the
    pair joins the per-doc shingle ARRAY relation on its id (two hash
    joins keyed on doc id), and the intersection runs per-pair as a JVM
    array op — no explode, no posting-list shuffle."""
    sh = _shingled(_ensure_parallelism(df), id_col, text_col, n)
    sa = sh.select(
        F.col("doc").alias("doc_a"), F.col("shingles").alias("__sh_a")
    )
    sb = sh.select(
        F.col("doc").alias("doc_b"), F.col("shingles").alias("__sh_b")
    )
    return (
        candidates.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            .cast("long")
            .alias("n_common"),
            F.size("__sh_a").cast("long").alias("n_a"),
            F.size("__sh_b").cast("long").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def layered_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The production near-dup layering (see BASELINE.md scale probe):
    exact-dedup FIRST — collapsing byte-identical copies to one
    representative (min id) with a copy count — then exact n-gram jaccard
    only over distinct content. On data with heavy exact duplication this
    turns a quadratic-in-copies pair explosion into linear collapse +
    near-dup on the (much smaller) distinct set.

    Returns (doc_a, doc_b, n_common, n_a, n_b, jaccard, copies_a,
    copies_b) where copies_* are the exact-copy counts each side
    represents."""
    # keep-rows form: one digest shuffle carrying the text payload,
    # instead of exact_dedup + join-back (which evaluates `df` twice —
    # r15 optimization round; identical survivors by construction)
    rep_docs = exact_dedup_rows(df, text_col, id_col).select(
        id_col, text_col, "n_copies"
    )
    pairs = jaccard_pairs(
        rep_docs, id_col, text_col, n=n, threshold=threshold
    )
    ca = rep_docs.select(
        F.col(id_col).alias("doc_a"), F.col("n_copies").alias("copies_a")
    )
    cb = rep_docs.select(
        F.col(id_col).alias("doc_b"), F.col("n_copies").alias("copies_b")
    )
    return pairs.join(F.broadcast(ca), "doc_a").join(
        F.broadcast(cb), "doc_b"
    ).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard",
        "copies_a", "copies_b",
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_candidates: int | None = None,
) -> DataFrame:
    """Continuous-ingest dedup: drop new-batch docs that duplicate the
    EXISTING corpus, without re-deduping the corpus itself — the shape a
    training-data pipeline runs on every ingest cycle (the corpus is
    already clean; only new-vs-old comparisons are needed).

    Two cuts, both one-directional:
    1. exact — batch docs whose sha256 digest matches any corpus doc;
    2. near  — batch docs with distinct word n-gram Jaccard >= threshold
       against any corpus doc (same integer-count math as jaccard_pairs),
       from a posting join on the shared shingle strings.

    Returns the surviving batch rows (original columns).

    Scale: the batch is small relative to the corpus by construction, so
    BOTH cuts stream the 100 TB corpus against a BROADCAST batch side —
    the corpus is never shuffled and never self-joined. The matched-id
    sets that come back are at most batch-sized, and the final anti-joins
    run against the small batch relation. (Broadcasting the batch's
    exploded postings bounds batch size at ~10M shingles per cycle;
    beyond that, switch the near cut to a shuffled join on the hashed
    shingle key — same counts, one corpus shuffle.)

    The posting join is lossless, but its candidate mass is
    Σ_s df_batch(s)·df_corpus(s), which degrades toward Θ(|b|·|c|/V)
    when the shingle vocabulary V saturates (the r12 sf10 decade
    measured 3.7e9 candidates at 100k×400k docs over V = 29,791 — one
    spilling hash aggregate that never finished). Pass `max_candidates`
    to make that wall LOUD: the mass is estimated from the two df
    tables (one V-row join — metadata-scale next to the join it guards)
    and the cut RAISES with the measured mass and the escalation path
    instead of launching it."""
    b_digest = batch.select(
        F.col(id_col).alias("__bid"),
        content_sha256(text_col).alias("__digest"),
    )
    c_digest = corpus.select(content_sha256(text_col).alias("__digest"))
    exact_hits = (
        c_digest.join(F.broadcast(b_digest), "__digest")
        .select("__bid")
        .distinct()
    )

    def _posts(df: DataFrame, side: str) -> DataFrame:
        # explode_outer + isNotNull: see _shingled's EXPLODE CAVEAT
        return (
            _shingled(df, id_col, text_col, n)
            .select(
                F.col("doc").alias(f"{side}_id"),
                F.size("shingles").alias(f"n_{side}"),
                F.explode_outer("shingles").alias("shingle"),
            )
            .filter(F.col("shingle").isNotNull())
        )

    c_posts = _posts(corpus, "c")
    b_posts = _posts(batch, "b")
    if max_candidates is not None:
        mass_row = (
            c_posts.groupBy("shingle")
            .agg(F.count("*").alias("__dfc"))
            .join(
                b_posts.groupBy("shingle").agg(F.count("*").alias("__dfb")),
                "shingle",
            )
            .agg(F.sum(F.col("__dfc") * F.col("__dfb")).alias("__m"))
            .first()
        )
        mass = int(mass_row["__m"] or 0)
        if mass > max_candidates:
            raise RuntimeError(
                "incremental_dedup: the exact posting join would "
                f"generate ~{mass:.3g} candidate rows "
                f"(max_candidates={max_candidates:.3g}) — the shingle "
                "vocabulary is too dense for exact blocking at this "
                "corpus size. Narrow the batch, raise max_candidates, "
                "or take banded candidates with minhash_lsh_pairs and "
                "re-score them exactly with refine_pairs_exact."
            )
    near_hits = (
        c_posts.join(F.broadcast(b_posts), "shingle")
        .groupBy("b_id", "c_id")
        .agg(
            F.count("*").alias("n_common"),
            F.first("n_b").alias("n_b"),
            F.first("n_c").alias("n_c"),
        )
        .filter(
            F.col("n_common")
            / (F.col("n_b") + F.col("n_c") - F.col("n_common"))
            >= threshold
        )
        .select(F.col("b_id").alias("__bid"))
        .distinct()
    )
    dropped = exact_hits.union(near_hits).distinct()
    return batch.join(
        F.broadcast(dropped),
        batch[id_col] == dropped["__bid"],
        "left_anti",
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seg_tokens: int = 10,
    max_df: int = 2,
) -> DataFrame:
    """Sub-document boilerplate removal (C4/RefinedWeb line-dedup shape,
    adapted to token-segment granularity): split each document into
    non-overlapping `seg_tokens`-token segments, count each distinct
    segment's document frequency across the corpus, DROP segments
    appearing in more than `max_df` documents (headers, footers,
    licence blocks — text shared across documents is boilerplate, not
    content), and reassemble the surviving segments in order.

    Returns (id, n_segs, n_kept, clean_text); documents whose every
    segment was boilerplate drop out (their text is empty).

    Plan: explode → one frequency groupBy on the segment text → join
    back → one re-assembly groupBy. Order is restored with
    sort_array(collect_list(struct(pos, seg))) — no window, no
    single-partition sort. At 100 TB the frequency pass should key on
    xxhash64(segment) so the exchange carries 8-byte hashes instead of
    segment strings (the `hash_shingles` discipline elsewhere in this
    module); text keys are kept here for cross-engine oracle equality.
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    n_segs = F.ceil(F.size("__toks") / F.lit(seg_tokens)).cast("int")
    segs = (
        df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(
            "__id",
            # per-doc segment count rides the exploded rows (it is known
            # BEFORE the explode — ceil(|toks|/seg_tokens) — so the
            # reassembly groupBy reads it off its own input instead of
            # re-running the scan→tokenize→explode subtree a third time
            # for a count + join-back; r15 optimization round, plan
            # went 3 Generate subtrees → 2 and lost one join)
            n_segs.alias("__n_segs"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("__toks"),
                            i * seg_tokens + 1,
                            seg_tokens,
                        ),
                        " ",
                    ),
                )
            ).alias("pos", "seg"),
        )
    )
    freq = segs.groupBy("seg").agg(
        F.count_distinct("__id").alias("__df")
    )
    kept = segs.join(freq, "seg").filter(F.col("__df") <= max_df)
    # __n_segs is functionally dependent on __id, so grouping by both
    # yields the same groups; docs whose every segment was boilerplate
    # drop out here exactly as they did under the old inner join-back
    return (
        kept.groupBy("__id", "__n_segs")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "seg"))
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__n_segs").cast("long").alias("n_segs"),
            F.col("n_kept").cast("long").alias("n_kept"),
            "clean_text",
        )
    )
