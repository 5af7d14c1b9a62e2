"""Text-analysis + dedup queries on the `documents` table (SURVEY.md §2.13
X1/X2/X4 + north-star training-data ops). Oracle SQL mirrors the Spark
expressions token-for-token so integer-derived ratios hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators import dedup as dd
from core_telecoms_etl_spark.operators import text as tx
from core_telecoms_etl_spark.functions import expressions as xp
from core_telecoms_etl_spark.queries import query
from core_telecoms_etl_spark.sources.readers import load_table

# DuckDB fragments mirroring operators/text.py (kept adjacent for review)
_TOKS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"
_MARK = (
    lambda words: f"CAST(len(list_filter({_TOKS}, t -> list_contains({words}, t))) AS BIGINT)"
)
_EN = "['the','a','of','and','to']"
_ES = "['el','la','de','los','y']"
_DE = "['der','die','und','das','ein']"
_FR = "['le','les','et','des','une']"
_STOP = "['the','a','of','and','to','in','is','it','for','on']"
_ZH = "CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS BIGINT)"


_POS = "['good','great','excellent','happy','love','best']"
_NEG = "['bad','poor','terrible','angry','hate','worst']"


@query(
    "text_profile",
    oracle=f"""SELECT doc_id, lang,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens,
                 CAST(len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
                 CAST(len(list_distinct({_TOKS})) AS BIGINT) / CAST(len({_TOKS}) AS BIGINT)
                   AS type_token_ratio,
                 CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                   / CAST(length(text) AS BIGINT) AS alpha_ratio,
                 {_MARK(_STOP)} / CAST(len({_TOKS}) AS BIGINT) AS stopword_ratio,
                 (CAST(len(list_distinct({_TOKS})) AS BIGINT) / CAST(len({_TOKS}) AS BIGINT)) * 0.4
                   + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                      / CAST(length(text) AS BIGINT)) * 0.4
                   + least(({_MARK(_STOP)} / CAST(len({_TOKS}) AS BIGINT)) * 4.0, 1.0) * 0.2
                   AS quality_score,
                 CASE WHEN {_MARK(_EN)} >= greatest({_MARK(_ES)}, {_MARK(_DE)},
                                                    {_MARK(_FR)}, {_ZH}) THEN 'en'
                      WHEN {_MARK(_ES)} >= greatest({_MARK(_DE)}, {_MARK(_FR)},
                                                    {_ZH}) THEN 'es'
                      WHEN {_MARK(_DE)} >= greatest({_MARK(_FR)}, {_ZH}) THEN 'de'
                      WHEN {_MARK(_FR)} >= {_ZH} THEN 'fr'
                      ELSE 'zh' END AS predicted_lang,
                 {_MARK(_POS)} AS n_positive,
                 {_MARK(_NEG)} AS n_negative,
                 ({_MARK(_POS)} - {_MARK(_NEG)})
                   / ({_MARK(_POS)} + {_MARK(_NEG)} + 1) AS polarity,
                 md5(text) AS fp_md5,
                 sha256(text) AS fp_sha256,
                 sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                   AS fp_normalized
               FROM documents""",
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — the full per-document text-analysis profile in ONE scan and
    one codegen stage: token counting (whitespace + BPE-style regex),
    quality scoring (every ratio derives from integer counts, so the
    doubles are bit-identical across engines — no rounding), marker-token
    language-ID with a fixed tie-break priority, lexicon sentiment
    (integer-derived smoothed polarity), and exact + whitespace/case-
    normalized fingerprints. At 100 TB this is the shape you want anyway:
    one pass over the corpus computing every per-doc signal, not five."""
    d = load_table(spark, sf_dir, "documents")
    q = tx.quality_components("text")
    pos, neg = tx.sentiment_counts("text")
    return d.select(
        "doc_id",
        "lang",
        q["n_chars"].alias("n_chars"),
        tx.token_count("text").alias("n_tokens"),
        tx.distinct_token_count("text").alias("n_distinct_tokens"),
        tx.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        q["type_token_ratio"].alias("type_token_ratio"),
        q["alpha_ratio"].alias("alpha_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        tx.quality_score("text").alias("quality_score"),
        tx.predicted_lang("text").alias("predicted_lang"),
        pos.alias("n_positive"),
        neg.alias("n_negative"),
        tx.sentiment_polarity("text").alias("polarity"),
        F.md5("text").alias("fp_md5"),
        tx.content_sha256("text").alias("fp_sha256"),
        tx.normalized_sha256("text").alias("fp_normalized"),
    )


@query(
    "text_exact_dedup",
    oracle="""SELECT min(doc_id) AS doc_id, sha256(text) AS content_sha256,
                     count(*) AS n_copies
              FROM documents GROUP BY sha256(text)""",
)
def text_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — exact dedup keyed on the sha256 digest: the shuffle carries
    32-byte digests, not document bodies."""
    return dd.exact_dedup(
        load_table(spark, sf_dir, "documents"), "text", "doc_id"
    )


# Exact 3-gram-Jaccard ≥ 0.8 pair set — the shared oracle for the exact
# inverted-index path AND the sketch-blocked paths (minhash/simhash
# candidates + exact refine): all three compute the same relation.
_EXACT_JACCARD_08_ORACLE = """WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(trim(text), ' '), t -> t <> '') AS ts
                FROM documents),
              sh AS (
                SELECT doc_id,
                       list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                      for i in range(1, len(ts) - 1)]) AS shingles
                FROM toks WHERE len(ts) >= 3),
              ex AS (
                SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n,
                       unnest(shingles) AS shingle
                FROM sh),
              pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common,
                       any_value(a.n) AS n_a, any_value(b.n) AS n_b
                FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
              SELECT doc_a, doc_b, n_common, n_a, n_b,
                     n_common / (n_a + n_b - n_common) AS jaccard
              FROM pairs WHERE n_common / (n_a + n_b - n_common) >= 0.8"""


@query("near_dedup", oracle=_EXACT_JACCARD_08_ORACLE)
def near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — exact 3-gram Jaccard near-dup pairs via inverted-index
    self-join (the scale path caps posting-list length; uncapped here so
    the oracle matches exactly)."""
    pairs = dd.jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.8,
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "jaccard",
    )


@query("minhash_near_dup", oracle=_EXACT_JACCARD_08_ORACLE)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 at scale — the full LSH-then-verify near-dup pipeline:
    MinHash(k=64)+LSH(16 bands) candidate pairs (sub-quadratic: pairs
    only form inside (band, bucket) groups; est_jaccard ≥ 0.5 pre-cut),
    then exact distinct-3-gram Jaccard ≥ 0.8 computed ONLY on candidates
    (operators/dedup.py refine_pairs_exact). With the banding's recall at
    this threshold (16 bands × 4 rows: P[miss | j=0.8] ≈ 2e-4 per pair;
    every testdata pair sits at j ≥ 0.9) the refined output EQUALS the
    exact all-pairs relation — checked against the same oracle as
    `near_dedup`, at candidate-set cost instead of full posting-join
    cost. Candidate recall is independently floored in pytest."""
    docs = load_table(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        k=64,
        bands=16,
        est_threshold=0.5,
    )
    return dd.refine_pairs_exact(
        docs, cands, "doc_id", "text", n=3, threshold=0.8
    )


@query("prefix_filter_near_dup", oracle=_EXACT_JACCARD_08_ORACLE)
def prefix_filter_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 fourth path — prefix-filtered set-similarity join (SSJoin/
    PPJoin candidate generation): shingles globally ordered by
    ascending document frequency, only each doc's |x|-ceil(0.8|x|)+1
    rarest shingles enter the candidate self-join, then exact
    verification by array intersection on the candidate pairs only.
    LOSSLESS by the prefix-filter theorem (unlike posting-list caps),
    so it is checked against the SAME exact-jaccard oracle as
    near_dedup / minhash_near_dup / simhash — any missed pair is a red
    driver row, the strongest form of the recall claim. The scale win
    over near_dedup's full inverted index: the join only ever sees the
    corpus's rarest shingles (stop-shingles never reach it), and the
    verify joins move |candidates| rows, not postings."""
    return dd.prefix_filter_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.8,
    ).select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "jaccard",
    )


@query(
    "simhash_signatures",
    oracle=f"""SELECT count(*) AS n_exact_pairs,
                      CAST(1 AS BIGINT) AS recall_ok
               FROM ({_EXACT_JACCARD_08_ORACLE})""",
)
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 blocked near-dup with its recall audit: candidates are
    pairs within hamming ≤ 8 under pigeonhole-complete 9-block blocking
    (every pair at hamming ≤ 8 is GUARANTEED a candidate —
    operators/dedup.py simhash_pairs), refined to exact distinct-3-gram
    Jaccard ≥ 0.8 and compared against the full exact pair relation
    computed in-plan. Unlike MinHash banding (whose miss probability is
    a tunable parameter), the hamming cutoff itself bounds simhash
    recall and is data dependent: measured 1.0 at sf0.001/sf0.01 and
    0.977 at sf0.1 (six true pairs sit at hamming 9–11), so the
    driver-checked projection is the pair count + a recall ≥ 0.9 flag
    rather than the raw pair set — scale-robust without overstating
    what simhash guarantees. The refined pairs themselves stay
    available via the operators."""
    docs = load_table(spark, sf_dir, "documents")
    cands = dd.simhash_pairs(docs, "doc_id", "text", max_hamming=8)
    found = dd.refine_pairs_exact(
        docs, cands, "doc_id", "text", n=3, threshold=0.8
    ).select("doc_a", "doc_b")
    exact = dd.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8
    ).select("doc_a", "doc_b")
    # ONE evaluation of the exact all-pairs relation (r16 optimization
    # round): the previous count + left-semi-count form evaluated the
    # full inverted-index posting self-join TWICE — the query's
    # dominant cost (the shingle arrays behind it are cache-pinned, the
    # posting join is not). A left join against the (tiny, distinct)
    # found set marks each exact pair instead, so one pass yields both
    # counts: count(*) = |exact|, count(__hit) = |exact ∩ found| —
    # exactly the semi-join count because `found` is duplicate-free
    # (candidate pairs are .distinct() and doc ids unique; the explicit
    # distinct() below pins that invariant against future candidate
    # generators rather than assuming it).
    marked = exact.join(
        found.distinct().withColumn("__hit", F.lit(1)),
        ["doc_a", "doc_b"],
        "left",
    )
    return (
        marked.agg(
            F.count("*").alias("n_exact_pairs"),
            F.count("__hit").alias("__n_found"),
        )
        .select(
            "n_exact_pairs",
            # zero exact pairs => vacuous recall (flag 1, and no
            # ANSI divide-by-zero on an empty corpus — r8 empty-facts
            # differential); the oracle's NULL-comparison path agrees
            F.when(F.col("n_exact_pairs") == 0, F.lit(1))
            .otherwise(
                (
                    F.col("__n_found") / F.col("n_exact_pairs") >= 0.9
                ).cast("long")
            )
            .alias("recall_ok"),
        )
    )


@query(
    "near_dedup_layered",
    oracle="""WITH reps AS (
                SELECT min(doc_id) AS doc_id, count(*) AS n_copies
                FROM documents GROUP BY sha256(text)),
              docs AS (
                SELECT r.doc_id, d.text, r.n_copies
                FROM reps r JOIN documents d USING (doc_id)),
              toks AS (
                SELECT doc_id, n_copies,
                       list_filter(string_split(trim(text), ' '), t -> t <> '') AS ts
                FROM docs),
              sh AS (
                SELECT doc_id, n_copies,
                       list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                      for i in range(1, len(ts) - 1)]) AS shingles
                FROM toks WHERE len(ts) >= 3),
              ex AS (
                SELECT doc_id, n_copies, CAST(len(shingles) AS BIGINT) AS n,
                       unnest(shingles) AS shingle
                FROM sh),
              pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common,
                       any_value(a.n) AS n_a, any_value(b.n) AS n_b,
                       any_value(a.n_copies) AS copies_a,
                       any_value(b.n_copies) AS copies_b
                FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
              SELECT doc_a, doc_b, n_common, n_a, n_b,
                     n_common / (n_a + n_b - n_common) AS jaccard,
                     copies_a, copies_b
              FROM pairs WHERE n_common / (n_a + n_b - n_common) >= 0.8""",
)
def near_dedup_layered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 production layering — exact-dedup collapse, then jaccard over
    distinct content only, with copy counts carried through (see
    BASELINE.md scale probe for why this ordering matters at 100 TB)."""
    out = dd.layered_near_dup(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.8,
    )
    return out.select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "jaccard",
        F.col("copies_a").cast("long").alias("copies_a"),
        F.col("copies_b").cast("long").alias("copies_b"),
    )


@query(
    "token_topk",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
               SELECT token, count(*) AS n,
                      CAST(count(DISTINCT doc_id) AS BIGINT) AS df
               FROM toks GROUP BY token
               ORDER BY n DESC, token LIMIT 20""",
)
def token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k tokens (the canonical explode → count → top-k at
    scale: partial aggregation absorbs the token skew before the single
    tiny shuffle; TakeOrderedAndProject avoids a global sort)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tx.tokens("text")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "tf_idf",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
               tf AS (
                 SELECT doc_id, token, count(*) AS tf
                 FROM toks GROUP BY doc_id, token),
               df AS (
                 SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                 FROM toks GROUP BY token),
               n AS (SELECT count(*) AS n_docs FROM documents)
               SELECT tf.doc_id, tf.token, tf.tf, df.df,
                      round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                        AS tf_idf
               FROM tf JOIN df USING (token) CROSS JOIN n
               WHERE df.df * 5 <= 2 * n.n_docs""",
)
def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights via the inverted index: term frequencies and
    document frequencies are two aggregations over one exploded relation;
    the df table is small (vocabulary-sized) and broadcasts into the join.
    Weights rounded at 6dp to absorb any last-ulp ln() difference between
    math libraries. The df cap drops stop-tokens (standard, and keeps the
    hot keys out of the join) and is SCALE-RELATIVE — df <= 40% of
    n_docs, as an integer inequality df*5 <= 2*n_docs; the original
    absolute df <= 200 emptied the result at sf0.1, where every token's
    df exceeds it (trivially green - the r6 empty-result audit). n_docs
    rides in as a broadcast cross join of a 1-row aggregate — ONE plan,
    no separate driver-side count job."""
    d = load_table(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    toks = d.select("doc_id", F.explode(tx.tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    return (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") * 5 <= 2 * F.col("n_docs"))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tf_idf"),
        )
    )


@query(
    "text_chunks",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, {_TOKS} AS ts FROM documents)
               SELECT doc_id,
                      CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
                      array_to_string(ts[s : least(s + 63, len(ts))], ' ')
                        AS chunk_text,
                      CAST(least(s + 63, len(ts)) - s + 1 AS BIGINT)
                        AS n_chunk_tokens
               FROM toks,
                    unnest(generate_series(1, greatest(len(ts) - 16, 1), 48))
                      AS u(s)
               WHERE len(ts) > 0""",
)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (64-token chunks, 16-token overlap, stride
    48) — the context-length pre-pass of an LLM pipeline, entirely
    JVM-side: sequence → slice → posexplode (operators/text.py
    chunk_documents)."""
    return tx.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        chunk_size=64,
        overlap=16,
    )


@query(
    "text_repetition",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, {_TOKS} AS ts FROM documents),
               w AS (
                 SELECT doc_id,
                        CASE WHEN len(ts) >= 3
                             THEN [ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                   for i in range(1, len(ts) - 1)]
                             ELSE [] END AS wins
                 FROM toks)
               SELECT doc_id,
                      CAST(len(wins) AS BIGINT) AS n3_total,
                      CAST(len(list_distinct(wins)) AS BIGINT) AS n3_distinct,
                      CASE WHEN len(wins) > 0
                           THEN 1.0 - (CAST(len(list_distinct(wins)) AS BIGINT)
                                       / CAST(len(wins) AS BIGINT))
                           ELSE 0.0 END AS rep_ratio
               FROM w""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetitious-text signal (MassiveText/Gopher-style filter): share
    of repeated word 3-grams per document. Integer-derived ratio → exact
    across engines."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tx.tokens("text").alias("__toks"))
    r = tx.repetition_components(F.col("__toks"), n=3)
    return t.select(
        "doc_id",
        r["total"].alias("n3_total"),
        r["distinct"].alias("n3_distinct"),
        r["ratio"].alias("rep_ratio"),
    )


def _pii_sql_text() -> str:
    """The synthetic PII suffix, as DuckDB SQL (mirrors _pii_spark_text)."""
    return (
        "text || ' Reach user' || CAST(doc_id AS VARCHAR)"
        " || '@mail.example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.7 or +1 (555) 010-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
    )


def _pii_scrub_oracle() -> str:
    expr = _pii_sql_text()
    for pat, repl in tx.PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"SELECT doc_id, {expr} AS scrubbed FROM documents"


@query("pii_scrub", oracle=_pii_scrub_oracle())
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / IPs / phone-shaped spans → typed tags) —
    the pre-training redaction pass. The corpus is synthetic, so each doc
    gets a deterministic PII suffix appended BEFORE scrubbing; both
    engines then run the identical regexp_replace chain
    (operators/text.py PII_PATTERNS — RE2- and Java-regex-compatible by
    construction)."""
    d = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" Reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    return d.select("doc_id", tx.scrub_pii(pii_text).alias("scrubbed"))


@query(
    "contamination",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, {_TOKS} AS ts FROM documents),
               sh AS (
                 SELECT doc_id,
                        list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                       || ' ' || ts[i+3] || ' ' || ts[i+4]
                                       for i in range(1, len(ts) - 3)]) AS shingles
                 FROM toks WHERE len(ts) >= 5),
               ex AS (
                 SELECT doc_id, unnest(shingles) AS shingle FROM sh)
               SELECT a.doc_id AS train_id, b.doc_id AS test_id,
                      count(*) AS n_common
               FROM ex a JOIN ex b ON a.shingle = b.shingle
               WHERE a.doc_id >= 25 AND b.doc_id < 25
               GROUP BY 1, 2""",
)
def contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination detection (eval-integrity pass): docs
    0-24 act as the held-out eval set, the rest as training corpus; every
    (train, test) pair sharing a distinct word 5-gram is flagged with its
    overlap count. The tiny test side broadcasts — the train side never
    shuffles (operators/dedup.py contamination_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") < 25)
    train = d.filter(F.col("doc_id") >= 25)
    return dd.contamination_pairs(
        train, test, "doc_id", "text", n=5, min_common=1
    ).select("train_id", "test_id", F.col("n_common").cast("long").alias("n_common"))


@query(
    "dedup_clusters",
    oracle="""WITH RECURSIVE toks AS (
                SELECT doc_id,
                       list_filter(string_split(trim(text), ' '), t -> t <> '') AS ts
                FROM documents),
              sh AS (
                SELECT doc_id,
                       list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                      for i in range(1, len(ts) - 1)]) AS shingles
                FROM toks WHERE len(ts) >= 3),
              ex AS (
                SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n,
                       unnest(shingles) AS shingle
                FROM sh),
              pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common,
                       any_value(a.n) AS n_a, any_value(b.n) AS n_b
                FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
                HAVING count(*) / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.8),
              edges AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs),
              nodes AS (SELECT DISTINCT a AS node FROM edges),
              reach(src, dst) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
              SELECT src AS doc_id, min(dst) AS component
              FROM reach GROUP BY src""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS via iterative connected components
    (min-label propagation, operators/graph.py) — the step that picks one
    representative per duplicate group. The oracle computes the same
    components with a recursive-CTE transitive closure."""
    from core_telecoms_etl_spark.operators.graph import connected_components

    pairs = _dedup_cluster_pairs(spark, sf_dir)
    cc = connected_components(
        pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b"
    )
    return cc.select(F.col("node").alias("doc_id"), "component")


def _dedup_cluster_pairs(
    spark: SparkSession, sf_dir: str, *, blocking: str = "exact"
) -> DataFrame:
    """The ≥0.8-jaccard pair relation behind dedup_clusters. `exact`
    (the gate config — inverted-index posting join, quadratic in the
    worst case) is what the DuckDB oracle mirrors; `minhash` is the
    production-scale route (banded LSH candidates + exact re-score —
    pair-set-identical to exact at every value-verified scale, sf2
    full-value r12) used by tools/agg_checksum_compare.py's sf10
    invariant gate, where the exact posting join is the Θ(n²/V) wall."""
    d = load_table(spark, sf_dir, "documents")
    if blocking == "minhash":
        cand = dd.minhash_lsh_pairs(
            d, "doc_id", "text", n=3, est_threshold=0.7
        )
        return dd.refine_pairs_exact(
            d, cand, "doc_id", "text", n=3, threshold=0.8
        )
    return dd.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.8)


# shared DuckDB fragments for the global-order queries: group + order key
# of the deterministic total order (mirrors operators/packing.py)
_GRP64 = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 64"
)
_ORD = "md5(CAST(doc_id AS VARCHAR))"


@query(
    "deterministic_shuffle",
    oracle=f"""SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY {_GRP64}, {_ORD}, doc_id)
                      - 1 AS BIGINT) AS shuffle_pos
               FROM documents""",
)
def deterministic_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable pseudo-random global training order: every doc gets a
    0-based position along md5(id) order via the two-level prefix sum
    (operators/packing.py — no single-partition global window). The
    oracle computes the identical positions with a plain global window
    over the same ORDER BY."""
    from core_telecoms_etl_spark.operators.packing import (
        deterministic_shuffle,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(d, "doc_id", n_groups=64)


@query(
    "sequence_pack",
    oracle=f"""WITH t AS (
                 SELECT doc_id,
                        CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                        {_GRP64} AS grp, {_ORD} AS ord
                 FROM documents),
               c AS (
                 SELECT doc_id, n_tokens,
                        sum(n_tokens) OVER (ORDER BY grp, ord, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens AS start
                 FROM t)
               SELECT doc_id, n_tokens,
                      CAST(floor(start / 512) AS BIGINT) AS seq_id,
                      CAST(start % 512 AS BIGINT) AS seq_offset
               FROM c""",
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat packing: docs laid head-to-tail along the
    deterministic shuffle order, cut every 512 tokens; each doc reports
    the training sequence holding its first token and its offset there.
    Two-level prefix sum over token counts (operators/packing.py)."""
    from core_telecoms_etl_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.token_count("text").alias("n_tokens")
    )
    return pack_sequences(
        d, "doc_id", "n_tokens", budget=512, n_groups=64
    )


_QUALITY = f"""(CAST(len(list_distinct({_TOKS})) AS BIGINT)
      / CAST(len({_TOKS}) AS BIGINT)) * 0.4
    + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
       / CAST(length(text) AS BIGINT)) * 0.4
    + least(({_MARK(_STOP)} / CAST(len({_TOKS}) AS BIGINT)) * 4.0, 1.0)
      * 0.2"""


@query(
    "quality_filter",
    oracle=f"""WITH s AS (
                 SELECT doc_id, {_QUALITY} AS quality_score
                 FROM documents)
               SELECT doc_id, quality_score FROM s
               WHERE quality_score >=
                 (SELECT quantile_cont(quality_score, 0.25) FROM s)""",
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality cut: keep docs at or above the 25th
    percentile of the quality score (operators/text.py
    quality_quantile_filter — exact percentile threshold broadcast back
    as a scalar filter; the interpolated threshold can never fall within
    an ulp of a data value, so membership matches the oracle exactly)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.quality_score("text").alias("quality_score")
    )
    return tx.quality_quantile_filter(d, "quality_score", 0.25)


_5GRAM = (
    "list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]"
    " || ' ' || ts[i+3] || ' ' || ts[i+4]"
    " for i in range(1, len(ts) - 3)])"
)


@query(
    "training_pipeline",
    oracle=f"""WITH s AS (
                 SELECT doc_id, text, {_QUALITY} AS q FROM documents),
               kept AS (
                 SELECT doc_id, text FROM s
                 WHERE q >= (SELECT quantile_cont(q, 0.25) FROM s)),
               reps AS (
                 SELECT min(doc_id) AS doc_id
                 FROM kept GROUP BY sha256(text)),
               uniq AS (
                 SELECT k.doc_id, k.text
                 FROM kept k JOIN reps r ON k.doc_id = r.doc_id),
               ttr AS (
                 SELECT doc_id, {_TOKS} AS ts FROM uniq
                 WHERE doc_id >= 25),
               tte AS (
                 SELECT doc_id, {_TOKS} AS ts FROM documents
                 WHERE doc_id < 25),
               ext AS (
                 SELECT doc_id, unnest({_5GRAM}) AS shingle
                 FROM ttr WHERE len(ts) >= 5),
               exe AS (
                 SELECT DISTINCT unnest({_5GRAM}) AS shingle
                 FROM tte WHERE len(ts) >= 5),
               contam AS (
                 SELECT DISTINCT t.doc_id
                 FROM ext t JOIN exe e ON t.shingle = e.shingle),
               clean AS (
                 SELECT u.doc_id, u.text FROM uniq u
                 WHERE u.doc_id >= 25
                   AND u.doc_id NOT IN (SELECT doc_id FROM contam)),
               train AS (
                 SELECT doc_id, text FROM clean
                 WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 15)) AS BIGINT)
                       % 1000000 < 800000),
               t AS (
                 SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                        {_GRP64} AS grp, {_ORD} AS ord
                 FROM train),
               c AS (
                 SELECT doc_id, n_tokens,
                        sum(n_tokens) OVER (ORDER BY grp, ord, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_tokens AS start
                 FROM t)
               SELECT doc_id, n_tokens,
                      CAST(floor(start / 512) AS BIGINT) AS seq_id,
                      CAST(start % 512 AS BIGINT) AS seq_offset
               FROM c""",
)
def training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LLM training-data pipeline as ONE composed Catalyst
    plan: corpus-relative quality cut (25th-percentile threshold) →
    exact dedup (keep lowest id per sha256) → train/eval decontamination
    (any shared distinct word-5-gram with the doc_id<25 eval set; eval
    postings broadcast) → deterministic 80% train split → GPT-style
    sequence packing at budget 512. Every stage is the same operator the
    standalone queries declare — this query proves they compose."""
    from core_telecoms_etl_spark.operators.packing import pack_sequences
    from core_telecoms_etl_spark.operators.sampling import dataset_split

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "text", tx.quality_score("text").alias("q")
    )
    kept = tx.quality_quantile_filter(scored, "q", 0.25).select(
        "doc_id", "text"
    )
    # keep-rows dedup (min_by through the one digest shuffle) — the
    # exact_dedup + join-back form evaluated `kept` (and its scalar-
    # subquery quality threshold) twice; survivors identical
    uniq = dd.exact_dedup_rows(kept, "text", "doc_id").select(
        "doc_id", "text"
    )
    clean = dd.decontaminate(
        uniq.filter(F.col("doc_id") >= 25),
        d.filter(F.col("doc_id") < 25),
        "doc_id",
        "text",
        n=5,
        min_common=1,
    )
    train = dataset_split(clean, "doc_id").filter(
        F.col("split") == "train"
    )
    counted = train.select(
        "doc_id", tx.token_count("text").alias("n_tokens")
    )
    return pack_sequences(
        counted, "doc_id", "n_tokens", budget=512, n_groups=64
    )


@query(
    "bigram_surprisal",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, {_TOKS} AS ts FROM documents),
               bg AS (
                 SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS bigram,
                        ts[i] AS w1
                 FROM toks,
                      unnest(generate_series(1, len(ts) - 1)) AS u(i)
                 WHERE len(ts) >= 2),
               bc AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
               uc AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
               v AS (SELECT count(*) AS vocab FROM uc)
               SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                      round(avg(-ln(CAST(c2 + 1 AS DOUBLE) / (c1 + vocab))
                                / 0.6931471805599453), 6) AS surprisal
               FROM bg JOIN bc USING (bigram) JOIN uc USING (w1) CROSS JOIN v
               GROUP BY doc_id""",
)
def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality score: per-document mean bigram surprisal
    under a bigram LM trained on the corpus itself — boilerplate / repeated
    text scores low, incoherent token soup scores high. The standard cheap
    LM filter for training-data curation where a neural perplexity model
    is too expensive for a first pass.

    One exploded bigram relation feeds both count tables (Catalyst reuses
    the scan); the stats joins shuffle on the bigram/unigram keys — vocab-
    sized relations, NOT broadcast by hand since at 100 TB a bigram vocab
    outgrows a broadcast; AQE picks broadcast when small. Laplace-smoothed
    P(w2|w1) = (c+1)/(c1+V): without smoothing a self-trained MLE gives
    every singleton bigram P=1 ⇒ surprisal 0, erasing exactly the rare-
    context signal the filter exists for. V (start-word vocab) rides in as
    a broadcast 1-row aggregate. Mean surprisal rounded at 6dp to absorb
    summation-order ulps."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tx.tokens("text").alias("ts")
    ).filter(F.size("ts") >= 2)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(ts, 1, size(ts) - 1),"
                "         slice(ts, 2, size(ts) - 1),"
                "         (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram"),
    )
    bc = bg.groupBy("bigram").agg(F.count("*").alias("c2"))
    # c1 (instances starting with w1) and V (start-word vocab) are
    # DERIVED from the vocabulary-sized bigram-count table — c1 = Σ c2
    # over bigrams sharing the start word, V = |distinct start words| —
    # instead of two more aggregations over the exploded fact relation:
    # the scan→tokenize→explode subtree is evaluated twice (probe + bc)
    # rather than four times (r15 optimization round; integer identity,
    # results bit-identical). The stats joins stay key-shuffled at
    # scale; AQE broadcasts them when small.
    bcw = bc.withColumn("w1", F.substring_index("bigram", " ", 1))
    uc = bcw.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = uc.agg(F.count("*").alias("vocab"))
    stats = (
        bcw.join(uc, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("bigram", "c2", "c1", "vocab")
    )
    return (
        bg.join(stats, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log(
                        (F.col("c2") + 1).cast("double")
                        / (F.col("c1") + F.col("vocab"))
                    )
                    / F.lit(0.6931471805599453)
                ),
                6,
            ).alias("surprisal"),
        )
    )


_3GRAM_SH = (
    "list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]"
    " for i in range(1, len(ts) - 1)])"
)


@query(
    "domain_cap",
    oracle="""SELECT doc_id, source, n_chars, rk FROM (
                SELECT doc_id, source, n_chars,
                       CAST(row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
                FROM documents) WHERE rk <= 10""",
)
def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-domain document cap: keep at most 10 docs per source,
    preferring longer docs (n_chars desc, doc_id tiebreak) — the
    anti-domination pass of corpus curation. Plans as WindowGroupLimit
    (per-partition top-n pushed below the final rank filter)."""
    from core_telecoms_etl_spark.operators.sampling import cap_per_group

    d = load_table(spark, sf_dir, "documents")
    return cap_per_group(
        d.select("doc_id", "source", "n_chars"),
        "source",
        [F.desc("n_chars"), F.col("doc_id")],
        10,
        rank_col="rk",
    )


@query(
    "gopher_quality",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, {_TOKS} AS ts FROM documents),
               m AS (
                 SELECT doc_id,
                        CAST(len(ts) AS BIGINT) AS n_words,
                        CAST(list_sum(list_transform(ts, t -> length(t)))
                             AS BIGINT) AS wc,
                        CAST(len(list_filter(ts,
                             t -> regexp_matches(t, '[a-zA-Z]')))
                             AS BIGINT) AS aw,
                        CAST(len(list_filter(ts,
                             t -> NOT regexp_matches(t, '[a-zA-Z0-9]')))
                             AS BIGINT) AS sw,
                        CAST(len(list_filter(ts,
                             t -> list_contains({_STOP}, lower(t))))
                             AS BIGINT) AS n_stopwords
                 FROM toks WHERE len(ts) >= 1)
               SELECT doc_id, n_words,
                      wc / n_words AS mean_word_len,
                      aw / n_words AS frac_alpha_words,
                      sw / n_words AS frac_symbol_words,
                      n_stopwords,
                      (n_words >= 50 AND n_words <= 100000
                       AND wc / n_words >= 3 AND wc / n_words <= 10
                       AND aw / n_words >= 0.8
                       AND sw / n_words < 0.1
                       AND n_stopwords >= 2) AS keep
               FROM m""",
)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality flags (Rae et al. 2021 §A1.1):
    word-count bounds, mean word length in [3,10], ≥80% of words contain
    a letter, <10% symbol-only words, ≥2 English stopwords. All integer
    counts + exact-int divisions → both engines produce bit-identical
    doubles, so the keep flag matches exactly. Single scan, all
    whole-stage-codegen'd higher-order functions."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tx.tokens("text").alias("ts"))
        .filter(F.size("ts") >= 1)
    )
    stop_arr = F.array(*[F.lit(s) for s in tx.EN_STOPWORDS])
    n_words = F.size("ts").cast("long")
    wc = F.aggregate(
        F.transform("ts", lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda a, x: a + x.cast("long"),
    )
    aw = F.size(F.filter("ts", lambda t: t.rlike("[a-zA-Z]"))).cast("long")
    sw = F.size(
        F.filter("ts", lambda t: ~t.rlike("[a-zA-Z0-9]"))
    ).cast("long")
    n_stop = F.size(
        F.filter("ts", lambda t: F.array_contains(stop_arr, F.lower(t)))
    ).cast("long")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        wc.alias("wc"),
        aw.alias("aw"),
        sw.alias("sw"),
        n_stop.alias("n_stopwords"),
    )
    mean_wl = F.col("wc") / F.col("n_words")
    frac_a = F.col("aw") / F.col("n_words")
    frac_s = F.col("sw") / F.col("n_words")
    return m.select(
        "doc_id",
        "n_words",
        mean_wl.alias("mean_word_len"),
        frac_a.alias("frac_alpha_words"),
        frac_s.alias("frac_symbol_words"),
        "n_stopwords",
        (
            (F.col("n_words") >= 50)
            & (F.col("n_words") <= 100000)
            & (mean_wl >= 3)
            & (mean_wl <= 10)
            & (frac_a >= 0.8)
            & (frac_s < 0.1)
            & (F.col("n_stopwords") >= 2)
        ).alias("keep"),
    )


@query(
    "corpus_incremental_dedup",
    oracle=f"""WITH batch AS (
                 SELECT * FROM documents WHERE doc_id % 10 < 2),
               corpus AS (
                 SELECT * FROM documents WHERE doc_id % 10 >= 2),
               exact_hits AS (
                 SELECT DISTINCT b.doc_id FROM batch b
                 JOIN corpus c ON b.text = c.text),
               btoks AS (SELECT doc_id, {_TOKS} AS ts FROM batch),
               ctoks AS (SELECT doc_id, {_TOKS} AS ts FROM corpus),
               bex AS (
                 SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n,
                        unnest(shingles) AS shingle
                 FROM (SELECT doc_id, {_3GRAM_SH} AS shingles
                       FROM btoks WHERE len(ts) >= 3)),
               cex AS (
                 SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n,
                        unnest(shingles) AS shingle
                 FROM (SELECT doc_id, {_3GRAM_SH} AS shingles
                       FROM ctoks WHERE len(ts) >= 3)),
               near_hits AS (
                 SELECT DISTINCT bid AS doc_id FROM (
                   SELECT bex.doc_id AS bid, cex.doc_id AS cid,
                          count(*) AS n_common,
                          any_value(bex.n) AS n_b, any_value(cex.n) AS n_c
                   FROM bex JOIN cex ON bex.shingle = cex.shingle
                   GROUP BY bex.doc_id, cex.doc_id
                   HAVING count(*) / (any_value(bex.n) + any_value(cex.n)
                                      - count(*)) >= 0.8))
               SELECT doc_id, source, n_chars FROM batch
               WHERE doc_id NOT IN (SELECT doc_id FROM exact_hits)
                 AND doc_id NOT IN (SELECT doc_id FROM near_hits)""",
)
def corpus_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: docs with doc_id % 10 < 2 play the newly
    ingested batch, the rest the existing (already-clean) corpus; batch
    docs that exactly or near-duplicate (3-gram Jaccard ≥ 0.8) a corpus
    doc are dropped. The corpus side never shuffles — both cuts stream it
    against the broadcast batch (operators/dedup.py incremental_dedup),
    whose near cut joins the exact string shingles."""
    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 10 < 2)
    corpus = d.filter(F.col("doc_id") % 10 >= 2)
    return dd.incremental_dedup(
        corpus, batch, "doc_id", "text", n=3, threshold=0.8
    ).select("doc_id", "source", "n_chars")


@query(
    "cms_heavy_hitters",
    oracle=f"""WITH toks AS (
                 SELECT unnest({_TOKS}) AS token FROM documents),
               exact AS (
                 SELECT token, count(*) AS n_exact
                 FROM toks GROUP BY token
                 ORDER BY n_exact DESC, token LIMIT 20)
               SELECT token, n_exact,
                      CAST(1 AS BIGINT) AS never_undercounts,
                      CAST(1 AS BIGINT) AS within_error_bound
               FROM exact""",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter counts from a count-min sketch built with relational
    primitives (`operators/sketches.py`): the counter matrix is a FIXED
    depth×width=4×8192-row state table no matter how many distinct
    tokens stream through — the bounded-state alternative to
    `token_topk`'s exact groupBy when the key space itself doesn't fit
    (URLs/user-agents/n-grams at 100 TB), and it merges across
    days/shards without rescan (`cms_merge`).

    Driver-checked projection: the exact top-20 token counts (one
    groupBy pass — the in-plan baseline) plus two flags per token
    checked against the sketch estimate: `never_undercounts`
    (CMS structural guarantee, always true) and `within_error_bound`
    (overcount ≤ e·N/width, the Cormode–Muthukrishnan bound at
    probability 1−e^-depth; deterministic here because hashing is
    seeded xxhash64, no RNG — measured green at sf0.001/0.01/0.1)."""
    from math import e as _e

    from core_telecoms_etl_spark.operators import sketches as sk

    depth, width = 4, 8192
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx.tokens("text")).alias("token"))
    counters = sk.cms_build(toks, "token", depth=depth, width=width)
    top20 = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "token")
        .limit(20)
    )
    est = sk.cms_estimate(counters, top20, "token", width=width)
    total = toks.agg(F.count("*").alias("__N"))
    return (
        top20.join(est, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "n_exact",
            (F.col("cms_est") >= F.col("n_exact"))
            .cast("long")
            .alias("never_undercounts"),
            (
                (F.col("cms_est") - F.col("n_exact")).cast("double")
                <= F.lit(_e) * F.col("__N") / F.lit(width)
            )
            .cast("long")
            .alias("within_error_bound"),
        )
    )


@query(
    "segment_boilerplate_dedup",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, {_TOKS} AS ts FROM documents),
               nz AS (SELECT * FROM toks WHERE len(ts) > 0),
               segs0 AS (
                 SELECT doc_id,
                        unnest([{{'pos': i,
                                  'seg': array_to_string(
                                     ts[(i*10+1):(i*10+10)], ' ')}}
                                for i in range(0,
                                  CAST(ceil(len(ts)/10.0) AS BIGINT))])
                          AS u
                 FROM nz),
               segs AS (
                 SELECT doc_id, u.pos AS pos, u.seg AS seg FROM segs0),
               freq AS (
                 SELECT seg, count(DISTINCT doc_id) AS df
                 FROM segs GROUP BY seg),
               kept AS (
                 SELECT s.doc_id, s.pos, s.seg
                 FROM segs s JOIN freq f USING (seg) WHERE f.df <= 2),
               nseg AS (
                 SELECT doc_id, count(*) AS n_segs
                 FROM segs GROUP BY doc_id)
               SELECT k.doc_id, n.n_segs, count(*) AS n_kept,
                      string_agg(k.seg, ' ' ORDER BY k.pos) AS clean_text
               FROM kept k JOIN nseg n USING (doc_id)
               GROUP BY k.doc_id, n.n_segs""",
)
def segment_boilerplate_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate removal (the C4/RefinedWeb line-dedup
    pass, at 10-token-segment granularity since this corpus has no
    newlines): segments appearing in more than 2 documents are dropped
    corpus-wide and the survivors reassemble in order
    (`operators/dedup.py segment_dedup`). Near-dup document clusters in
    the corpus make shared segments real, so the query exercises both
    the drop and the reassembly. Plan: one frequency groupBy + one
    join-back + one sort_array(collect_list(struct)) re-assembly — no
    windows, no single-partition sorts; at 100 TB the frequency
    exchange keys on xxhash64(segment) (see operator docstring)."""
    return dd.segment_dedup(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        seg_tokens=10,
        max_df=2,
    )


# Single source of truth for the BM25 query terms: the Spark side
# iterates the Python list, the DuckDB oracle literal is derived
# from the SAME list — editing one cannot silently desync the other.
_BM25_QUERY_TERMS = ["join", "window", "spark"]
_BM25_TERMS = "[" + ", ".join(f"'{t}'" for t in _BM25_QUERY_TERMS) + "]"


@query(
    "bm25_retrieval",
    oracle=f"""WITH toks AS (
                 SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
               dl AS (
                 SELECT doc_id, CAST(count(*) AS BIGINT) AS len
                 FROM toks GROUP BY doc_id),
               stats AS (
                 SELECT CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(len) AS DOUBLE) / count(*) AS avgdl
                 FROM dl),
               tf AS (
                 SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                 FROM toks
                 WHERE list_contains({_BM25_TERMS}, token)
                 GROUP BY doc_id, token),
               df AS (
                 SELECT token,
                        CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                 FROM tf GROUP BY token),
               scored AS (
                 SELECT tf.doc_id,
                        sum(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - df.df
                                      + 0.5) / (CAST(df.df AS DOUBLE)
                                      + 0.5))
                            * (CAST(tf.tf AS DOUBLE) * 2.2)
                            / (CAST(tf.tf AS DOUBLE)
                               + 1.2 * (0.25 + 0.75
                                        * CAST(dl.len AS DOUBLE)
                                        / s.avgdl))) AS score
                 FROM tf
                 JOIN df ON tf.token = df.token
                 JOIN dl ON tf.doc_id = dl.doc_id
                 CROSS JOIN stats s
                 GROUP BY tf.doc_id)
               SELECT doc_id, round(score, 6) AS bm25
               FROM scored
               ORDER BY round(score, 6) DESC, doc_id
               LIMIT 20""",
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed term set —
    the lexical-search scoring behind RAG/eval retrieval pipelines
    (Robertson & Spärck Jones probabilistic relevance; k1=1.2,
    b=0.75). Plan: doc lengths and the (n_docs, avgdl) scalar come
    from ONE exploded-token aggregation pass; term frequencies are
    computed ONLY for the query terms (filter pushes below the tf
    aggregate, so the shuffle carries query-term postings, never the
    vocabulary); per-term df and the 1-row stats broadcast back;
    TakeOrderedAndProject keeps the top-k without a global sort.

    Engine parity: every float factor is the same mirrored IEEE
    expression on exact BIGINT inputs (tf, df, len, n_docs); the only
    cross-engine wobble source is ln(), absorbed by the same 6-dp
    round the tf_idf oracle uses, and the k-boundary is made
    deterministic by the (rounded score, doc_id) tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    terms = _BM25_QUERY_TERMS
    k1, b = 1.2, 0.75
    toks = d.select("doc_id", F.explode(tx.tokens("text")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("len"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum("len").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy(F.col("token").alias("__t")).agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_term = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("len").cast("double") / F.col("avgdl")
        )
    )
    scored = (
        tf.join(F.broadcast(df_), tf["token"] == F.col("__t"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_term).alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "zipf_profile",
    oracle="""WITH toks AS (
                SELECT unnest(list_filter(string_split(trim(text), ' '),
                              t -> t <> '')) AS tok
                FROM documents),
              tc AS (SELECT tok, count(*) AS n FROM toks GROUP BY 1),
              tot AS (SELECT count(*) AS n_types,
                             CAST(sum(n) AS BIGINT) AS n_tokens
                      FROM tc),
              top AS (SELECT tok, n,
                             row_number() OVER (ORDER BY n DESC, tok)
                               AS r
                      FROM tc ORDER BY n DESC, tok LIMIT 200),
              s AS (SELECT count(*) AS k,
                           round(sum(ln(CAST(r AS DOUBLE))), 6) AS sx,
                           round(sum(ln(CAST(n AS DOUBLE))), 6) AS sy,
                           round(sum(ln(CAST(r AS DOUBLE))
                                     * ln(CAST(n AS DOUBLE))), 6) AS sxy,
                           round(sum(ln(CAST(r AS DOUBLE))
                                     * ln(CAST(r AS DOUBLE))), 6) AS sxx
                    FROM top)
              SELECT n_types, n_tokens, k AS k_top,
                     round((CAST(k AS DOUBLE) * sxy - sx * sy)
                           / (CAST(k AS DOUBLE) * sxx - sx * sx), 6)
                       AS zipf_slope,
                     round((sy - (CAST(k AS DOUBLE) * sxy - sx * sy)
                                 / (CAST(k AS DOUBLE) * sxx - sx * sx)
                                 * sx) / CAST(k AS DOUBLE), 6)
                       AS zipf_intercept
              FROM tot CROSS JOIN s""",
)
def zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — corpus Zipf fit: OLS slope of ln(freq) vs ln(rank) over the
    top-200 token frequencies (a natural corpus has slope ≈ −1;
    machine-generated or templated text bends it — a cheap corpus-level
    quality screen to sit beside the per-doc Gopher rules).

    Exactness: token counts and ranks are exact integers with a full
    (n DESC, token) tiebreak; the four 200-term ln sums are rounded at
    6dp (the repo's ln absorption) BEFORE the closed-form slope, so
    both engines combine identical rounded intermediates.

    Scale: one shuffle to corpus token counts (map-side combined),
    TakeOrdered top-200, and a 200-row single-partition window/fold
    (bounded by K, pmod idiom)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    tot = tc.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("n").alias("n_tokens"),
    )
    top = tc.orderBy(F.desc("n"), "tok").limit(200)
    w = Window.partitionBy(xp.single_partition("tok")).orderBy(
        F.desc("n"), "tok"
    )
    ranked = top.withColumn("r", F.row_number().over(w).cast("long"))
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("n").cast("double"))
    s = ranked.agg(
        F.count("*").cast("long").alias("k"),
        F.round(F.sum(lx), 6).alias("sx"),
        F.round(F.sum(ly), 6).alias("sy"),
        F.round(F.sum(lx * ly), 6).alias("sxy"),
        F.round(F.sum(lx * lx), 6).alias("sxx"),
    )
    kd = F.col("k").cast("double")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        kd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return tot.join(F.broadcast(s)).select(
        "n_types",
        "n_tokens",
        F.col("k").alias("k_top"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / kd, 6
        ).alias("zipf_intercept"),
    )


@query(
    "keyword_pmi",
    oracle="""WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(trim(text), ' '),
                                   t -> t <> '') AS ts
                FROM documents),
              uni AS (
                SELECT unnest(ts) AS tok FROM toks),
              uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
              m AS (SELECT CAST(sum(c) AS BIGINT) AS m_tokens FROM uc),
              bi AS (
                SELECT unnest([ts[i] || ' ' || ts[i+1]
                               for i in range(1, len(ts))]) AS bg
                FROM toks WHERE len(ts) >= 2),
              bc AS (SELECT bg, count(*) AS cxy FROM bi GROUP BY 1),
              nb AS (SELECT CAST(sum(cxy) AS BIGINT) AS n_bigrams FROM bc),
              j AS (
                SELECT bg, cxy,
                       string_split(bg, ' ')[1] AS w1,
                       string_split(bg, ' ')[2] AS w2
                FROM bc WHERE cxy >= 5)
              SELECT bg AS bigram, cxy AS n_pair,
                     l.c AS n_left, r.c AS n_right,
                     round(ln(CAST(cxy AS DOUBLE) * m_tokens * m_tokens
                              / (CAST(n_bigrams AS DOUBLE) * l.c * r.c)),
                           6) AS pmi
              FROM j
              JOIN uc l ON j.w1 = l.tok
              JOIN uc r ON j.w2 = r.tok
              CROSS JOIN m CROSS JOIN nb
              ORDER BY pmi DESC, bigram LIMIT 25""",
)
def keyword_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — collocation extraction: top-25 adjacent word pairs by PMI
    (min pair count 5) — the classic keyword/phrase miner, and the
    building block of phrase-aware tokenization in training pipelines.

    Exactness: unigram/bigram counts are exact BIGINT; PMI is ONE
    mirrored expression ln(c_xy·M²/(N·c_x·c_y)) — integer-product
    double ratio, then a single ln, rounded at 6dp (full tiebreak).

    Scale: two corpus shuffles (unigram + bigram counts, both map-side
    combined); the two unigram joins key on the bigram's words; totals
    are 1-row broadcasts; TakeOrdered top-25. No windows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tx.tokens("text").alias("ts"))
    uc = (
        toks.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    m = uc.agg(F.sum("c").alias("m_tokens"))
    bc = (
        toks.filter(F.size("ts") >= 2)
        .select(F.explode(tx.ngram_windows(F.col("ts"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("cxy"))
    )
    nb = bc.agg(F.sum("cxy").alias("n_bigrams"))
    j = bc.filter(F.col("cxy") >= 5).select(
        "bg",
        "cxy",
        F.split(F.col("bg"), " ").getItem(0).alias("w1"),
        F.split(F.col("bg"), " ").getItem(1).alias("w2"),
    )
    out = (
        j.join(uc.select(F.col("tok").alias("w1"), F.col("c").alias("cl")), "w1")
        .join(uc.select(F.col("tok").alias("w2"), F.col("c").alias("cr")), "w2")
        .join(F.broadcast(m))
        .join(F.broadcast(nb))
    )
    pmi = F.round(
        F.log(
            F.col("cxy").cast("double")
            * F.col("m_tokens")
            * F.col("m_tokens")
            / (
                F.col("n_bigrams").cast("double")
                * F.col("cl")
                * F.col("cr")
            )
        ),
        6,
    )
    return (
        out.select(
            F.col("bg").alias("bigram"),
            F.col("cxy").alias("n_pair"),
            F.col("cl").alias("n_left"),
            F.col("cr").alias("n_right"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(25)
    )


@query(
    "lexical_diversity",
    oracle="""WITH toks AS (
                SELECT source,
                       unnest(list_filter(string_split(trim(text), ' '),
                              t -> t <> '')) AS tok
                FROM documents),
              tc AS (SELECT source, tok, count(*) AS n
                     FROM toks GROUP BY 1, 2),
              s AS (SELECT source,
                           count(*) AS n_types,
                           CAST(sum(n) AS BIGINT) AS n_tokens,
                           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_hapax,
                           CAST(sum(n * length(tok)) AS BIGINT) AS n_chars
                    FROM tc GROUP BY 1)
              SELECT source, n_types, n_tokens, n_hapax,
                     round(CAST(n_types AS DOUBLE)
                           / CAST(n_tokens AS DOUBLE), 6) AS ttr,
                     round(CAST(n_hapax AS DOUBLE)
                           / CAST(n_types AS DOUBLE), 6) AS hapax_ratio,
                     round(CAST(n_chars AS DOUBLE)
                           / CAST(n_tokens AS DOUBLE), 6) AS mean_token_len
              FROM s ORDER BY source""",
)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — per-source lexical diversity: type-token ratio, hapax
    (frequency-1) ratio, and mean token length — the vocabulary-health
    screen that separates natural prose from templated/boilerplate
    sources in a training mix.

    Exactness: everything accumulates as BIGINT at the (source, token)
    grain; the three ratios are single mirrored divisions.

    Scale: one corpus shuffle to (source, token) counts (map-side
    combined), then a |sources|-row rollup. No windows, no arrays
    crossing the exchange — tokens explode map-side."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
    )
    s = tc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("n").alias("n_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.sum(F.col("n") * F.length("tok")).alias("n_chars"),
    )
    return s.select(
        "source",
        "n_types",
        "n_tokens",
        "n_hapax",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("ttr"),
        F.round(
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double"),
            6,
        ).alias("hapax_ratio"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("mean_token_len"),
    ).orderBy("source")


@query(
    "containment_near_dup",
    oracle="""WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(trim(text), ' '), t -> t <> '') AS ts
                FROM documents),
              sh AS (
                SELECT doc_id,
                       list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                                      for i in range(1, len(ts) - 1)]) AS shingles
                FROM toks WHERE len(ts) >= 3),
              ex AS (
                SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n,
                       unnest(shingles) AS shingle
                FROM sh),
              pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common,
                       any_value(a.n) AS n_a, any_value(b.n) AS n_b
                FROM ex a JOIN ex b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
              bidir AS (
                SELECT doc_a AS doc_src, doc_b AS doc_dst,
                       n_common, n_a AS n_src FROM pairs
                UNION ALL
                SELECT doc_b, doc_a, n_common, n_b FROM pairs)
              SELECT doc_src, doc_dst, n_common, n_src,
                     round(CAST(n_common AS DOUBLE) / n_src, 6) AS containment
              FROM bidir
              WHERE CAST(n_common AS DOUBLE) / n_src >= 0.9
              ORDER BY doc_src, doc_dst""",
)
def containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — ASYMMETRIC containment near-dup: |S(a)∩S(b)|/|S(a)| ≥ 0.9
    catches quote-inclusion and subset documents that symmetric jaccard
    misses (a short doc fully embedded in a long one has low jaccard
    but containment 1.0) — the dedup direction C4/RefinedWeb apply to
    boilerplate-wrapped copies.

    Exactness: `dd.containment_pairs` — asymmetric prefix-filtered
    candidates (LOSSLESS: a directed pair with containment ≥ t must
    share one of src's |x|−⌈t·|x|⌉+1 rarest shingles, pigeonhole),
    verified by exact array_intersect counts; identical output to the
    r7 threshold-0 full pair pass, without its Σdf² stop-shingle
    blowup (the r7 verdict's one scale-killer plan — 7.26× at 8× data;
    the prefix-filtered plan re-probed sub-2× in BASELINE.md r8).
    Containment is a single mirrored division on integer counts."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.9
    )
    cont = F.col("n_common").cast("double") / F.col("n_src")
    return pairs.select(
        "doc_src",
        "doc_dst",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_src").cast("long").alias("n_src"),
        F.round(cont, 6).alias("containment"),
    ).orderBy("doc_src", "doc_dst")


@query(
    "duplicate_rate_by_source",
    oracle="""WITH h AS (
                SELECT source,
                       sha256(regexp_replace(trim(lower(text)),
                                             '\\s+', ' ', 'g')) AS fp
                FROM documents)
              SELECT source,
                     count(*) AS n_docs,
                     count(DISTINCT fp) AS n_unique,
                     CAST(count(*) - count(DISTINCT fp) AS BIGINT)
                       AS n_dup_docs,
                     round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE)
                           / count(*), 6) AS dup_rate
              FROM h GROUP BY 1 ORDER BY 1""",
)
def duplicate_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 companion — corpus-health report: per-source exact-duplicate
    rate on the case/whitespace-normalized sha256 fingerprint (the
    "which feed is sending us copies" screen every ingest pipeline
    watches; C4 reported per-source dup rates the same way).

    Exactness: the normalization (lower → trim → collapse whitespace)
    and digest run identically in both engines (Java regex and RE2
    agree on \\s+); counts exact BIGINT, rate one mirrored expression.

    Scale: one shuffle keyed on (source, 32-byte digest) with map-side
    partials — bodies never cross the exchange."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("source", tx.normalized_sha256("text").alias("fp"))
    return (
        h.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique"))
            .cast("long")
            .alias("n_dup_docs"),
            F.round(
                F.lit(1.0)
                - F.col("n_unique").cast("double") / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "span_corruption",
    oracle="""WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(trim(text), ' '),
                                   t -> t <> '') AS ts
                FROM documents WHERE doc_id < 50),
              m AS (
                SELECT doc_id,
                       CAST(len(ts) AS BIGINT) AS n_tokens,
                       [CASE WHEN (i + doc_id) % 7 = 0 THEN '<MASK>'
                             ELSE ts[i] END
                        for i in range(1, len(ts) + 1)] AS masked,
                       [ts[i] for i in range(1, len(ts) + 1)
                        if (i + doc_id) % 7 = 0] AS targets
                FROM toks)
              SELECT doc_id, n_tokens,
                     CAST(len(targets) AS BIGINT) AS n_masked,
                     CASE WHEN masked IS NULL THEN NULL
                          ELSE coalesce(array_to_string(masked, ' '), '')
                     END AS masked_text,
                     CASE WHEN targets IS NULL THEN NULL
                          ELSE coalesce(array_to_string(targets, ' '), '')
                     END AS target_text
              FROM m ORDER BY doc_id""",
)
def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — denoising-objective data prep (T5-style span corruption,
    deterministic variant): token i of doc d is masked when
    (i + d) mod 7 == 0 — a content-independent, position-stable rule
    (no RNG, reproducible across runs/engines/partitionings, ~14%
    corruption rate), emitting the corrupted input and the target
    sequence per document.

    Exactness: pure integer index arithmetic + string assembly —
    identical tokenization (the repo's whitespace rule) and identical
    join separators on both engines. A document with ZERO masked
    tokens emits target_text '' (Spark array_join on an empty array),
    and the oracle pins that explicitly — DuckDB's array_to_string is
    NULL on an empty list, the same divergence class vector_quantize
    hit; latent here for every n < 7-token doc ((i+d) mod 7 need not
    hit) and unreachable until the r15 unicode corpus produced a
    single-token CJK document. NULL text stays NULL on both engines
    (the CASE guards only the empty-list arm).

    Scale: a single projection — tokenize, one indexed transform, one
    filter, two concat folds; no shuffle at all (the ORDER BY is the
    driver-check projection). The doc_id < 50 cut bounds the checked
    output; the operator itself is per-row and scale-free."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 50
    )
    ts = tx.tokens("text")
    idx = F.sequence(F.lit(1), F.size(ts))
    mask_hit = lambda i: ((i + F.col("doc_id")) % 7) == 0  # noqa: E731
    masked = F.transform(
        idx,
        lambda i: F.when(mask_hit(i), F.lit("<MASK>")).otherwise(
            F.element_at(ts, i)
        ),
    )
    targets = F.transform(
        F.filter(idx, mask_hit), lambda i: F.element_at(ts, i)
    )
    return (
        docs.select(
            "doc_id",
            F.size(ts).cast("long").alias("n_tokens"),
            F.size(targets).cast("long").alias("n_masked"),
            F.array_join(masked, " ").alias("masked_text"),
            F.array_join(targets, " ").alias("target_text"),
        )
        .orderBy("doc_id")
    )
