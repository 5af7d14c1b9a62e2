"""Text-analysis operators (SURVEY.md §2.13 X4 + north-star extensions):
tokenization, token counting, language-ID heuristic, quality scoring,
document fingerprinting.

Everything row-level is built-in JVM expressions (split / filter /
higher-order functions / regexp) so the 100 TB path stays inside
whole-stage codegen — no Python in the scan loop. These are column
*expressions* (composable into any plan), not materialized ops.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic marker-token lists for the language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "los", "y"],
    "de": ["der", "die", "und", "das", "ein"],
    "fr": ["le", "les", "et", "des", "une"],
}
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization: split on single spaces, drop empties (robust
    to leading/trailing/double spaces)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), " "), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count via the BPE-style pre-tokenizer regex:
    runs of letters | runs of digits | single other non-space char."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)).cast(
        "long"
    )


def shingles_of(tokens_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    array column; empty array for docs with < n tokens.

    PERF: callers must project `tokens()` into its own column first.
    Passing the tokenizer expression straight in inlines its subtree
    into every element_at reference; when the expression fans out
    (explode, per-seed hashing), Catalyst keeps a multiply-referenced
    non-trivial alias materialized, so projecting the tokens first
    turns an O(tokens²) re-evaluation into O(tokens) (7× on the
    documents table).

    Total expression by construction: codegen subexpression elimination
    can evaluate a pushed-down predicate's subtree EAGERLY (bypassing AND
    short-circuit), so this must never error on short docs — hence the
    clamped sequence bound and try_element_at, with the WHEN guard giving
    the empty-array semantics."""
    t = tokens_col
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1)))
    parts = lambda i: [F.try_element_at(t, i + j) for j in range(n)]  # noqa: E731
    win = F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))
    return F.when(F.size(t) >= n, F.array_distinct(win)).otherwise(
        F.array().cast("array<string>")
    )


def marker_hits(col: Column | str, markers: list[str]) -> Column:
    """Count (with multiplicity) of tokens in the marker list."""
    t = tokens(col)
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(t, lambda x: F.array_contains(arr, x))).cast("long")


def cjk_char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[^一-鿿]", "")).cast("long")


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language marker scores; zh scored by CJK character presence."""
    out = {k: marker_hits(col, v) for k, v in LANG_MARKERS.items()}
    out["zh"] = cjk_char_count(col)
    return out


def predicted_lang(col: Column | str) -> Column:
    """Argmax over language scores with a fixed tie-break priority
    (en > es > de > fr > zh). Expressed as a CASE chain so the exact same
    SQL runs on any ANSI engine."""
    s = lang_scores(col)
    return (
        F.when(s["en"] >= F.greatest(s["es"], s["de"], s["fr"], s["zh"]), "en")
        .when(s["es"] >= F.greatest(s["de"], s["fr"], s["zh"]), "es")
        .when(s["de"] >= F.greatest(s["fr"], s["zh"]), "de")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )


def quality_components(col: Column | str) -> dict[str, Column]:
    """Deterministic quality signals: all ratios derive from integer counts
    so they are bit-identical across engines."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    n_distinct = distinct_token_count(c)
    n_chars = F.length(c).cast("long")
    n_alpha = F.length(F.regexp_replace(c, r"[^a-zA-Z]", "")).cast("long")
    stop_hits = marker_hits(c, EN_STOPWORDS)
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "type_token_ratio": n_distinct / n_tok,
        "alpha_ratio": n_alpha / n_chars,
        "stopword_ratio": stop_hits / n_tok,
    }


def quality_score(col: Column | str) -> Column:
    """Composite [0,1]-ish score: lexical diversity + alphabetic density +
    a stopword-presence signal (too few stopwords ⇒ keyword-stuffing-like).
    Fixed operand order keeps it bit-deterministic."""
    q = quality_components(col)
    return (
        q["type_token_ratio"] * 0.4
        + q["alpha_ratio"] * 0.4
        + F.least(q["stopword_ratio"] * 4.0, F.lit(1.0)) * 0.2
    )


def content_sha256(col: Column | str) -> Column:
    """Exact-content fingerprint (sha256 hex, lowercase)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def normalized_sha256(col: Column | str) -> Column:
    """Fingerprint robust to case/whitespace: lower + collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "), 256)


def simhash_weights(col: Column | str, seed: int = 42) -> Column:
    """SimHash bit-weight vector (63 slots) over whitespace tokens.

    Pure JVM expression, explode-free: tokens → xxhash64 once per token →
    fold into per-bit ±1 sums. MUST be materialized into its own column
    before `simhash_from_weights` reads the 63 bit positions — inlining
    would duplicate this aggregate 63× and blow up codegen (OOM)."""
    # hash each token ONCE into an array, then fold over the cheap longs
    # (folding over raw tokens would re-hash per bit position: 63×)
    hashes = F.transform(tokens(col), lambda tok: F.xxhash64(tok, F.lit(seed)))

    def hash_bits(h):
        # ±1 per bit position; shift amounts are Python ints (fixed plan)
        return F.array(
            *[
                F.when(F.shiftright(h, j).bitwiseAND(1) == 1, 1).otherwise(-1)
                for j in range(63)
            ]
        )

    # weights[j] = sum over tokens of (bit_j(h) ? 1 : -1)
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 63),
        lambda acc, h: F.zip_with(acc, hash_bits(h), lambda a, b: a + b),
    )


def simhash_from_weights(weights_col: Column) -> Column:
    """Sign-bit readout of a MATERIALIZED weight-vector column → 63-bit
    signature (positive long; bit 63 dropped deliberately)."""
    out = F.lit(0).cast("long")
    for j in range(63):
        out = out + F.when(
            F.element_at(weights_col, j + 1) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def ngram_windows(tokens_col: Column, n: int = 3) -> Column:
    """ALL word n-gram windows (with multiplicity, unlike `shingles_of`)
    from a MATERIALIZED token array column; empty array below n tokens.
    Same total-expression discipline as `shingles_of`."""
    t = tokens_col
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1)))
    parts = lambda i: [F.try_element_at(t, i + j) for j in range(n)]  # noqa: E731
    win = F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))
    return F.when(F.size(t) >= n, win).otherwise(
        F.array().cast("array<string>")
    )


def repetition_components(tokens_col: Column, n: int = 3) -> dict[str, Column]:
    """Intra-document repetition signals over word n-grams (the
    MassiveText/Gopher-style repetitious-text filter): total windows,
    distinct windows, and repetition ratio = 1 - distinct/total. All
    integer-derived → bit-identical across engines."""
    win = ngram_windows(tokens_col, n)
    total = F.size(win).cast("long")
    distinct = F.size(F.array_distinct(win)).cast("long")
    ratio = F.when(
        total > 0, 1.0 - (distinct / total)
    ).otherwise(F.lit(0.0))
    return {"total": total, "distinct": distinct, "ratio": ratio}


# PII scrubbing: conservative patterns valid in both Java regex and RE2
# (no lookaround/backrefs) so the oracle runs the identical expressions.
# Order matters: emails first (they contain digits), then IPs (dots would
# survive the phone charset anyway), then phone-like digit runs.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
]


def scrub_pii(col: Column | str) -> Column:
    """Redact email / IP / phone-shaped spans with typed tags — the
    pre-training scrub pass. Pure regexp_replace chain: stays inside
    whole-stage codegen, and the same three replacements run verbatim on
    any RE2/PCRE engine for differential checking."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


POSITIVE_WORDS = ["good", "great", "excellent", "happy", "love", "best"]
NEGATIVE_WORDS = ["bad", "poor", "terrible", "angry", "hate", "worst"]


def sentiment_counts(col: Column | str) -> tuple[Column, Column]:
    """(positive_hits, negative_hits) lexicon counts — the Spark-scale
    sentiment primitive (lexicon scoring parallelizes embarrassingly;
    model-based scoring slots in as a pandas UDF downstream)."""
    return (
        marker_hits(col, POSITIVE_WORDS),
        marker_hits(col, NEGATIVE_WORDS),
    )


def sentiment_polarity(col: Column | str) -> Column:
    """(pos - neg) / (pos + neg + 1) in [-1, 1): integer-derived, so the
    double is bit-identical on every engine; +1 smooths neutral docs."""
    pos, neg = sentiment_counts(col)
    return (pos - neg) / (pos + neg + F.lit(1))


def quality_quantile_filter(df, score_col, quantile: float = 0.25):
    """Drop rows below the `quantile`-th percentile of `score_col` — the
    corpus-relative quality cut of a training-data pipeline ("keep the
    top 75%"), as opposed to the absolute-threshold filter callers can
    already write themselves.

    The threshold is computed with `percentile` (exact, linearly
    interpolated) and broadcast back as a scalar cross join, so the data
    pass is an ordinary pushdown-able filter. Two passes over the data —
    unavoidable for a corpus-relative cut. Memory is proportional to
    DISTINCT score values (fine for ratio-valued scores).

    Boundary safety for exact-oracle comparison: an interpolated
    threshold lies strictly between two ADJACENT sorted data values, so
    no row can sit between this engine's threshold and another engine's
    ulp-different one — `score >= thr` membership matches bit-exactly.
    """
    c = F.col(score_col) if isinstance(score_col, str) else score_col
    thr = df.select(
        F.expr(f"percentile({score_col}, {quantile!r})").alias("__thr")
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .filter(c >= F.col("__thr"))
        .drop("__thr")
    )


def chunk_documents(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
):
    """Token-window document chunking — the context-length pre-pass of an
    LLM training pipeline: each doc expands into overlapping chunks of
    `chunk_size` tokens with `overlap` tokens carried between adjacent
    chunks (stride = chunk_size - overlap).

    All JVM-side: tokenize once (materialized projection, see
    `shingles_of` PERF note), build the start-index array with
    `sequence`, slice per start, `posexplode` into rows. A doc with
    ≤ chunk_size tokens yields exactly one chunk; the tail chunk may be
    short. Returns (id, chunk_id, chunk_text, n_chunk_tokens); the
    explode multiplies rows ≈ n_tokens/stride — size the shuffle
    partitions for the EXPANDED row count at scale."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    toks = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).filter(F.size("__toks") > 0)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("__toks") - overlap, F.lit(1)),
        F.lit(stride),
    )
    chunks = F.transform(
        starts, lambda s: F.slice("__toks", s, chunk_size)
    )
    return toks.select(
        id_col, F.posexplode(chunks).alias("chunk_id", "__chunk")
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
        F.size("__chunk").cast("long").alias("n_chunk_tokens"),
    )
