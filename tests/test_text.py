"""Text-analysis operator tests (SURVEY.md §2.13 X4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators import text as tx


def _one(spark, text: str):
    return spark.createDataFrame([(text,)], "text string")


def test_tokens_robust_to_whitespace(spark):
    df = _one(spark, "  a  b c  ")
    toks = df.select(tx.tokens("text").alias("t")).collect()[0].t
    assert toks == ["a", "b", "c"]


def test_token_counts(spark):
    df = _one(spark, "a b b c")
    row = df.select(
        tx.token_count("text").alias("n"),
        tx.distinct_token_count("text").alias("d"),
    ).collect()[0]
    assert (row.n, row.d) == (4, 3)


def test_bpe_ish_token_count(spark):
    df = _one(spark, "hello, world42!")
    n = df.select(tx.bpe_ish_token_count("text").alias("n")).collect()[0].n
    assert n == 5  # [hello][,][world][42][!]


def test_shingles_of(spark):
    df = _one(spark, "a b c d").select(tx.tokens("text").alias("t"))
    sh = df.select(tx.shingles_of(F.col("t"), 3).alias("s")).collect()[0].s
    assert sorted(sh) == ["a b c", "b c d"]


def test_predicted_lang_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("el gato y la casa de los perros",)],
        "text string",
    )
    out = [r.p for r in df.select(tx.predicted_lang("text").alias("p")).collect()]
    assert out == ["en", "es"]


def test_predicted_lang_cjk(spark):
    out = (
        _one(spark, "这 是 中文 文本 没有 英文 标记")
        .select(tx.predicted_lang("text").alias("p"))
        .collect()[0]
        .p
    )
    assert out == "zh"


def test_quality_score_bounds(spark, sf_dir):
    from core_telecoms_etl_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents")
    stats = d.select(tx.quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo and stats.hi <= 1.0


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",)], "text string"
    )
    rows = df.select(
        tx.content_sha256("text").alias("raw"),
        tx.normalized_sha256("text").alias("norm"),
    ).collect()
    assert rows[0].raw != rows[1].raw  # exact digests differ
    assert rows[0].norm == rows[1].norm  # normalized digests collide
    assert len(rows[0].raw) == 64


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely unrelated text about database engines"),
        ],
        "doc_id long, text string",
    )
    from core_telecoms_etl_spark.operators.dedup import simhash_signatures

    sigs = {
        r.doc_id: r.simhash
        for r in simhash_signatures(df, "doc_id", "text").collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])
    assert sigs[0] >= 0  # bit 63 dropped → stays in positive long range


@pytest.mark.parametrize(
    "text,expected",
    [("", 0), ("   ", 0), ("one", 1)],
)
def test_token_count_edge_cases(spark, text, expected):
    n = _one(spark, text).select(tx.token_count("text").alias("n")).collect()[0].n
    assert n == expected


def test_chunk_documents_overlap_and_tail(spark):
    from core_telecoms_etl_spark.operators.text import chunk_documents

    doc = " ".join(f"t{i}" for i in range(1, 114))  # 113 tokens
    df = spark.createDataFrame([(1, doc), (2, "a b c")], "doc_id long, text string")
    out = chunk_documents(df, chunk_size=64, overlap=16)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # doc 1: starts at tokens 1, 49, 97 (stride 48) — minimal cover, every
    # token present, adjacent chunks share exactly `overlap` tokens
    assert set(rows) == {(1, 0), (1, 1), (1, 2), (2, 0)}
    c0, c1, c2 = rows[(1, 0)], rows[(1, 1)], rows[(1, 2)]
    assert c0.n_chunk_tokens == 64 and c0.chunk_text.startswith("t1 t2 ")
    assert c1.chunk_text.startswith("t49 ")
    assert c0.chunk_text.split()[-16:] == c1.chunk_text.split()[:16]
    assert c1.chunk_text.split()[-16:] == c2.chunk_text.split()[:16]
    assert c2.n_chunk_tokens == 17 and c2.chunk_text.endswith(" t113")
    covered = {t for r in (c0, c1, c2) for t in r.chunk_text.split()}
    assert covered == {f"t{i}" for i in range(1, 114)}
    # short doc: exactly one whole chunk
    assert rows[(2, 0)].chunk_text == "a b c"


def test_repetition_ratio_detects_loops(spark):
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.operators.text import (
        repetition_components,
        tokens,
    )

    df = spark.createDataFrame(
        [
            (1, "spam ham eggs " * 10),      # heavy 3-gram repetition
            (2, " ".join(f"w{i}" for i in range(30))),  # no repetition
            (3, "too short"),                 # < n tokens
        ],
        "doc_id long, text string",
    )
    t = df.select("doc_id", tokens("text").alias("__toks"))
    r = repetition_components(F.col("__toks"), n=3)
    got = {
        row.doc_id: (row.total, row.distinct, row.ratio)
        for row in t.select("doc_id", r["total"].alias("total"),
                            r["distinct"].alias("distinct"),
                            r["ratio"].alias("ratio")).collect()
    }
    assert got[1][0] == 28 and got[1][1] == 3  # only 3 distinct rotations
    assert got[1][2] > 0.85
    assert got[2][2] == 0.0
    assert got[3] == (0, 0, 0.0)


def test_scrub_pii_redacts_typed_spans(spark):
    from core_telecoms_etl_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail a.user+x@sub.example.org, server 192.168.0.1, "
             "call +44 (0) 20-7946 0958 now")],
        "id long, text string",
    )
    out = df.select(scrub_pii("text").alias("s")).collect()[0].s
    assert "<EMAIL>" in out and "<IP>" in out and "<PHONE>" in out
    assert "@" not in out and "192.168" not in out and "7946" not in out
    assert out.startswith("mail <EMAIL>, server <IP>, call <PHONE> now")


def test_bigram_surprisal_ranks_boilerplate_below_novel(spark, tmp_path):
    """A document that repeats one phrase must score lower mean bigram
    surprisal than one whose bigrams are each unique in the corpus."""
    from core_telecoms_etl_spark.queries.text import bigram_surprisal

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "quick brown foxes vault over lazy sleeping hounds"),
            (3, "spam spam spam ham spam spam eggs spam"),
        ],
        "doc_id long, text string",
    )
    out = tmp_path / "sf"
    docs.write.parquet(str(out / "documents.parquet"))
    rows = {
        r.doc_id: r
        for r in bigram_surprisal(spark, str(out)).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1].n_bigrams == 7
    # boilerplate (1) < boilerplate with odd continuations (3) < novel (2);
    # Laplace smoothing keeps singleton bigrams above zero, so novelty in
    # a rare context outranks text the corpus has seen ten times
    assert rows[1].surprisal < rows[3].surprisal < rows[2].surprisal
    assert rows[2].surprisal > 0.0


def test_zipf_profile_shape_and_slope(spark):
    """Natural-ish corpus: slope negative, k_top bounded, types <=
    tokens."""
    import __spark_entry__ as e

    row = e.queries()["zipf_profile"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row.k_top <= 200
    assert row.n_types <= row.n_tokens
    assert row.zipf_slope < 0  # frequencies fall with rank


def test_keyword_pmi_hand_corpus(spark, tmp_path):
    """A bigram that always co-occurs scores ln(M^2/(N*c_x*c_y)) with
    c_xy = c_x = c_y; filler tokens dilute everything else below it."""
    import math

    from core_telecoms_etl_spark.queries.text import keyword_pmi

    docs = []
    # 6 docs "alpha beta", 6 docs of 2 shared filler tokens
    for i in range(6):
        docs.append((i, "alpha beta", "en", "s", 10))
    for i in range(6, 12):
        docs.append((i, "zz zz", "en", "s", 5))
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tmp_path / "c"
    df.write.parquet(str(d / "documents.parquet"))
    out = keyword_pmi(spark, str(d)).collect()
    by = {r.bigram: r for r in out}
    assert "alpha beta" in by
    r = by["alpha beta"]
    # M = 24 tokens, N = 12 bigrams, c_xy = 6, c_x = c_y = 6
    expect = math.log(6 * 24 * 24 / (12 * 6 * 6))
    assert abs(r.pmi - expect) < 1e-5
    assert r.pmi > by["zz zz"].pmi


def test_lexical_diversity_hand_values(spark, tmp_path):
    """One source with all-distinct tokens (ttr = 1, hapax = 1), one
    with a single repeated token (ttr -> 0, hapax = 0)."""
    from core_telecoms_etl_spark.queries.text import lexical_diversity

    df = spark.createDataFrame(
        [
            (1, "aa bb cc dd", "en", "uniq", 11),
            (2, "xx xx xx xx xx", "en", "rep", 14),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = tmp_path / "c"
    df.write.parquet(str(d / "documents.parquet"))
    out = {r.source: r for r in lexical_diversity(spark, str(d)).collect()}
    u = out["uniq"]
    assert (u.n_types, u.n_tokens, u.n_hapax) == (4, 4, 4)
    assert u.ttr == 1.0 and u.hapax_ratio == 1.0 and u.mean_token_len == 2.0
    r = out["rep"]
    assert (r.n_types, r.n_tokens, r.n_hapax) == (1, 5, 0)
    assert r.ttr == 0.2 and r.hapax_ratio == 0.0


def test_containment_catches_subset_doc(spark, tmp_path):
    """A short doc fully contained in a long one: containment 1.0 in
    the short->long direction, below threshold the other way — the
    asymmetry jaccard misses."""
    from core_telecoms_etl_spark.queries.text import containment_near_dup

    short = "one two three four five"
    long_ = short + " six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [(1, short, "en", "s", len(short)), (2, long_, "en", "s", len(long_))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = tmp_path / "c"
    df.write.parquet(str(d / "documents.parquet"))
    out = containment_near_dup(spark, str(d)).collect()
    assert [(r.doc_src, r.doc_dst) for r in out] == [(1, 2)]
    assert out[0].containment == 1.0


def test_duplicate_rate_normalization_collapses_case_space(spark, tmp_path):
    """'A  b' and 'a b ' are the same fingerprint; distinct text is
    not."""
    from core_telecoms_etl_spark.queries.text import duplicate_rate_by_source

    df = spark.createDataFrame(
        [
            (1, "A  b", "en", "s1", 4),
            (2, "a b ", "en", "s1", 4),
            (3, "other", "en", "s1", 5),
            (4, "x", "en", "s2", 1),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = tmp_path / "c"
    df.write.parquet(str(d / "documents.parquet"))
    out = {r.source: r for r in duplicate_rate_by_source(spark, str(d)).collect()}
    assert (out["s1"].n_docs, out["s1"].n_unique, out["s1"].n_dup_docs) == (3, 2, 1)
    assert abs(out["s1"].dup_rate - (1 - 2 / 3)) < 1e-6
    assert out["s2"].dup_rate == 0.0


def test_span_corruption_rule_and_roundtrip(spark, tmp_path):
    """The mask rule hits exactly (i + doc_id) % 7 == 0 positions, the
    masked text preserves token count, and targets line up with the
    masked slots."""
    from core_telecoms_etl_spark.queries.text import span_corruption

    text = " ".join(f"w{i}" for i in range(1, 15))  # 14 tokens
    df = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    d = tmp_path / "c"
    df.write.parquet(str(d / "documents.parquet"))
    r = span_corruption(spark, str(d)).collect()[0]
    toks = r.masked_text.split(" ")
    assert len(toks) == 14 and r.n_tokens == 14
    # doc 0: masked at i = 7, 14
    assert [i + 1 for i, t in enumerate(toks) if t == "<MASK>"] == [7, 14]
    assert r.target_text == "w7 w14"
    assert r.n_masked == 2
