"""Fuzzy record-linkage operator tests."""

from __future__ import annotations

from core_telecoms_etl_spark.operators.linkage import (
    fuzzy_pairs,
    link_best_match,
)


def _people(spark):
    return spark.createDataFrame(
        [
            (1, "jon smith", "NY"),
            (2, "john smith", "NY"),
            (3, "jane smyth", "NY"),
            (4, "john smith", "CA"),  # same name, other block
            (5, "completely different", "NY"),
        ],
        "id long, name string, state string",
    )


def test_fuzzy_pairs_within_block_only(spark):
    out = fuzzy_pairs(_people(spark), "id", "name", "state", max_dist=2)
    pairs = {(r.id_a, r.id_b): r.edit_dist for r in out.collect()}
    assert pairs[(1, 2)] == 1  # jon/john
    assert (2, 4) not in pairs  # identical names but different block
    assert (1, 5) not in pairs  # beyond max_dist
    assert all(a < b for a, b in pairs)  # triangle cut, no dup pairs


def test_fuzzy_pairs_beyond_two_edits(spark):
    """max_dist above the deletion arm's k ≤ 2 runs the plain blocked
    join: a 3-substitution pair is found, and the plan has no
    neighborhood explode."""
    df = spark.createDataFrame(
        [
            (1, "abcdefghi", "NY"),
            (2, "abcXeXgXi", "NY"),  # 3 substitutions: lev 3
            (3, "unrelated string!", "NY"),
        ],
        "id long, name string, state string",
    )
    out = fuzzy_pairs(df, "id", "name", "state", max_dist=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan
    got = {(r.id_a, r.id_b, r.edit_dist) for r in out.collect()}
    assert got == {(1, 2, 3)}


def test_link_best_match_picks_lowest_distance(spark):
    left = _people(spark).filter("id = 1")
    right = spark.createDataFrame(
        [
            (10, "john smith", "NY"),  # dist 1
            (11, "jon smith", "NY"),  # dist 0 — best
            (12, "jon smith", "NY"),  # dist 0, higher id loses the tie
        ],
        "rid long, rname string, rstate string",
    )
    out = link_best_match(
        left,
        right,
        ("id", "rid"),
        ("name", "rname"),
        ("state", "rstate"),
    ).collect()
    assert len(out) == 1
    assert (out[0].rid, out[0].edit_dist) == (11, 0)


def test_fuzzy_pairs_plan_is_blocked_join_not_cartesian(spark):
    plan = (
        fuzzy_pairs(_people(spark), "id", "name", "state")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_pairs_mass_tripwire_raises(spark):
    """The fixed-B wall (r13 sf10 decade finding): a block key whose
    cardinality does not grow with the data makes the within-block
    comparison mass quadratic. max_block_pairs must estimate that mass
    from the block-count table and raise LOUDLY — naming the dominant
    block and the re-blocking escalation — instead of launching the
    grind; a budget above the mass passes through untouched."""
    import pytest

    from core_telecoms_etl_spark.operators.linkage import fuzzy_pairs

    rows = [(i, f"name{i:03d}", i % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, name string, blk long")
    # mass = 2 blocks x C(20,2) = 380
    with pytest.raises(RuntimeError, match="within-block pairs"):
        fuzzy_pairs(
            df, "id", "name", "blk", max_dist=2, max_block_pairs=100
        ).collect()
    out = fuzzy_pairs(
        df, "id", "name", "blk", max_dist=2, max_block_pairs=1_000
    )
    assert out.count() > 0  # adjacent name{i} ids are within 2 edits


def test_deletion_keys_count_and_membership(spark):
    """|keys| = 1 + L + C(L,2) for an all-distinct-character name, and
    the neighborhood contains the strings a real deletion produces."""
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.operators.linkage import deletion_keys

    df = spark.createDataFrame([("abcde",), (None,)], "name string")
    rows = df.select(
        deletion_keys(F.col("name")).alias("ks")
    ).collect()
    ks = rows[0].ks
    assert len(ks) == 1 + 5 + 10  # 0-del + 1-del + 2-del, all distinct
    for expect in ("abcde", "bcde", "abde", "abc", "cde", "ace"):
        assert expect in ks, expect
    assert rows[1].ks is None  # NULL name -> NULL neighborhood


def test_fuzzy_pairs_deletion_is_lossless(spark):
    """The deletion-neighborhood theorem in practice: the compound arm
    must find EVERY ≤2-edit pair the exact arm finds, including the
    equal-length shift class (delete one char, append another) that
    breaks positional segment blocking — and nothing else (candidates
    are exactly verified)."""
    from core_telecoms_etl_spark.operators.linkage import (
        fuzzy_pairs,
        fuzzy_pairs_deletion,
    )

    rows = [
        (1, "jon smith", "NY"),
        (2, "john smith", "NY"),  # 1 insertion
        (3, "jane smyth", "NY"),
        (4, "john smith", "CA"),  # other block
        (5, "completely different", "NY"),
        # the shift class: delete the head char, append a new one —
        # every character position differs, yet lev = 2
        (6, "123456789", "NY"),
        (7, "234567891", "NY"),
        # substitution-only pair
        (8, "123456780", "NY"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, state string")
    exact = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in fuzzy_pairs(df, "id", "name", "state", max_dist=2).collect()
    }
    compound = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in fuzzy_pairs_deletion(
            df, "id", "name", "state", max_dist=2
        ).collect()
    }
    assert (6, 7, 2) in exact  # the corpus really contains a shift pair
    assert compound == exact


    #                           deletion arm when those matter


def test_fuzzy_pairs_deletion_mass_tripwire(spark):
    """Constant names collapse every deletion neighborhood into one
    block — the guard must estimate the collision mass from the
    compound block counts and raise before the join."""
    import pytest

    from core_telecoms_etl_spark.operators.linkage import (
        fuzzy_pairs_deletion,
    )

    rows = [(i, "same name", 0) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, name string, blk long")
    with pytest.raises(RuntimeError, match="deletion"):
        fuzzy_pairs_deletion(
            df, "id", "name", "blk", max_block_pairs=100
        ).collect()
    out = fuzzy_pairs_deletion(
        df, "id", "name", "blk", max_block_pairs=10_000_000
    )
    assert out.count() == 30 * 29 // 2  # all-identical corpus


def test_link_best_match_deletion_blocking_matches_plain(spark):
    """The deletion-blocked two-sided link must attach the SAME best
    match as the plain block join (lossless candidates + identical
    tie-break), including for a shift-pair name the block key alone
    would also pair (same block) — only the candidate generator
    differs."""
    from core_telecoms_etl_spark.operators.linkage import link_best_match

    left = spark.createDataFrame(
        [(1, "jon smith", "NY"), (2, "jane smyth", "NY"),
         (3, "123456789", "NY")],
        "lid long, lname string, lstate string",
    )
    right = spark.createDataFrame(
        [(10, "john smith", "NY"), (11, "jane smith", "NY"),
         (12, "234567891", "NY"), (13, "unrelated name", "NY")],
        "rid long, rname string, rstate string",
    )
    args = (left, right, ("lid", "rid"), ("lname", "rname"),
            ("lstate", "rstate"))
    plain = {
        (r.lid, r.rid, r.edit_dist)
        for r in link_best_match(*args, max_dist=2).collect()
    }
    deletion = {
        (r.lid, r.rid, r.edit_dist)
        for r in link_best_match(
            *args, max_dist=2, blocking="deletion"
        ).collect()
    }
    assert (3, 12, 2) in plain  # the shift pair is really in play
    assert deletion == plain


def test_fuzzy_pairs_deletion_tripwire_pins_neighborhood(spark):
    """With max_block_pairs set, the guard's .first() materializes the
    172-way neighborhood build — the operator must pin it (scoped
    slot) so the candidate join reads the cache instead of rebuilding
    the dominant pre-join stage (the incremental_dedup r13 ADVICE
    class)."""
    from core_telecoms_etl_spark import caching
    from core_telecoms_etl_spark.operators.linkage import (
        fuzzy_pairs_deletion,
    )

    caching.release_caches()
    out = fuzzy_pairs_deletion(
        _people(spark), "id", "name", "state",
        max_block_pairs=10_000_000,
    )
    pinned = caching._SCOPED_CACHES.get("linkage.deletion.proj")
    assert pinned is not None
    lvl = pinned.storageLevel
    assert lvl.useMemory or lvl.useDisk
    assert out.count() > 0
    caching.release_caches()


