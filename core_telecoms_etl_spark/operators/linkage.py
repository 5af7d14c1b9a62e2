"""Fuzzy record-linkage (entity resolution) operators — the "same
real-world entity, slightly different string" problem that every CRM /
customer-master ETL hits (typos, legacy-system renames, re-keyed
imports).

Scale design: never the naive all-pairs cross join. Candidate pairs come
from an equi-join on a BLOCKING key (a deterministic coarse partition of
the record space — a region key, a name prefix, a phonetic code), so the
shuffle is an ordinary hash join on the block and the quadratic edit-
distance work is confined to each block. With B blocks of roughly even
size, cost drops from N²/2 to N²/(2B); skewed blocks are visible as
ordinary join skew and fixable with the same AQE/salting machinery as
any other join. The edit distance itself uses Spark's bounded
`levenshtein(l, r, threshold)` (JVM codegen, early-exits once the
running distance exceeds the bound) — at threshold k the DP cost is
O(k·len) instead of O(len²).

THE FIXED-B WALL (found live at the r13 sf10 decade): N²/(2B) is still
Θ(N²) when the block key's cardinality does not grow with the data — a
25-nation block over 1.5M customers is 4.5e10 within-block comparisons,
and the TRUE ≤2-edit pair relation over sequential numeric names is
itself ~10⁸ rows, so no candidate generator can make the job small: the
OUTPUT is quadratic-ish on this corpus. The production posture is the
same as the near-dup family's: (1) choose a COMPOUND block key whose
cardinality scales with N so per-block mass stays bounded —
`fuzzy_pairs_deletion` below is the built-in arm (base block ×
deletion-neighborhood keys, lossless for every edit mix); (2) pass
`max_block_pairs` so an under-blocked run RAISES with the measured mass
and the dominant block instead of grinding for hours — the estimate is
one metadata-scale count aggregate over the block relation, the same
loud-failure contract as `dedup.incremental_dedup(max_candidates=…)`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col: str,
    *,
    max_dist: int = 2,
    max_block_pairs: int | None = None,
) -> DataFrame:
    """Candidate duplicate pairs within each block: records whose
    names are within `max_dist` edits.
    Returns (id_a, id_b, name_a, name_b, edit_dist) with id_a < id_b so
    each unordered pair appears once.

    The join condition is equality on `block_col` ONLY — Catalyst plans
    a shuffled hash join on the block key; the `id_a < id_b` triangle cut
    and the bounded levenshtein run as post-join filters inside the same
    stage. Records outside every block pair with nothing, which is the
    semantics you want from blocking (recall is bounded by block
    assignment — pick the block key accordingly, or union several
    blocking passes).

    `max_block_pairs`: mass tripwire for the fixed-B wall (module
    docstring). The within-block comparison count Σ_b C(n_b, 2) is
    estimated from the block-count table (one metadata-scale
    aggregate) and the operator RAISES with the measured mass and the
    dominant block before launching a join that cannot finish —
    re-block on a compound key or raise the budget."""
    name = F.col(name_col)
    if max_block_pairs is not None:
        _block_mass_guard(
            df.select(F.col(block_col).alias("_blk")),
            ["_blk"],
            max_block_pairs,
            "fuzzy_pairs",
            "the block key's cardinality is too coarse for this "
            "corpus size (the fixed-B wall; see operators/linkage "
            "module docstring). Re-block on a compound key whose "
            "cardinality scales with the data "
            "(fuzzy_pairs_deletion is the lossless built-in), or "
            "raise max_block_pairs.",
        )
    a = df.select(
        F.col(id_col).alias("id_a"),
        name.alias("name_a"),
        F.col(block_col).alias("_blk"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        name.alias("name_b"),
        F.col(block_col).alias("_blk"),
    )
    dist = F.levenshtein("name_a", "name_b", max_dist)
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") >= 0)  # bounded form returns -1 above k
        .drop("_blk")
    )


def _block_mass_guard(
    blocked: DataFrame,
    key_cols: list[str],
    max_block_pairs: int,
    what: str,
    hint: str,
) -> None:
    """Shared mass tripwire: estimate the within-block comparison count
    Σ_b C(n_b, 2) from the block-count table (one metadata-scale
    aggregate over `blocked`) and raise with the measured mass and the
    dominant block if it exceeds the budget."""
    row = (
        blocked.groupBy(*key_cols)
        .agg(F.count("*").alias("_n"))
        .agg(
            F.sum(
                F.col("_n").cast("decimal(38,0)") * (F.col("_n") - 1) / 2
            ).alias("_m"),
            F.max(
                F.col("_n").cast("decimal(38,0)") * (F.col("_n") - 1) / 2
            ).alias("_mx"),
        )
        .first()
    )
    mass = int(row["_m"] or 0)
    if mass > max_block_pairs:
        raise RuntimeError(
            f"{what}: the blocked join would compare ~{mass:.3g} "
            f"within-block pairs (max_block_pairs={max_block_pairs:.3g}; "
            f"the largest single block contributes "
            f"{int(row['_mx'] or 0):.3g}) — {hint}"
        )


# the deletion neighborhood's depth: blocking on it is lossless for any
# max_dist up to this
DELETION_MAX_DIST = 2


def _check_deletion_dist(max_dist: int, what: str) -> None:
    if max_dist > DELETION_MAX_DIST:
        raise ValueError(
            f"{what}: the deletion neighborhood finds pairs within "
            f"{DELETION_MAX_DIST} edits, not {max_dist}; use fuzzy_pairs"
        )


def deletion_keys(name: Column | str) -> Column:
    """All strings obtainable from `name` by deleting at most
    k = DELETION_MAX_DIST = 2 characters, duplicates removed — the
    SymSpell-style blocking neighborhood. THEOREM (what makes blocking
    on these keys LOSSLESS): lev(A, B) ≤ k ⟹ A and B reach a common
    string by deleting ≤ k characters each — charge each edit to one
    deletion per side (substitution: delete the differing character
    from both; insertion/deletion: delete the inserted character from
    the side that has it). So two names within k edits ALWAYS share a
    deletion key, for any corpus, any alphabet, any edit mix —
    including the equal-length shift pairs that break positional
    segment schemes. |keys| = 1 + L + C(L, 2) (172 at L=18). NULL
    name → NULL (falls out of the blocking join, like every other
    arm)."""
    c = F.col(name) if isinstance(name, str) else name
    L = F.length(c)
    zero = F.array(c)
    one = F.when(
        L >= 1,
        F.transform(
            F.sequence(F.lit(1), L),
            lambda i: F.concat(
                F.substring(c, F.lit(1), i - 1),
                F.substring(c, i + 1, L - i),
            ),
        ),
    ).otherwise(F.array())
    two = F.when(
        L >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), L - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, L),
                    lambda j: F.concat(
                        F.substring(c, F.lit(1), i - 1),
                        F.substring(c, i + 1, j - i - 1),
                        F.substring(c, j + 1, L - j),
                    ),
                ),
            )
        ),
    ).otherwise(F.array())
    # NULL name -> NULL (not [NULL]: xxhash64(NULL) is a CONSTANT, so a
    # [NULL] neighborhood would block every null-named record together)
    return F.when(c.isNotNull(), F.array_distinct(F.concat(zero, one, two)))


def fuzzy_pairs_deletion(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col: str,
    *,
    max_dist: int = 2,
    max_block_pairs: int | None = None,
) -> DataFrame:
    """LOSSLESS compound-key arm of `fuzzy_pairs` (the production path
    past the fixed-B wall): candidates come from equality on
    (block_col, xxhash64(deletion key)) over each record's ≤max_dist
    deletion neighborhood (`deletion_keys` — theorem there), then every
    candidate is verified with the same bounded levenshtein. Kept pairs
    are never wrong (exact verify) and no true pair is missed (shared
    deletion key guaranteed; a 64-bit hash collision only ADDS
    candidates, which verification kills). Same output schema as
    `fuzzy_pairs`.

    Cost: 172 blocking rows per record at L=18 hashed to 8-byte longs
    (the shuffle carries (block, long, id, name), never the key
    strings), then an equi-join whose per-key groups are small by
    construction — deletion keys inherit the name's entropy. Measured
    on the sequential-name corpus: sf0.1 candidate mass 1.27M vs the
    nation block's 4.5e8 (354×), identical 163,383-pair output; the
    sf10 decade readings live in BASELINE.md (nation wall 4.5e10).

    `max_block_pairs` guards the neighborhood join's own collision
    mass, same loud contract as the other arms."""
    _check_deletion_dist(max_dist, "fuzzy_pairs_deletion")
    name = F.col(name_col)
    # rebalance BEFORE the 172-way explode: the input relation is small
    # (a dim-table scan — one or two parquet partitions; at sf10 the
    # whole 1.5M-row customer table is 24 MB), so the narrow
    # neighborhood expansion — the dominant pre-join cost — would
    # otherwise run on the scan's 1-2 partitions (the r13
    # AQE/narrow-expansion class: measured 2-core occupancy on 32 at
    # the decade). The fixed repartition cost scales with N, not the
    # 172N expansion.
    n_par = df.sparkSession.sparkContext.defaultParallelism
    proj = df.repartition(n_par).select(
        F.col(id_col).alias("_id"),
        name.alias("_name"),
        F.col(block_col).alias("_blk0"),
        F.explode(
            F.transform(
                deletion_keys(name), lambda s: F.xxhash64(s)
            )
        ).alias("_kh"),
    )
    if max_block_pairs is not None:
        # the guard's .first() materializes the 172-way neighborhood
        # build, which the candidate join then consumes AGAIN — pin it
        # so the dominant pre-join cost runs once (the same class as
        # incremental_dedup's r13 ADVICE fix; scoped slot, next
        # invocation or release_caches evicts)
        from core_telecoms_etl_spark.caching import cache_scoped

        proj = cache_scoped("linkage.deletion.proj", proj)
        _block_mass_guard(
            proj,
            ["_blk0", "_kh"],
            max_block_pairs,
            "fuzzy_pairs_deletion",
            "the name distribution collapses the deletion "
            "neighborhoods (near-constant names). Add another blocking "
            "dimension or raise max_block_pairs.",
        )
    a = proj.select(
        F.col("_id").alias("id_a"),
        F.col("_name").alias("name_a"),
        "_blk0",
        "_kh",
    )
    b = proj.select(
        F.col("_id").alias("id_b"),
        F.col("_name").alias("name_b"),
        "_blk0",
        "_kh",
    )
    cand = (
        a.join(b, ["_blk0", "_kh"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair sharing several deletion keys appears once per shared
        # key — dedupe BEFORE the (more expensive) verify
        .select("id_a", "id_b", "name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b", max_dist)
    return cand.withColumn("edit_dist", dist).filter(
        F.col("edit_dist") >= 0
    )


def link_best_match(
    left: DataFrame,
    right: DataFrame,
    id_cols: tuple[str, str],
    name_cols: tuple[str, str],
    block_cols: tuple[str, str],
    *,
    max_dist: int = 2,
    blocking: str = "block",
) -> DataFrame:
    """Link each left record to its single best fuzzy match on the right
    (lowest edit distance, ties broken by right id): the master-data
    "attach the canonical entity" step. Same blocked-join shape as
    `fuzzy_pairs`, then one window min per left id — two shuffles total,
    both on bounded keys.

    `blocking="deletion"` swaps the candidate generator for the
    lossless deletion-neighborhood join (`deletion_keys` theorem) —
    the escalation path when the plain block key hits the fixed-B wall
    on a two-sided link, same trade as fuzzy_pairs vs
    fuzzy_pairs_deletion: identical matches, sub-wall candidate mass,
    172 blocking rows per record."""
    lid, rid = id_cols
    lname, rname = name_cols
    lblk, rblk = block_cols
    if blocking not in ("block", "deletion"):
        raise ValueError(
            f"link_best_match: unknown blocking {blocking!r} "
            "(expected 'block' or 'deletion')"
        )
    if blocking == "deletion":
        _check_deletion_dist(max_dist, "link_best_match")
        n_par = left.sparkSession.sparkContext.defaultParallelism
        kh = lambda name: F.explode(  # noqa: E731
            F.transform(
                deletion_keys(F.col(name)),
                lambda s: F.xxhash64(s),
            )
        ).alias("_kh")
        lp = left.repartition(n_par).select(
            lid, F.col(lname).alias("_ln"),
            F.col(lblk).alias("_blk"), kh(lname),
        )
        rp = right.repartition(n_par).select(
            rid, F.col(rname).alias("_rn"),
            F.col(rblk).alias("_blk"), kh(rname),
        )
        cand = (
            lp.join(rp, ["_blk", "_kh"])
            .select(lid, "_ln", rid, "_rn")
            .distinct()
            .withColumn("edit_dist", F.levenshtein("_ln", "_rn", max_dist))
            .filter(F.col("edit_dist") >= 0)
        )
    else:
        cand = (
            left.select(
                lid, F.col(lname).alias("_ln"), F.col(lblk).alias("_blk")
            )
            .join(
                right.select(
                    rid, F.col(rname).alias("_rn"), F.col(rblk).alias("_blk")
                ),
                "_blk",
            )
            .withColumn("edit_dist", F.levenshtein("_ln", "_rn", max_dist))
            .filter(F.col("edit_dist") >= 0)
        )
    from pyspark.sql import Window

    w = Window.partitionBy(lid).orderBy("edit_dist", rid)
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            lid,
            F.col("_ln").alias("left_name"),
            rid,
            F.col("_rn").alias("right_name"),
            "edit_dist",
        )
    )
