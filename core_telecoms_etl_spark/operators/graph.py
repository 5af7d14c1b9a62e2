"""Iterative graph operators: connected components via min-label
propagation — the step that turns near-dup PAIRS into dedup CLUSTERS
(keep one representative per component).

Spark has no native recursion; the idiomatic pattern (same as
GraphX/Pregel and GraphFrames under the hood) is a driver-coordinated
loop of joins with the lineage cut every iteration:

- each node starts labeled with its own id;
- every iteration, each node takes the min label among itself and its
  neighbors (one join edges⋈labels + one groupBy min);
- stop when an iteration changes no label (convergence ≤ graph diameter
  iterations — near-dup clusters are tiny cliques, so 2-3 in practice).

Scale notes: labels/edges shuffle on node id each iteration; at 100 TB
`localCheckpoint` becomes `checkpoint` to an HDFS dir (it exists to cut
the exponentially-growing join lineage either way). Min-label propagation
converges in O(diameter) rounds — fine for near-dup cliques (diameter
2-3), slow for long chains. The large-star/small-star algorithm (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14)
converges in O(log n) rounds and would be the escalation path for big
components and long chains; it is not built.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Lineage cuts go through ONE helper so the storage level is a policy,
# not a per-call accident. Dataset.localCheckpoint's default level
# stores DESERIALIZED row objects; at the sf10 decade the copurchase
# edge set (~186M rows after symmetrize) held as row objects plus the
# per-iteration join's execution memory GC-thrashed a 48 GB heap to
# death (java.lang.OutOfMemoryError in the codegen row buffer — found
# live, r12 decade sweep). MEMORY_AND_DISK from PySpark maps to
# serialized-in-memory + disk overflow: compact UnsafeRow blocks that
# unroll incrementally and spill instead of exploding the old gen. At
# cluster scale these calls become checkpoint() to HDFS either way
# (module docstring); the level only governs the local/driver profile.
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK


def _ckpt(df: DataFrame) -> DataFrame:
    """Eager lineage cut with the serialized spill-safe storage level."""
    return df.localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) — component = min node id reachable through the
    undirected edge set. Deterministic; raises if not converged within
    max_iter (diameter bound exceeded)."""
    # materialize the undirected edge set ONCE: without this every
    # label-propagation iteration re-executes the full upstream edge
    # derivation (for semantic_dedup that is the cluster-blocked pair
    # scoring; for dedup_clusters the shingle inverted-index join) —
    # found live at sf1 (r10): semantic_dedup 883s / dedup_clusters
    # 831s in-sweep, dominated by ~10 re-derivations of their edge
    # pipelines, not by the propagation itself
    und = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct().transform(_ckpt)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .transform(_ckpt)
    )
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
            .transform(_ckpt)  # cut the per-iteration join lineage
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .isEmpty()
        )
        labels = new_labels
        if changed:
            return labels
    raise RuntimeError(f"connected_components: no convergence in {max_iter} iterations")


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    damping: float = 0.85,
    iterations: int = 5,
    snap_dp: int = 9,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set: (node, rank).

    r_{t+1}(v) = (1-d)/N + d · Σ_{(u,v)∈E} r_t(u)/outdeg(u), run for a
    FIXED iteration count (the form every SQL engine can mirror — no
    convergence test, so the oracle unrolls the same recurrence).
    Isolated nodes (in `nodes` but no in-edges) settle at (1-d)/N;
    rank mass parked on dangling nodes is not redistributed — the
    conventional simplification when ranks are used ordinally.

    Determinism across engines: each iteration's rank is SNAPPED to
    `snap_dp` decimals on both sides. The per-node contribution sum is
    the one order-dependent float reduction in the recurrence; its
    error (≤ ~k·eps·Σ|x| for k in-neighbors, ~1e-15 here) sits ~1e6
    below the 1e-9 half-grid, so the snap absorbs engine summation
    order instead of letting it compound across iterations. The
    teleport term is written (1.0 - damping)/N — NOT a pre-folded
    literal, because 1.0-0.85 in IEEE is not the double 0.15, and the
    oracle must run the same expression tree.

    Plan per iteration: one join ranks⋈edges on the source key + one
    groupBy(dst) partial-aggregated sum + one left join back onto the
    node set — ranks and edges shuffle on node id, exactly the
    Pregel-style exchange GraphX runs. `localCheckpoint` cuts the
    per-iteration lineage (at cluster scale: `checkpoint` to
    distributed storage, per connected_components above); the
    degree-annotated edge relation is checkpointed once up front so
    the 5-iteration loop re-reads it instead of re-deriving it.

    N is taken with one driver-side count() of the node relation — a
    single catalog-bounded scalar, the sanctioned DQ-size action.
    """
    n = float(nodes.count())
    deg = edges.groupBy(src).agg(F.count("*").alias("__deg"))
    ew = (
        edges.join(deg, src)
        .select(
            F.col(src).alias("__src"),
            F.col(dst).alias("__dst"),
            "__deg",
        )
        .transform(_ckpt)
    )
    ranks = nodes.select(
        F.col(node_col).alias("node"),
        (F.lit(1.0) / F.lit(n)).alias("rank"),
    )
    teleport = (F.lit(1.0) - F.lit(damping)) / F.lit(n)
    for _ in range(iterations):
        contrib = (
            ew.join(ranks, ew["__src"] == ranks["node"])
            .groupBy("__dst")
            .agg(F.sum(F.col("rank") / F.col("__deg")).alias("__s"))
        )
        ranks = (
            nodes.select(F.col(node_col).alias("node"))
            .join(contrib, F.col("node") == F.col("__dst"), "left")
            .select(
                "node",
                F.round(
                    teleport
                    + F.lit(damping)
                    * F.coalesce(F.col("__s"), F.lit(0.0)),
                    snap_dp,
                ).alias("rank"),
            )
            .transform(_ckpt)
        )
    return ranks


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle census of an undirected graph — one row:
    n_nodes, n_edges, n_wedges, n_triangles, and the global clustering
    coefficient 3·T/W. Input: one row per undirected edge, any
    orientation, no self-loops required to be absent (they are
    dropped), duplicates collapsed here.

    Algorithm: degree-ordered orientation (Chiba–Nishizeki / the
    standard MapReduce triangle count): each undirected edge is
    directed from its lower-(degree, id) endpoint, so every triangle
    is counted exactly once and the wedge fan-out per node is bounded
    by its OUT-degree ≤ O(√m) on any graph — the self-join never
    explodes on high-degree hubs the way a naive shared-neighbor join
    does. No windows, no global rank materialization: orientation is a
    (deg, id) tuple predicate on joined per-endpoint degrees.

    Exactness: every output is a BIGINT count; the clustering
    coefficient is one mirrored double division (3T ≤ int64 far past
    any real graph).

    Scale: canonical edges shuffle once to dedup; two key-partitioned
    joins attach degrees; the wedge self-join partitions on the shared
    LOW endpoint (bounded fan-out by construction) and the closing
    check is an equi-join back to oriented edges. At 100 TB the
    oriented-edge relation is the natural bucketing key (src)."""
    from core_telecoms_etl_spark.caching import cache_scoped

    e = cache_scoped(
        "graph.triangle_edges",
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
    )
    # one pass over e (explode), not a unionAll of two reads — the
    # union form re-evaluates the whole edge-construction lineage twice
    both = e.select(F.explode(F.array("a", "b")).alias("v"))
    deg = both.groupBy("v").agg(F.count("*").alias("d"))
    with_deg = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    )
    # orient low-(deg, id) -> high-(deg, id); ties broken by id, so the
    # orientation is a total order and each triangle closes exactly once
    a_low = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = cache_scoped(
        "graph.triangle_oriented",
        with_deg.select(
            F.when(a_low, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_low, F.col("b")).otherwise(F.col("a")).alias("dst"),
        ),
    )
    # edge-iterator count: a triangle a→b, a→c, b→c is found exactly
    # once on its pivot edge (a, b) as c ∈ N⁺(a) ∩ N⁺(b). Intersecting
    # per-edge OUT-neighbor arrays (bounded ≤ O(√m) by the orientation)
    # never materializes the wedge relation — measured 19s → 2.4s at
    # sf0.1 (1.2M edges, 148M wedges) vs the wedge-join formulation
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("__nu"))
    tri = (
        oriented.select("src", "dst")
        .join(adj, "src")
        .join(
            adj.select(
                F.col("src").alias("dst"), F.col("__nu").alias("__nv")
            ),
            "dst",
            "left",
        )
        .agg(
            F.sum(
                F.size(
                    F.array_intersect(
                        F.col("__nu"),
                        # empty array of __nu's element type (generic
                        # over node id types, no hardcoded cast)
                        F.coalesce(F.col("__nv"), F.slice(F.col("__nu"), 1, 0)),
                    )
                )
            )
            .cast("long")
            .alias("n_triangles")
        )
        # empty-graph contract: SUM over zero rows is NULL but the
        # census reports 0 triangles (oracle counts 0) — r8 empty-facts
        # differential
        .select(F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
    )
    # accumulate Σd and Σd(d−1) as exact longs and halve ONCE (both are
    # even; the halved values stay ≤ 2^53 to ~1e15 wedges — DECIMAL
    # beyond) — never sum per-row float halves
    base = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.coalesce(F.sum("d") / F.lit(2), F.lit(0))
        .cast("long")
        .alias("n_edges"),
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - F.lit(1))) / F.lit(2),
            F.lit(0),
        )
        .cast("long")
        .alias("n_wedges"),
    )
    return base.join(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
                6,
            ),
        ).alias("clustering_coeff"),
    )
