"""Physical-plan shape tests: the properties that matter at 100 TB
(pushdown, pruning, broadcast choice, shuffle count) asserted on the
actual optimized plans, so regressions fail loudly at sf-tiny."""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _n_ops(plan: str, op: str) -> int:
    """Count operator detail blocks '(N) <op>' in a formatted plan (each
    physical operator appears exactly once in the details section)."""
    return len(re.findall(rf"\(\d+\) {op}\b", plan))


def _op_details(plan: str) -> list[tuple[str, str]]:
    """(operator name, detail body) for each '(N) <op>' detail block of
    a formatted plan."""
    return re.findall(
        r"^\(\d+\) (\S+)[^\n]*\n(.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S
    )


def _n_exchanges(plan: str) -> int:
    # shuffle exchanges only (BroadcastExchange is cheap by design)
    return _n_ops(plan, "Exchange")


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["filter_predicate"](spark, sf_dir))
    assert "PushedFilters:" in plan
    # the quantity/price predicates must appear in the pushed list
    pushed = next(l for l in plan.splitlines() if "PushedFilters:" in l)
    assert "GreaterThan" in pushed or "LessThan" in pushed, pushed


def test_projection_prunes_scan_columns(spark, sf_dir):
    from core_telecoms_etl_spark.sources.readers import load_table

    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}


def test_multi_join_broadcasts_dims(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["multi_join"](spark, sf_dir))
    # customer/nation/region are explicit broadcasts; at tiny sf Catalyst
    # may ALSO broadcast orders (it's under the threshold), so: at least 3
    # broadcast joins, and at most the one lineitem⋈orders shuffle join
    assert _n_ops(plan, "BroadcastHashJoin") >= 3, plan
    n_shuffle_joins = _n_ops(plan, "SortMergeJoin") + _n_ops(
        plan, "ShuffledHashJoin"
    )
    assert n_shuffle_joins <= 1, plan


def test_asof_join_single_shuffle(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["asof_join"](spark, sf_dir))
    # union-tag design: one hash exchange (on user_id) feeds the window;
    # no join operator at all
    assert _n_exchanges(plan) == 1, plan
    assert "Join" not in plan


def test_groupby_agg_is_partial_then_final(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["groupby_agg"](spark, sf_dir))
    # map-side combine: two HashAggregates around exactly one exchange
    assert plan.count("HashAggregate") >= 2
    assert _n_exchanges(plan) == 1, plan


def test_top_k_plans_take_ordered(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["top_k"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # not a global sort


def test_whole_stage_codegen_covers_text_ops(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["text_profile"](spark, sf_dir))
    assert "Batched: true" in plan  # vectorized parquet reader
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan  # and no pandas UDF either


def test_exact_dedup_shuffles_digests_not_text(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["text_exact_dedup"](spark, sf_dir))
    ex = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex and all("text" not in l for l in ex), ex


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["range_join"](spark, sf_dir))
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert _n_ops(plan, "CartesianProduct") == 0, plan


def test_sql_api_pushes_segment_filter_into_scan(spark, sf_dir):
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["sql_api"](spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("BUILDING" in l for l in pushed), pushed


def test_vector_topk_broadcasts_queries_no_cartesian(spark, sf_dir):
    """The brute-force ANN plan (Arrow scorer since r10): the corpus
    never shuffles for scoring — the query side ships in the task
    closure and the per-batch partial top-k runs inside an
    Arrow-batched MapInPandas (never row-at-a-time BatchEvalPython);
    no CartesianProduct and exactly the one shuffle the per-query
    top-k window needs, with the rank<=k filter pushed down as a
    WindowGroupLimit on BOTH sides of it (partial before the exchange
    — the map-side combine — and final after), so the shuffle never
    materializes the N×Q scored relation."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["vector_topk"](spark, sf_dir))
    assert _n_ops(plan, "CartesianProduct") == 0, plan
    assert _n_ops(plan, "MapInPandas") == 1, plan
    assert _n_ops(plan, "BatchEvalPython") == 0, plan
    assert _n_exchanges(plan) == 1, plan  # only the window's hash exchange
    assert _n_ops(plan, "WindowGroupLimit") == 2, plan  # partial + final


def test_near_dedup_single_exchange_per_side_no_cartesian(spark, sf_dir):
    """Exact-jaccard near-dup: the inverted-index self-join must be an
    equi-join on the hashed shingle (shuffle), never a nested-loop, and
    the shuffled columns must be hashes/ids — no document bodies."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["near_dedup"](spark, sf_dir))
    assert _n_ops(plan, "CartesianProduct") == 0, plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 0, plan
    # an equi-join on the hashed shingle; at tiny sf Catalyst may pick the
    # broadcast variant, at scale it's the shuffle variant — either way it
    # must be a HASH equi-join, never nested-loop
    assert (
        _n_ops(plan, "SortMergeJoin")
        + _n_ops(plan, "ShuffledHashJoin")
        + _n_ops(plan, "BroadcastHashJoin")
        >= 1
    ), plan
    ex_lines = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert ex_lines and all("text" not in l for l in ex_lines), ex_lines


def test_minhash_banded_join_is_equi_join(spark, sf_dir):
    """MinHash+LSH: candidate pairs must come from the (band, bucket)
    equi-join — sub-quadratic by construction — not an all-pairs plan."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["minhash_near_dup"](spark, sf_dir))
    assert _n_ops(plan, "CartesianProduct") == 0, plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert (
        _n_ops(plan, "SortMergeJoin")
        + _n_ops(plan, "ShuffledHashJoin")
        + _n_ops(plan, "BroadcastHashJoin")
        >= 1
    ), plan


def test_text_profile_single_scan(spark, sf_dir):
    """The merged per-doc profile must stay one scan + one projection —
    no joins, no shuffles, no Python."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["text_profile"](spark, sf_dir))
    assert _n_ops(plan, "Scan parquet") == 1, plan
    assert _n_exchanges(plan) == 0, plan
    assert "EvalPython" not in plan, plan


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """Decontamination: the eval corpus broadcasts; the train side joins
    without shuffling — only the pair-count aggregate exchanges."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["contamination"](spark, sf_dir))
    assert _n_ops(plan, "CartesianProduct") == 0, plan
    assert _n_ops(plan, "BroadcastHashJoin") == 1, plan
    assert _n_exchanges(plan) == 1, plan  # the groupBy only


def test_text_chunks_is_scan_and_generate_only(spark, sf_dir):
    """Chunking must stay scan → project → explode: no shuffle, no join,
    no Python."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["text_chunks"](spark, sf_dir))
    assert _n_exchanges(plan) == 0, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_global_order_ops_avoid_full_data_single_partition(spark, sf_dir):
    """deterministic_shuffle / sequence_pack: the N-row window must run
    partitioned by the hash group; only the G-row offsets prefix sum may
    collapse to one effective partition (it hashes on the constant
    pmod(__grp, 1) key — deliberately single-bucket, G ≪ N rows — rather
    than an empty partition spec, so WindowExec's single-partition
    warning keeps its signal value). The offsets join back must
    broadcast."""
    from core_telecoms_etl_spark.queries import queries

    for name in ("deterministic_shuffle", "sequence_pack"):
        plan = _formatted(queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, plan
        assert _n_ops(plan, "BroadcastHashJoin") == 1, plan
        # no empty-partition-spec window anywhere: every exchange is a
        # hash partitioning, and the data-sized ones key on the group
        assert plan.count("Arguments: SinglePartition") == 0, plan
        assert "hashpartitioning(__grp" in plan, plan


def test_quality_filter_threshold_broadcasts(spark, sf_dir):
    """The percentile threshold joins back as a broadcast scalar — the
    corpus scan must never shuffle for the comparison."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["quality_filter"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 1, plan
    # the only shuffle is the single-partition percentile aggregation
    assert _n_exchanges(plan) <= 2, plan


def test_partitioned_write_gets_partition_pruning(spark, sf_dir, tmp_path):
    """A write partitioned on a low-cardinality column must yield scans
    whose partition filters prune at planning time — the at-scale payoff
    the writers module promises."""
    from core_telecoms_etl_spark.sources.writers import write_parquet

    out = str(tmp_path / "orders_by_status")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_parquet(
        orders, out, mode="overwrite", partition_by=("o_orderstatus",)
    )
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    plan = _formatted(back)
    assert "PartitionFilters" in plan, plan
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "o_orderstatus" in pf, plan
    # pruning is real: only the selected partition's rows are read
    n_o = orders.filter(F.col("o_orderstatus") == "O").count()
    assert back.count() == n_o


def test_partition_pruned_rollup_static_and_dynamic(spark, sf_dir):
    """The declared `partition_pruned_rollup` query must carry BOTH
    pruning forms on its fact scan (VERDICT r8 ask #4): the literal
    BETWEEN as static PartitionFilters entries, and the Monday-dim join
    as a dynamicpruning subquery (DPP) — I/O elimination is the first
    optimization that matters at 100 TB, so its loss must fail loudly."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["partition_pruned_rollup"](spark, sf_dir))
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines, plan
    fact_pf = next(l for l in pf_lines if "event_date" in l)
    # static: both literal range bounds resolved at planning time
    assert "2024-01-08" in fact_pf and "2024-01-21" in fact_pf, fact_pf
    # dynamic: the dim-join prune runs as a planning-injected subquery
    assert "dynamicpruning" in fact_pf, fact_pf
    assert "dynamicpruning" in plan.lower()


def test_tpch_report_shapes_no_cartesian_topk_pushed(spark, sf_dir):
    """The Q3/Q5/Q10 report shapes: dims broadcast, selective predicates
    pushed into the parquet scans, ORDER+LIMIT as TakeOrderedAndProject
    (never a global sort), and no nested-loop/cartesian fallback."""
    from core_telecoms_etl_spark.queries import queries

    q = queries()
    for name in ("revenue_topk_shipping", "returned_item_report"):
        plan = _formatted(q[name](spark, sf_dir))
        assert _n_ops(plan, "CartesianProduct") == 0, (name, plan)
        assert _n_ops(plan, "BroadcastNestedLoopJoin") == 0, (name, plan)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        assert "BroadcastHashJoin" in plan, (name, plan)
        pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
        assert any("IsNotNull" in l or "GreaterThan" in l or "EqualTo" in l
                   for l in pushed), (name, pushed)

    plan = _formatted(q["local_supplier_volume"](spark, sf_dir))
    assert _n_ops(plan, "CartesianProduct") == 0, plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 0, plan
    # the cross-dimension c_nationkey = s_nationkey condition must ride the
    # supplier hash join, not degrade to a post-join filter over a cartesian
    assert "BroadcastHashJoin" in plan, plan


def test_window_rank_filter_pushes_group_limit(spark, sf_dir):
    """The rank<=k filter must plan as WindowGroupLimit (per-group top-k
    inside the sort, Spark's window top-k pushdown) — not a full window
    materialization followed by a filter. This is the difference between
    sorting every group completely and keeping k rows per group at 100 TB."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["window_rank"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_domain_cap_plans_window_group_limit(spark, sf_dir):
    """Per-domain cap: the rank<=n filter must push down as a
    WindowGroupLimit (per-partition top-n before the full sort+rank),
    with the single shuffle on the domain key."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["domain_cap"](spark, sf_dir))
    assert _n_ops(plan, "WindowGroupLimit") >= 1, plan
    assert _n_exchanges(plan) == 1, plan


def test_incremental_dedup_corpus_never_shuffles_raw(spark, sf_dir):
    """New-vs-corpus dedup: both cuts stream the corpus against broadcast
    batch sides — no CartesianProduct, every join a broadcast hash join,
    and no shuffle carrying document text (only the candidate-pair agg
    and final distinct shuffle ids/counts)."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["corpus_incremental_dedup"](spark, sf_dir))
    assert _n_ops(plan, "CartesianProduct") == 0, plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert _n_ops(plan, "SortMergeJoin") == 0, plan
    assert _n_ops(plan, "BroadcastHashJoin") >= 3, plan  # exact+near+anti
    ex_lines = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert all("text" not in l for l in ex_lines), ex_lines


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(
    spark, sf_dir
):
    """The 100 TB semi-join-reduction path the engine RELIES on instead
    of hand-rolling a bloom operator: with a selective filter on the
    creation side of a shuffle join, Catalyst injects a bloom runtime
    filter (bloom_filter_agg on the dim keys, might_contain pushed into
    the fact scan side) so fact rows that cannot join are dropped
    before the exchange. Local data sits below the production
    thresholds, so the test pins them the way a cluster submit would
    tune them (SCALING.md "Runtime filters")."""
    from core_telecoms_etl_spark.sources.readers import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            "100MB"
        ),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert "bloom_filter_agg" in opt, opt
        assert "might_contain" in opt.lower(), opt
        # and the filtered result is still correct
        exact = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .agg(F.sum("l_quantity"))
            .collect()[0][0]
        )
        assert j.collect()[0]["q"] == exact
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_point_in_time_join_single_shuffle_no_join(spark, sf_dir):
    """SCD-2 point-in-time lookup must plan as the as-of shape: NO join
    operator at all (union-tag + ordered partition scan), one window,
    and no interval residual — the fact and version sides co-shuffle
    once on the entity key."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["point_in_time_join"](spark, sf_dir))
    for op in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert _n_ops(plan, op) == 0, (op, plan)
    assert _n_ops(plan, "Window") >= 1, plan


def test_key_skew_profile_single_partition_only_on_histogram(
    spark, sf_dir
):
    """The diagnostic must not itself be a skew problem: the only
    SinglePartition exchanges sit ABOVE the count-histogram aggregation
    (distinct count values), never carrying per-key rows."""
    from core_telecoms_etl_spark.queries import queries

    df = queries()["key_skew_profile"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    lines = plan.splitlines()
    sp = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert sp, plan
    # beneath every SinglePartition exchange there must be a partial
    # aggregate on cnt (the histogram), i.e. the exchanged rows are
    # count-of-count partials, not raw keys/events
    for i in sp:
        below = "\n".join(lines[i : i + 6])
        assert "HashAggregate" in below, below


def test_segment_dedup_no_windows_no_single_partition(spark, sf_dir):
    """Boilerplate segment dedup reassembles order with
    sort_array(collect_list(struct)) inside a hash aggregate — no
    Window operator and no SinglePartition exchange anywhere."""
    from core_telecoms_etl_spark.queries import queries

    df = queries()["segment_boilerplate_dedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_topk_arrow_single_scan_no_centroid_exchange(spark, sf_dir):
    """The r11 default IVF path scans the corpus ONCE through
    mapInPandas (assignment + probing + scoring fused); the only
    exchange in the plan is the final per-query global top-k window —
    nothing repartitions on the low-cardinality centroid_id and the
    corpus is never joined/materialized n·C-wide."""
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.operators import similarity as sim
    from core_telecoms_etl_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0)
    c = e.filter(F.col("vec_id") % 20 != 0)
    plan = _formatted(sim.ivf_topk(c, q, k=10, n_centroids=16, n_probe=6))
    assert _n_ops(plan, "MapInPandas") == 1, plan
    assert _n_ops(plan, "CartesianProduct") == 0, plan
    assert "centroid_id" not in plan, plan
    # exactly one shuffle: the final query_id window
    assert _n_ops(plan, "Exchange") == 1, plan


def test_containment_pairs_prefix_join_no_cartesian_no_text(spark, sf_dir):
    """The asymmetric prefix filter's candidate join must be a HASH
    equi-join on the hashed shingle (the r7 scale-killer was the
    uncapped pair pass, not the join kind — but a regression to
    nested-loop or to shuffling document bodies would be worse)."""
    from core_telecoms_etl_spark.operators.dedup import containment_pairs
    from core_telecoms_etl_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _formatted(
        containment_pairs(docs, "doc_id", "text", n=3, threshold=0.9)
    )
    assert _n_ops(plan, "CartesianProduct") == 0, plan
    assert _n_ops(plan, "BroadcastNestedLoopJoin") == 0, plan
    ex_lines = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert ex_lines and all("text" not in l for l in ex_lines), ex_lines


def test_bootstrap_partials_arrow_fold_before_exchange(spark, sf_dir):
    """The array-partial bootstrap must fold batches through
    MapInPandas; every shuffle below it carries the per-customer or
    B-grain relation, never a |customers|·B expansion (no Generate/
    explode of the replicate sequence above an exchange)."""
    from core_telecoms_etl_spark.queries.inferential import (
        bootstrap_ci_partials,
    )

    plan = _formatted(bootstrap_ci_partials(spark, sf_dir))
    assert "MapInPandas" in plan, plan
    # the replicate explode exists only ABOVE the partial fold — as the
    # posexplode of the two B-length partial arrays (bounded by batch
    # count); the row-expansion query's sequence-explode idiom
    # (explode(sequence(1, B)) per customer) must NOT appear
    assert "sequence(1, 200" not in plan.replace("\n", " "), plan


def test_expansions_rebalance_out_of_aqe_coalescing(spark, sf_dir):
    """r13 finding: AQE coalesces small post-aggregate relations to
    1-4 partitions, and narrow expansions (explode/sequence/Arrow
    stage) inherit that — the bootstrap's customers x B weight
    expansion, the time-grid's per-key sequence generation, and the
    basket pair fan-out all ran near-serial. Each must plan a
    ROUND-ROBIN exchange between the aggregate and the Generate/Arrow
    stage; losing it is a silent 3-4x regression at sf0.1 and worse at
    the decade. Asserted on the optimized plans so a future 'cleanup'
    of the repartition fails here, not in a bench round."""
    from core_telecoms_etl_spark.queries import queries

    qs = queries()
    for name in (
        "bootstrap_ci",
        "bootstrap_ci_partials",
        "time_grid_interpolate",
        "copurchase_pairs",
        # r14: the deletion-neighborhood linkage arm's 172-way explode
        # inherits the dim scan's 1-2 partitions without the rebalance
        # (measured 2-core occupancy at sf10; 39.9s -> 8.4s at sf0.1)
        "fuzzy_linkage_compound",
    ):
        plan = _formatted(qs[name](spark, sf_dir))
        assert "RoundRobinPartitioning" in plan, (
            f"{name}: expansion rebalance missing\n{plan}"
        )


def test_agg_and_window_share_one_exchange_tpch_shapes(spark, sf_dir):
    """r15 optimization: the three groupBy(composite)→Window(subset-key)
    TPC-H shapes repartition ONCE on the window key (subset partitioning
    satisfies the grouping's ClusteredDistribution), so the aggregate
    and the window ride one exchange instead of two. Pin the total
    shuffle-exchange count per query so a regression to the
    Exchange(composite)→Exchange(subset) chain fails loudly."""
    from core_telecoms_etl_spark.queries import queries

    for name, n_exp in (
        ("min_cost_supplier", 1),
        ("part_promotion_suppliers", 3),  # + semi-join SMJ pair
        ("waiting_orders_suppliers", 2),  # + final s_name rollup
    ):
        plan = _formatted(queries()[name](spark, sf_dir))
        assert _n_exchanges(plan) == n_exp, (name, plan)
        # the shared exchange hashes on the window key alone
        key = "l_orderkey" if name == "waiting_orders_suppliers" else "l_partkey"
        assert f"hashpartitioning({key}#" in plan, (name, plan)


def test_segment_dedup_evaluates_explode_twice_not_thrice(spark, sf_dir):
    """r15 optimization: the per-doc segment count rides the exploded
    rows (it is known before the explode), so the reassembly no longer
    joins back a third evaluation of the scan→tokenize→explode subtree:
    exactly 2 Generate nodes (frequency arm + probe arm)."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["segment_boilerplate_dedup"](spark, sf_dir))
    assert _n_ops(plan, "Generate") == 2, plan


def test_profile_table_expand_path_hash_aggregates(spark, sf_dir):
    """r15 optimization: string extrema must NOT ride the Expand
    aggregate (their buffer demotes the whole multi-distinct pipeline
    to SortAggregate with full sorts of the n_cols×-expanded relation).
    The Expand path hash-aggregates; the only SortAggregates are the
    sort-free zero-grouping string pass, broadcast back."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["profile_table"](spark, sf_dir))
    assert _n_ops(plan, "Expand") == 1, plan
    assert _n_ops(plan, "HashAggregate") >= 4, plan
    assert _n_ops(plan, "SortAggregate") <= 2, plan
    # the string pass needs no sort: zero grouping keys
    assert _n_ops(plan, "Sort") == 0, plan


def test_survival_queries_hash_aggregate_only(spark, sf_dir):
    """r15 optimization: the == 'error' comparison lives INSIDE max_by
    so the per-user buffer is fixed-width — no SortAggregate (which
    sorted the full event relation twice) anywhere in either survival
    query."""
    from core_telecoms_etl_spark.queries import queries

    for name in ("kaplan_meier", "log_rank_test"):
        plan = _formatted(queries()[name](spark, sf_dir))
        assert _n_ops(plan, "SortAggregate") == 0, (name, plan)


def test_approx_quantiles_shares_percentile_buffers(spark, sf_dir):
    """r15 optimization: one approx sketch + one exact-percentile
    buffer per group via the array forms (was 2 + 4 independent
    aggregation states holding the same values)."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["approx_quantiles"](spark, sf_dir))
    assert plan.count("approx_percentile") >= 1
    # exactly one exact-percentile aggregate expression in the plan's
    # aggregate Functions list (the array form), not four
    fns = [l for l in plan.splitlines() if "Functions" in l]
    n_pct = sum(l.count("percentile(l_extendedprice") - l.count("approx_percentile(l_extendedprice") for l in fns)
    # partial + final rows each list the aggregate once
    assert n_pct <= 2, fns


def test_simhash_exact_relation_evaluated_once(spark, sf_dir):
    """r16 optimization: the recall readout's exact all-pairs relation
    is evaluated ONCE (left-join mark + conditional count), not twice
    (count + semi-join count). The jaccard threshold is applied by
    exactly two operator nodes — the Filter over the exact posting
    join's pair counts and the candidate refine's join condition — and
    no LeftSemi join remains."""
    from core_telecoms_etl_spark.queries import queries

    plan = _formatted(queries()["simhash_signatures"](spark, sf_dir))
    assert "LeftSemi" not in plan, plan
    jaccard = [
        (op, "Join condition:" in body)
        for op, body in _op_details(plan)
        if ">= 0.8" in body
    ]
    filters = [op for op, _ in jaccard if op == "Filter"]
    joins = [op for op, in_cond in jaccard if op.endswith("Join") and in_cond]
    assert len(jaccard) == 2 and len(filters) == len(joins) == 1, jaccard
