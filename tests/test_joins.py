"""Join-strategy helper tests: salted join/groupby and the AQE skew split
equal to the unsalted plans, on near-uniform keys and on one hot key."""

from __future__ import annotations

from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators import joins as J
from core_telecoms_etl_spark.sources.readers import load_table


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    plain = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).count()
    salted = J.salted_join(
        orders.withColumnRenamed("o_custkey", "custkey"),
        customer.withColumnRenamed("c_custkey", "custkey"),
        "custkey",
        salt_from="o_orderkey",
        n_salts=7,
    ).count()
    assert salted == plain


def test_salted_groupby_matches_plain(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    plain = {
        r.o_orderstatus: (r.n, round(r.s, 2))
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("s"))
        .collect()
    }
    salted = {
        r.o_orderstatus: (r.n, round(r.sum_o_totalprice, 2))
        for r in J.salted_groupby(
            orders,
            ["o_orderstatus"],
            salt_from="o_orderkey",
            n_salts=7,
            sums=["o_totalprice"],
        ).collect()
    }
    assert salted == plain


def test_skew_paths_match_plain_on_hot_key(spark):
    """Value identity of the skew strategies where one reducer really
    gets the hot mass: ~20 % of 200k fact rows on key 0, in 8 map
    partitions. The plain join, the AQE skew-split join and
    `salted_join` give the same per-segment rollup (count and exact
    BIGINT cents), and `salted_groupby` gives the plain group-by.
    Broadcast is off, so every join shuffles by the hot key; the
    skew thresholds are sized to this data, and the executed plan must
    show the split, so the AQE arm is really compared."""
    confs = {
        # with 4 reducers the hot partition holds 0.2 + 0.8/4 = 2× the
        # median, which is not above skewedPartitionFactor; 8 make it 3×
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    fact = spark.range(0, 200_000, 1, 8).select(
        F.col("id").alias("o_orderkey"),
        F.when(F.col("id") % 5 == 0, 0)
        .otherwise(1 + F.col("id") * 31 % 999)
        .alias("o_custkey"),
        (F.col("id") * 7919 % 1_000_003 / 100.0).alias("o_totalprice"),
    )
    dim = spark.range(0, 1000, 1, 2).select(
        F.col("id").alias("o_custkey"),
        F.concat(F.lit("SEG"), F.col("id") % 5).alias("c_mktsegment"),
    )

    def rollup(joined):
        return (
            joined.groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("cents"),
            )
            .orderBy("c_mktsegment")
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plain = rollup(fact.join(dim, "o_custkey")).collect()
        assert sum(r.n for r in plain) == 200_000

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        split = rollup(fact.join(dim, "o_custkey"))
        assert split.collect() == plain
        assert "skew=true" in _formatted(split), _formatted(split)

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        salted = rollup(
            J.salted_join(
                fact, dim, "o_custkey", salt_from="o_orderkey", n_salts=16
            )
        )
        assert salted.collect() == plain

        cents = fact.withColumn(
            "cents", F.round(F.col("o_totalprice") * 100).cast("long")
        )
        plain_agg = sorted(
            cents.groupBy("o_custkey")
            .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
            .collect()
        )
        salted_agg = sorted(
            J.salted_groupby(
                cents, ["o_custkey"], salt_from="o_orderkey", n_salts=16,
                sums=["cents"],
            )
            .withColumnRenamed("sum_cents", "cents")
            .collect()
        )
        assert salted_agg == plain_agg
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
