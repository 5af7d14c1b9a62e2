"""Model-registry tests (SURVEY.md §3.3): ref-edge topological build,
cycle/unknown detection, materialization, and the star-schema shape."""

from __future__ import annotations

import pytest

from core_telecoms_etl_spark.plans.models import ModelRegistry
from core_telecoms_etl_spark.plans.star import build_star_models


def test_build_order_follows_refs(spark):
    reg = ModelRegistry()
    calls = []

    # registered before its ref: the build order comes from the edges
    @reg.model("derived", refs=["base"])
    def derived(spark, ref):
        calls.append("derived")
        return ref("base").selectExpr("id * 2 AS id2")

    @reg.model("base")
    def base(spark, ref):
        calls.append("base")
        return spark.range(3)

    built = reg.build(spark)
    assert calls == ["base", "derived"]
    assert built["derived"].count() == 3


def test_cycle_detected(spark):
    reg = ModelRegistry()
    reg.model("a", refs=["b"])(lambda s, r: s.range(1))
    reg.model("b", refs=["a"])(lambda s, r: s.range(1))
    with pytest.raises(ValueError, match="cycle"):
        reg.build(spark)


def test_unknown_ref_raises(spark):
    reg = ModelRegistry()
    reg.model("a", refs=["ghost"])(lambda s, r: s.range(1))
    with pytest.raises(KeyError, match="ghost"):
        reg.build(spark)


def test_view_materialization_registers_temp_view(spark):
    reg = ModelRegistry()
    reg.model("my_view")(lambda s, r: s.range(5))
    reg.build(spark)
    assert spark.sql("SELECT count(*) AS n FROM my_view").collect()[0].n == 5


def test_star_schema_shape(spark, sf_dir):
    built = build_star_models(spark, sf_dir)
    assert set(built) >= {
        "dim_customers",
        "dim_agents",
        "fact_complaints",
    }
    fact = built["fact_complaints"]
    assert fact.columns[:3] == ["complaint_id", "customer_id", "agent_id"]
    # join-as-filter: every fact row has both dim keys present
    n_fact = fact.count()
    assert n_fact > 0
    dim_c = built["dim_customers"]
    joined = fact.join(dim_c, "customer_id", "inner").count()
    assert joined == n_fact
