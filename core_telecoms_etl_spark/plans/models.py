"""dbt-style model registry (SURVEY.md §3.3): the one piece of dbt
machinery the reference relies on, reproduced as a ~70-line topological
registry — models are named DataFrame-producing functions, `ref()` edges
order the build, materialization maps to Spark constructs
(view → createOrReplaceTempView, table → eager cache, ephemeral → inline).

Reference behavior reproduced: dbt renders {{ ref('dim_customers') }} into
relation names and builds dims before facts (dbt/coretelecom/models/facts/
fact_call_logs.sql:1,13-16); `dbt test` runs schema tests post-build
(models/*/schema.yml). Here `ModelRegistry.build` returns every materialized
DataFrame and `run_dq` executes the declared checks in one pass per model.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from core_telecoms_etl_spark.operators.dq import DQResult, run_checks


@dataclass
class ModelSpec:
    name: str
    fn: Callable[..., DataFrame]  # (spark, ref) -> DataFrame
    materialized: str = "view"  # view | table | ephemeral
    refs: tuple[str, ...] = ()
    not_null: tuple[str, ...] = ()
    unique: tuple[str, ...] = ()


@dataclass
class ModelRegistry:
    models: dict[str, ModelSpec] = field(default_factory=dict)

    def model(
        self,
        name: str,
        *,
        materialized: str = "view",
        refs: Sequence[str] = (),
        not_null: Sequence[str] = (),
        unique: Sequence[str] = (),
    ):
        """Register a model. `fn(spark, ref)` receives a resolver:
        ref('other_model') -> DataFrame (the other model, already built)."""

        def deco(fn: Callable[..., DataFrame]):
            self.models[name] = ModelSpec(
                name,
                fn,
                materialized,
                tuple(refs),
                tuple(not_null),
                tuple(unique),
            )
            return fn

        return deco

    def _order(self) -> list[str]:
        """DFS topological order of every model over ref() edges, with
        cycle detection."""
        order: list[str] = []
        state: dict[str, int] = {}  # 1=visiting, 2=done

        def visit(n: str) -> None:
            if state.get(n) == 2:
                return
            if state.get(n) == 1:
                raise ValueError(f"model cycle involving {n!r}")
            if n not in self.models:
                raise KeyError(f"unknown model {n!r}")
            state[n] = 1
            for dep in self.models[n].refs:
                visit(dep)
            state[n] = 2
            order.append(n)

        for t in self.models:
            visit(t)
        return order

    def build(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Build every model in dependency order; returns name →
        DataFrame."""
        built: dict[str, DataFrame] = {}

        def ref(name: str) -> DataFrame:
            return built[name]

        for name in self._order():
            spec = self.models[name]
            df = spec.fn(spark, ref)
            if spec.materialized == "view":
                df.createOrReplaceTempView(name)
            elif spec.materialized == "table":
                # eager cache = warehouse-table analog without FS writes;
                # swap for write.saveAsTable on a real deployment
                df = df.cache()
            built[name] = df
        return built

    def run_dq(
        self, built: dict[str, DataFrame]
    ) -> dict[str, list[DQResult]]:
        """Execute every model's declared schema tests (dbt-test analog)."""
        results: dict[str, list[DQResult]] = {}
        for name, df in built.items():
            spec = self.models[name]
            if spec.not_null or spec.unique:
                results[name] = run_checks(
                    df, not_null=spec.not_null, unique=spec.unique
                )
        return results
