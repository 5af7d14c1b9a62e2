"""Declarative data-quality checks (SURVEY.md §2.12 Q1/Q2).

The reference's only correctness mechanism is dbt schema tests — not_null
and unique on business keys (dbt/coretelecom/models/facts/schema.yml:7-26,
dimensions/schema.yml:5-9), compiled to SQL and run by `dbt test`. Here each
check is a DataFrame aggregation returning a violation count, and a table's
whole suite (`checks_df`) is ONE aggregate — a single Spark action, not
one compiled query per test; the declared `dq_suite` query exposes the
same shape to the oracle harness.

Scale: every check is one expression of the same global aggregate over
one column-pruned scan. A unique check is `count(key) - count(DISTINCT
key)`, which equals dbt's `sum(count - 1)` over the keys that occur more
than once (NULL keys excluded) without a per-key group-by branch:
Catalyst plans the distinct count as a partial aggregate keyed on the
column (map-side combine, AQE-coalesced), with an Expand when the suite
holds several distinct keys. `run_checks` runs a suite and returns one
`DQResult` per check.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class DQResult:
    check: str
    column: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


def checks_df(
    df: DataFrame,
    not_null: Sequence[str] = (),
    unique: Sequence[str] = (),
) -> DataFrame:
    """A table's whole check suite as ONE relation of
    (check_name, column_name, violations), rows in the order not_null,
    unique.

    Every check is one aggregate expression of a single global
    aggregate, unpivoted by `stack`:
    - not_null: `count_if(c IS NULL)`;
    - unique: `count(c) - count(DISTINCT c)`, the excess rows of every
      duplicated key. Both counts skip NULL keys, and the distinct
      aggregate groups NaN and -0.0/0.0 the way `groupBy` does.
    Over an empty table every count is 0, so an empty batch passes."""
    suite: list[tuple[str, str, Column]] = [
        ("not_null", c, F.count_if(F.col(c).isNull())) for c in not_null
    ]
    suite += [
        ("unique", c, F.count(c) - F.count_distinct(c)) for c in unique
    ]
    if not suite:
        raise ValueError("checks_df: no checks requested")
    counts = df.agg(*(v.alias(f"v{i}") for i, (_, _, v) in enumerate(suite)))
    rows = [
        x
        for i, (check, col, _) in enumerate(suite)
        for x in (F.lit(check), F.lit(col), F.col(f"v{i}"))
    ]
    return counts.select(
        F.stack(F.lit(len(suite)), *rows).alias(
            "check_name", "column_name", "violations"
        )
    )


def run_checks(
    df: DataFrame,
    not_null: Sequence[str] = (),
    unique: Sequence[str] = (),
) -> list[DQResult]:
    """Run a table's suite via `checks_df` — one collect (one Spark
    action) regardless of the number of checks."""
    if not (not_null or unique):
        return []
    rows = checks_df(df, not_null=not_null, unique=unique).collect()
    return [
        DQResult(r.check_name, r.column_name, int(r.violations)) for r in rows
    ]


def profile_columns(
    df: DataFrame,
    numeric_cols: Sequence[str],
    string_cols: Sequence[str],
) -> DataFrame:
    """Deequ/dbt-profile-style column statistics in ONE aggregation pass:
    (column, n_rows, n_nulls, n_distinct, min_num, max_num, min_str,
    max_str), one output row per profiled column. Numeric extrema are
    cast to double and string extrema kept as strings — typed columns
    instead of stringified numbers, because engines disagree on double
    formatting.

    Catalyst plans the multi-column COUNT(DISTINCT) via Expand — a
    deliberate n_cols× row multiplication in exchange for one pass; at
    100 TB with wide profiles switch distinct counts to
    approx_count_distinct and keep the same shape.

    The STRING extrema run as a SEPARATE global aggregate joined back
    as a broadcast 1-row relation (r15 optimization round): a string
    min/max buffer is not hash-aggregable, and putting it in the main
    agg demoted the WHOLE Expand pipeline to SortAggregate — two full
    sorts of the n_cols×-expanded relation (measured 8.8 s → 2.1 s at
    sf0.1 on the 5-column lineitem profile). Split, the Expand path
    plans HashAggregate end to end and the string pass is a sort-free
    zero-grouping aggregate over a 2-column pruned scan."""
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in (*numeric_cols, *string_cols):
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
            .alias(f"__null_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__max_{c}"))
    str_aggs: list = []
    for c in string_cols:
        str_aggs.append(F.min(F.col(c)).alias(f"__min_{c}"))
        str_aggs.append(F.max(F.col(c)).alias(f"__max_{c}"))
    wide = df.agg(*aggs).join(F.broadcast(df.agg(*str_aggs)))

    def _row(c: str, numeric: bool) -> F.Column:
        none_d = F.lit(None).cast("double")
        none_s = F.lit(None).cast("string")
        return F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{c}").alias("n_nulls"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            (F.col(f"__min_{c}") if numeric else none_d).alias("min_num"),
            (F.col(f"__max_{c}") if numeric else none_d).alias("max_num"),
            (none_s if numeric else F.col(f"__min_{c}")).alias("min_str"),
            (none_s if numeric else F.col(f"__max_{c}")).alias("max_str"),
        )

    rows = [_row(c, True) for c in numeric_cols] + [
        _row(c, False) for c in string_cols
    ]
    return wide.select(F.explode(F.array(*rows)).alias("__s")).select(
        "__s.*"
    )
