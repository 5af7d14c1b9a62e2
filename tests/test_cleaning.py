"""Cleaning-chain tests (SURVEY.md §2.9): the reference's signature
transforms under the dirty-data properties listed in FIXTURES.md §A —
whitespace padding, fully-null rows, exact duplicates, empty-string-as-NULL,
case/spacing-drifted headers."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from core_telecoms_etl_spark.operators import cleaning as cl


@pytest.fixture()
def dirty(spark):
    rows = [
        Row(**{"customeR iD": 1, "NamE": "  alice  ", "Gender": "F"}),
        Row(**{"customeR iD": 1, "NamE": "  alice  ", "Gender": "F"}),  # dup
        Row(**{"customeR iD": 2, "NamE": "bob", "Gender": ""}),  # empty→NULL
        Row(**{"customeR iD": None, "NamE": None, "Gender": None}),  # all-null
    ]
    return spark.createDataFrame(rows)


def test_normalize_column_names(dirty):
    out = cl.normalize_column_names(dirty)
    assert out.columns == ["customer_id", "name", "gender"]


def test_rename_columns_ignores_unknown(dirty):
    out = cl.rename_columns(dirty, {"NamE": "customer_name", "nope": "x"})
    assert "customer_name" in out.columns
    assert "nope" not in out.columns


def test_trim_strings(dirty):
    out = cl.trim_strings(cl.normalize_column_names(dirty))
    names = {r.name for r in out.select("name").collect()}
    assert "alice" in names and "  alice  " not in names


def test_empty_strings_to_null(dirty):
    out = cl.empty_strings_to_null(cl.normalize_column_names(dirty))
    bob = [r for r in out.collect() if r.customer_id == 2][0]
    assert bob.gender is None


def test_drop_all_null_rows(dirty):
    out = cl.drop_all_null_rows(dirty)
    assert out.count() == 3


def test_dedup_rows(dirty):
    assert cl.dedup_rows(dirty).count() == 3


def test_full_clean_chain(dirty):
    out = cl.clean(dirty)
    rows = {r.customer_id: r for r in out.collect()}
    assert set(rows) == {1, 2}  # dup collapsed, all-null row dropped
    assert rows[1].name == "alice"
    assert rows[2].gender is None


def test_dedup_latest_by_key(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01", "old"), (1, "2024-02-01", "new"), (2, "2024-01-05", "only")],
        "k int, ts string, v string",
    )
    out = cl.dedup_latest_by_key(df, keys=["k"], order_by=["ts"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "new", 2: "only"}


def test_finite_or_null_scopes_nonfinite_like_null(spark):
    """The r15 poisoned-metric contract: NaN/±Inf carry no magnitude
    and normalize to NULL; finite values (including 0.0 and negatives)
    pass through untouched; NULL stays NULL."""
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.operators.cleaning import (
        finite,
        finite_or_null,
    )

    df = spark.createDataFrame(
        [(1, 2.5), (2, float("nan")), (3, float("inf")),
         (4, float("-inf")), (5, None), (6, 0.0), (7, -3.25)],
        "id long, v double",
    )
    out = {
        r.id: r.fv
        for r in df.select(
            "id", finite_or_null("v").alias("fv")
        ).collect()
    }
    assert out == {1: 2.5, 2: None, 3: None, 4: None, 5: None,
                   6: 0.0, 7: -3.25}
    kept = sorted(r.id for r in df.filter(finite("v")).collect())
    assert kept == [1, 6, 7]
