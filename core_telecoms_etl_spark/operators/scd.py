"""Slowly-changing-dimension + upsert operators (capability extensions:
the reference's star schema is rebuild-from-scratch each run — real
warehouse dims need SCD-2 history and MERGE/upsert semantics; SURVEY.md
§2.9 D4 covers only keep-latest).

Scale design: both ops are one shuffle on the business key. SCD-2 is a
window lead over (key, ts); upsert is unionByName + keep-latest — no
row-at-a-time MERGE loop, and the write is a full partition rewrite
(plain parquet has no transactional row updates; on Delta/Iceberg the
same logical op maps to MERGE INTO).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    changes: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str,
    change_cols: list[str] | None = None,
) -> DataFrame:
    """Build SCD-2 validity intervals from a change-event stream: each
    (key, ts) version is valid from its own timestamp until the next
    version's (NULL for the current version), with `is_current` flagging
    the open row. One window over (key, ts) — single shuffle."""
    out = changes.select(
        *key_cols,
        *(change_cols or [c for c in changes.columns if c not in key_cols and c != ts_col]),
        F.col(ts_col).alias("valid_from"),
    ).withColumn("valid_to", F.lead("valid_from").over(
        Window.partitionBy(*key_cols).orderBy(F.col("valid_from").asc())
    ))
    return out.withColumn("is_current", F.col("valid_to").isNull())


def upsert(
    target: DataFrame,
    updates: DataFrame,
    *,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """MERGE-style upsert as a relational plan: rows from `updates` win
    over `target` rows with the same key; among duplicates the highest
    `version_col` (then source priority) survives. Returns the merged
    relation — callers overwrite-swap the target path (or MERGE INTO on
    a transactional table format)."""
    t = target.withColumn("__src", F.lit(0))
    u = updates.withColumn("__src", F.lit(1))
    both = t.unionByName(u, allowMissingColumns=True)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("__src").desc()
    )
    return (
        both.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC-style diff of two snapshots of the same table: classify each
    business key as ``insert`` (only in new), ``delete`` (only in old)
    or ``update`` (in both with any compared column differing under
    null-safe equality). The reference rebuilds its warehouse tables
    from scratch each run (dbt full refresh); a 100 TB lake needs the
    delta between runs, not a rewrite — this produces exactly that
    change feed.

    Returns the key columns + ``change_type``; unchanged keys drop out.
    Scale: ONE shuffle per side on the key for
    the full outer join; only key + compared columns are carried
    through the exchange (column pruning reaches the scans), and the
    comparison is JVM-side null-safe equality — no hashing, so no
    cross-engine hash mismatch and no false positives from collisions."""
    compare_cols = compare_cols or [
        c for c in old.columns if c not in key_cols
    ]
    o = old.select(
        *[F.col(c).alias(f"__ok_{c}") for c in key_cols],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(c).alias(f"__nk_{c}") for c in key_cols],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    # null-safe key equality: a business key with a NULL component
    # still matches its counterpart (otherwise the row shows up as a
    # spurious insert+delete pair). `<=>` remains a hash-joinable
    # equi-key, so the plan is the same single SortMergeJoin/exchange.
    cond = None
    for c in key_cols:
        eq = F.col(f"__ok_{c}").eqNullSafe(F.col(f"__nk_{c}"))
        cond = eq if cond is None else (cond & eq)
    joined = o.join(n, cond, "full_outer")
    # key-only tables (no compared columns) can only insert/delete —
    # `changed` collapses to a constant false, never a None condition
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(
            F.col(f"__n_{c}")
        )
    change_type = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"__nk_{c}"), F.col(f"__ok_{c}")).alias(c)
            for c in key_cols
        ],
        change_type.alias("change_type"),
    ).filter(F.col("change_type") != "unchanged")
