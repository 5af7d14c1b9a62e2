"""Operator library.

Input contracts (ANSI mode is ON — divide-by-zero raises rather than
returning inf/NaN, which is the intended loud behavior for violated
contracts):
- similarity.* cosine ops assume non-zero embedding vectors; a
  zero-norm vector raises DIVIDE_BY_ZERO (filter or re-embed upstream
  — a zero vector has no direction to compare).
- text.profile ratio columns assume non-empty text; run the cleaning
  chain's empty-string⇒NULL + drop first (the pipeline default).
- stats/temporal ops that can hit degenerate groups legitimately
  (empty experiment arm, zero-variance baseline, single-point KS side)
  instead return NULL via all-integer guards — degeneracy there is a
  data condition, not a caller bug.
"""

from core_telecoms_etl_spark.operators.cleaning import (
    clean,
    dedup_latest_by_key,
    dedup_rows,
    drop_all_null_rows,
    empty_strings_to_null,
    normalize_column_names,
    rename_columns,
    trim_strings,
)
from core_telecoms_etl_spark.operators.dq import DQResult, run_checks

__all__ = [
    "DQResult",
    "clean",
    "dedup_latest_by_key",
    "dedup_rows",
    "drop_all_null_rows",
    "empty_strings_to_null",
    "normalize_column_names",
    "rename_columns",
    "run_checks",
    "trim_strings",
]
