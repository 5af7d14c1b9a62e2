"""Multi-dimensional data layout: Z-order (Morton) clustering.

The 100 TB lever behind Delta Lake's `OPTIMIZE ZORDER BY` and Hudi's
clustering: parquet data skipping works off per-file/row-group MIN/MAX
footers, and a table sorted by one column has tight footers on THAT
column only — a predicate on any other column still touches every file.
Interleaving the bits of several (rank-normalized) columns into one
Morton key and range-partitioning + sorting by it makes every
participating column's values locally contiguous, so a conjunctive
box predicate prunes on all of them at once (Morton, 1966; the same
space-filling-curve trick as Bayer's UB-tree).

This module holds the key builders: pure JVM expression work
(shift/and/or chains inside whole-stage codegen), no UDFs. The
`zorder_locality` query uses them to report the footer tightness a
Z-ordered rewrite would reach; the rewrite itself is not built.

Reference scope note: the reference pipeline loads snapshots ordered by
ingest time only (`plugins/snowflake_load.py`); layout optimization is
part of this engine's at-scale extension surface (SURVEY §2.15).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def interleave_bits(a: Column, b: Column, *, bits: int = 8) -> Column:
    """Morton-interleave the low `bits` bits of two non-negative
    integer columns: a's bit i lands at position 2i+1, b's at 2i.
    2·bits ≤ 62 so the key stays a positive BIGINT. Inputs must
    already be normalized to [0, 2^bits) — see normalize_minmax."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(
                F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
        terms.append(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return reduce(lambda x, y: x.bitwiseOR(y), terms)


def normalize_minmax(
    col: Column, cmin: Column, cmax: Column, *, bits: int = 8
) -> Column:
    """Scale an integer column to [0, 2^bits) with EXACT arithmetic —
    floor(((x - min) · 2^bits) / (max - min + 1)) on BIGINTs, where the
    quotient of exactly-representable longs floors identically in every
    engine — no float rounding to drift bucket ids cross-engine.
    Degenerate ranges (min == max) map everything to 0."""
    span = cmax - cmin + F.lit(1)
    return F.floor(
        ((col - cmin).cast("long") * F.lit(1 << bits)) / span
    ).cast("long")
