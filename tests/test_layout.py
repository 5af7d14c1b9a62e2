"""Z-order layout tests: Morton key correctness against a Python bit
reference, exact min/max bucket normalization, and the derived-layout
cache of the pruning queries.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators.layout import (
    interleave_bits,
    normalize_minmax,
)


def _morton_py(a: int, b: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_interleave_matches_python_reference(spark):
    rows = [(a, b) for a in (0, 1, 5, 97, 255) for b in (0, 3, 128, 200, 255)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select(
        "a", "b", interleave_bits(F.col("a"), F.col("b")).alias("z")
    ).collect()
    for r in got:
        assert r.z == _morton_py(r.a, r.b), (r.a, r.b)


def test_interleave_rejects_bad_bits(spark):
    with pytest.raises(ValueError):
        interleave_bits(F.lit(1), F.lit(2), bits=0)


def test_normalize_minmax_exact_buckets(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("x"))
    out = df.select(
        normalize_minmax(
            F.col("x"), F.lit(0), F.lit(999), bits=8
        ).alias("n")
    ).agg(F.min("n"), F.max("n"), F.count_distinct("n")).collect()[0]
    assert out[0] == 0 and out[1] == 255 and out[2] == 256


def test_pruned_layout_cache_invalidates_on_source_change(spark, tmp_path):
    """The derived date-partitioned layout is keyed by a fingerprint of
    the events source (ADVICE r10): same source bytes → same cache dir
    (reuse); a changed source (regenerated scratch corpus) → a DIFFERENT
    cache dir, rebuilt — a stale layout can never satisfy the lookup."""
    import os
    import shutil

    from core_telecoms_etl_spark.queries.analytics import (
        _events_fingerprint,
        _pruned_layout_paths,
    )

    scratch = tmp_path / "sf_scratch"
    scratch.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        scratch / "events.parquet",
    )
    fp1 = _events_fingerprint(str(scratch))
    fact1, dim1 = _pruned_layout_paths(spark, str(scratch))
    assert fp1 in fact1 and os.path.isdir(fact1) and os.path.isdir(dim1)
    # unchanged source → identical paths (cache hit, no rebuild)
    assert _pruned_layout_paths(spark, str(scratch)) == (fact1, dim1)
    # "regenerate" the corpus: same bytes, new mtime — the fingerprint
    # must change and the layout must be rebuilt under the new key
    os.utime(scratch / "events.parquet")
    fp2 = _events_fingerprint(str(scratch))
    assert fp2 != fp1
    fact2, dim2 = _pruned_layout_paths(spark, str(scratch))
    assert fact2 != fact1 and fp2 in fact2
    assert os.path.isdir(fact2) and os.path.isdir(dim2)
