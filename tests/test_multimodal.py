"""Multimodal plumbing tests: JVM-side metadata over opaque binary
payloads."""

from __future__ import annotations

from core_telecoms_etl_spark.operators import multimodal as mm

MEDIA_SCHEMA = (
    "media_id long, mime string, payload binary, "
    "width int, height int, duration_ms long"
)


def _media(spark):
    rows = [
        (1, "image/png", bytearray(b"\x89PNG123456"), 4, 4, None),
        (2, "image/png", bytearray(b""), 0, 0, None),
        (3, "audio/wav", None, None, None, 2500),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_binary_metadata(spark):
    out = {
        r.media_id: (r.n_bytes, r.payload_sha256)
        for r in mm.binary_metadata(
            _media(spark), "payload", id_col="media_id"
        ).collect()
    }
    assert out[1][0] == 10
    assert len(out[1][1]) == 64
    assert out[2][0] == 0
