"""Multimodal-column plumbing (north-star requirement).

Image/audio/video payloads are opaque `binary` columns with typed metadata.
`binary_metadata` derives what a pipeline needs to route and audit them
(byte length, content digest) on the JVM side, so no payload bytes cross
into Python. No codec ships with the engine: no image or audio library is
part of its dependencies.

Scale notes:
- Binary payloads ride in parquet with metadata columns alongside; filters
  on metadata (mime, n_bytes) prune row groups WITHOUT touching payload
  bytes (columnar projection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def binary_metadata(
    df: DataFrame, payload_col: str, *, id_col: str
) -> DataFrame:
    """JVM-side metadata over an opaque binary column: byte length +
    content digest. No payload bytes cross into Python."""
    return df.select(
        F.col(id_col),
        F.length(F.col(payload_col)).cast("long").alias("n_bytes"),
        F.sha2(F.col(payload_col), 256).alias("payload_sha256"),
    )
