"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, partition-preserving
``mapInPandas`` over Arrow batches, deterministic batch shapes; only the
actual media decoding is stubbed (no image/audio libraries in this
container). Swap ``_fake_decode_image`` for a real decoder (PIL/ffmpeg) on
a cluster and nothing else changes.

Scale notes: media bytes stay in executor memory one Arrow batch at a time
(``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak usage);
feature extraction is embarrassingly parallel — no shuffle at all. The
typed-metadata pattern (media_type/width/height alongside the blob) lets
Catalyst prune the binary column entirely for metadata-only queries.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "media_id BIGINT, media_type STRING, n_bytes BIGINT, "
    "width BIGINT, height BIGINT, checksum BIGINT"
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Fixture adapter: expose documents as binary media rows (payload =
    UTF-8 bytes) so the multimodal plumbing is exercised on real data."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
        F.concat(F.lit("synthetic://doc/"), F.col("doc_id")).alias("source_uri"),
    )


def _fake_decode_image(payload: bytes) -> dict[str, Any]:
    """Deterministic stand-in for a real image decoder.

    STUB: a real deployment decodes ``payload`` with PIL/libvips and
    returns true dimensions. Here width/height/checksum are derived
    deterministically from the bytes so tests are stable and the Arrow
    round-trip (bytes in, struct out) is the real one.
    """
    if not payload:
        raise ValueError("empty payload")
    checksum = 0
    for b in payload[:256]:
        checksum = (checksum * 131 + b) % 1_000_000_007
    return {
        "width": 64 + (checksum % 1024),
        "height": 64 + ((checksum // 1024) % 1024),
        "checksum": checksum,
    }


def decode_media(media: DataFrame) -> DataFrame:
    """Decode/feature-extract media rows via Arrow-batched mapInPandas.

    Partition-preserving (no shuffle); the UDF sees pandas DataFrames of at
    most ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (tune THAT
    conf for large payloads), so executor memory is bounded by batch size
    × max payload, not partition size.
    """
    import numpy as np
    import pandas as pd

    def _checksums(payloads: "pd.Series") -> "np.ndarray":
        # Vectorized Horner fold over the first 256 bytes: pad to a fixed
        # (n, 256) byte matrix, then one numpy pass per position instead of
        # a Python loop per byte. Identical math to _fake_decode_image
        # (mod at every step keeps values < p so int64 never overflows).
        n = len(payloads)
        mat = np.zeros((n, 256), dtype=np.int64)
        lens = np.zeros(n, dtype=np.int64)
        for i, p in enumerate(payloads):  # per-row memcpy only, no arithmetic
            b = np.frombuffer(p[:256], dtype=np.uint8)
            mat[i, : len(b)] = b
            lens[i] = len(b)
        acc = np.zeros(n, dtype=np.int64)
        for j in range(int(lens.max()) if n else 0):
            active = j < lens
            acc[active] = (acc[active] * 131 + mat[active, j]) % 1_000_000_007
        return acc

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if (pdf["payload"].map(len) == 0).any():
                raise ValueError("empty payload")
            cs = _checksums(pdf["payload"])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": 64 + (cs % 1024),
                    "height": 64 + ((cs // 1024) % 1024),
                    "checksum": cs,
                }
            )

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


def resize_stub(decoded: DataFrame, max_side: int = 256) -> DataFrame:
    """Metadata-level resize planning (pure JVM expressions — the actual
    pixel resampling is the stubbed decoder's job on a real cluster)."""
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_side)) / F.greatest("width", "height").cast("double"),
    )
    return decoded.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("bigint").alias("out_width"),
        F.round(F.col("height") * scale).cast("bigint").alias("out_height"),
    )


def frame_sample_plan(
    media: DataFrame, fps_target: float = 1.0, duration_col: str = "n_bytes"
) -> DataFrame:
    """Frame-sampling plan for video rows: which frame indices to decode.

    STUB semantics: duration is proxied by payload size (no container
    parsing available); the *plan shape* — explode a per-row index array,
    keeping the payload out of the exploded rows until the decode step —
    is the real 100 TB pattern (don't replicate blobs across frames).
    """
    n_frames = (F.col(duration_col) / 100).cast("bigint") + 1
    return media.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.least(n_frames, F.lit(32)) - 1)).alias(
            "frame_idx"
        ),
    )
