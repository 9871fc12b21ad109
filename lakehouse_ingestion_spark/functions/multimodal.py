"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
pipelines.

The decode step is STUBBED (no image/audio libraries in this container):
``fake_decode_features`` derives a deterministic feature vector from the
raw bytes (length, byte histogram moments, md5-seeded pseudo-embedding),
so the Spark-side plumbing — schema contract, batch iteration, partition
behavior, UDF signature — is real and testable. Swap ``_decode`` for a
real decoder (PIL / torchaudio / decord) in production.

Scale notes: mapInPandas streams Arrow batches (no full-partition
materialization); keep ``spark.sql.execution.arrow.maxRecordsPerBatch``
modest for large blobs; binary columns should be size-bucketed before
heavy decode to avoid skewed tasks.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 8


def media_feature_schema(id_field: str = "media_id") -> StructType:
    return StructType(
        [
            StructField(id_field, LongType(), True),
            StructField("n_bytes", LongType(), True),
            StructField("byte_mean", DoubleType(), True),
            StructField("byte_std", DoubleType(), True),
            StructField("embedding", ArrayType(DoubleType()), True),
            StructField("decoder", StringType(), True),
        ]
    )


def _decode(blob: bytes) -> np.ndarray:
    """STUB decoder: a real implementation would decode image/audio and
    run a feature extractor. Deterministic fake: md5-seeded vector.

    Raises NotImplementedError for empty blobs to exercise the error
    path the way a real codec failure would.
    """
    if not blob:
        raise NotImplementedError("empty blob: no decodable content")
    seed = int.from_bytes(hashlib.md5(blob).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.random(FEATURE_DIM)


def extract_media_features(
    df: DataFrame,
    content_column: str = "content",
    id_column: str = "media_id",
    on_error: str = "null",  # null | fail
) -> DataFrame:
    """mapInPandas pipeline: (id, binary content) -> feature rows. Byte
    statistics are vectorized per Arrow batch; ``_decode`` is the one
    per-row call."""
    out_schema = media_feature_schema(id_column)
    out_cols = [f.name for f in out_schema.fields]

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            blobs = [
                bytes(b) if b is not None else b""
                for b in pdf[content_column]
            ]
            lengths = np.fromiter(
                (len(b) for b in blobs), dtype=np.int64, count=len(blobs)
            )
            bad = lengths == 0
            if bad.any() and on_error == "fail":
                # surface the codec error exactly as the per-row decode
                # would — first failing blob wins
                _decode(b"")
            good = ~bad
            # byte stats vectorized over ONE concatenated buffer:
            # ufunc.reduceat segments at each (non-empty) row's start
            # offset cover exactly that row's bytes (empty rows occupy
            # zero width between segments). Only the decoder itself is
            # a per-row call — it's the hook a real codec replaces.
            flat = np.frombuffer(b"".join(blobs), dtype=np.uint8).astype(
                np.float64
            )
            mean = np.array([])
            std = np.array([])
            if good.any():
                starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
                g_starts = starts[good]
                g_len = lengths[good]
                mean = np.add.reduceat(flat, g_starts) / g_len
                sqdev = (flat - np.repeat(mean, g_len)) ** 2
                std = np.sqrt(np.add.reduceat(sqdev, g_starts) / g_len)
            embs: list[list[float] | None] = [None] * len(blobs)
            for i in np.flatnonzero(good):
                embs[i] = _decode(blobs[i]).tolist()
            mean_full = np.full(len(blobs), np.nan)
            std_full = np.full(len(blobs), np.nan)
            mean_full[good] = mean
            std_full[good] = std
            yield pd.DataFrame(
                {
                    id_column: pdf[id_column].to_numpy(),
                    "n_bytes": np.where(bad, 0, lengths),
                    "byte_mean": pd.array(mean_full, dtype="Float64"),
                    "byte_std": pd.array(std_full, dtype="Float64"),
                    "embedding": embs,
                    "decoder": np.where(bad, "error", "stub-md5"),
                },
                columns=out_cols,
            )

    return df.select(id_column, content_column).mapInPandas(_batches, out_schema)


def resize_media(
    df: DataFrame,
    content_column: str = "content",
    id_column: str = "media_id",
    target_width: int = 32,
    target_height: int = 32,
) -> DataFrame:
    """'Resize' stand-in: map the blob onto a fixed target_width x
    target_height byte grid by linear index interpolation (a real impl
    decodes the image and resamples pixels). Output is a binary column of
    exactly w*h bytes plus dimensions — the schema/batching contract a
    real resizer would have. Empty/null blobs yield null output (the
    codec-failure path)."""
    out_schema = StructType(
        [
            StructField(id_column, LongType(), True),
            StructField("content", BinaryType(), True),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField("resizer", StringType(), True),
        ]
    )
    w, h = target_width, target_height

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        n_out = w * h
        for pdf in it:
            rows = []
            for mid, blob in zip(pdf[id_column], pdf[content_column]):
                raw = bytes(blob) if blob is not None else b""
                if not raw:
                    rows.append(
                        {id_column: mid, "content": None, "width": None,
                         "height": None, "resizer": "error"}
                    )
                    continue
                src = _np.frombuffer(raw, dtype=_np.uint8)
                idx = _np.linspace(0, len(src) - 1, n_out)
                resized = _np.interp(idx, _np.arange(len(src)), src).astype(_np.uint8)
                rows.append(
                    {id_column: mid, "content": resized.tobytes(),
                     "width": w, "height": h, "resizer": "stub-interp"}
                )
            yield _pd.DataFrame(
                rows, columns=[id_column, "content", "width", "height", "resizer"]
            )

    return df.select(id_column, content_column).mapInPandas(_batches, out_schema)


def sample_frames(
    df: DataFrame,
    content_column: str = "content",
    id_column: str = "media_id",
    every_n_bytes: int = 1024,
    max_frames: int = 16,
) -> DataFrame:
    """'Frame sampling' stand-in for video: slice the blob every N bytes
    (a real impl samples decoded frames). Pure built-in expressions."""
    n = F.length(F.col(content_column))
    frame_count = F.when(n.isNull() | (n == 0), F.lit(0)).otherwise(
        F.least(F.ceil(n / every_n_bytes), F.lit(max_frames))
    ).cast("int")
    frames = F.when(frame_count == 0, F.array().cast("array<binary>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), frame_count - 1),
            lambda i: F.col(content_column).substr(
                i * every_n_bytes + 1, F.lit(every_n_bytes)
            ),
        )
    )
    return df.select(
        id_column,
        n.alias("n_bytes"),
        frame_count.alias("n_frames"),
        frames.alias("frames"),
    )
