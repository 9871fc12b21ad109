"""Streaming z-score anomaly detection with incremental per-key stats.

The streaming counterpart to ``operators/anomaly.zscore_outliers``: a
batch job can compute each group's (mean, std) and join back, but a
stream must score events against statistics accumulated over EVERYTHING
seen so far — without ever re-reading history. State per key is the
Welford/Chan triple ``(n, mean, M2)``:

- numerically stable (no sum-of-squares cancellation on large n);
- mergeable: a micro-batch's own (n, mean, M2) folds into the running
  triple with Chan's parallel-merge formula, so each batch is ONE
  vectorized numpy pass, not a per-row Python loop;
- constant size (24 bytes/key) — state is bounded by key cardinality,
  and the opt-in ``timeout_ms`` evicts idle keys
  (``stateful.keyed_state``).

Scoring semantics: events in a micro-batch are scored against the state
as of the END of the previous batch (the batch is an atomic delta, the
same contract micro-batch joins give), and no scores are emitted until
a key has seen ``min_count`` events — early batches would otherwise
flag everything against a 2-event "distribution".
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from lakehouse_ingestion_spark.streaming.stateful import keyed_state

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), True),
        StructField("mean", DoubleType(), True),
        StructField("m2", DoubleType(), True),
    ]
)


def streaming_zscore(
    df: DataFrame,
    key_column: str,
    value_column: str,
    z: float = 3.0,
    min_count: int = 30,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key streaming outliers: emits ``(key, value, zscore)`` for
    events more than ``z`` population standard deviations from their
    key's running mean (state: Welford ``(n, mean, M2)``; update output
    mode). ``timeout_ms`` evicts idle keys (see
    ``stateful.keyed_state``)."""
    if z <= 0:
        raise ValueError(f"z must be positive, got {z}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    z_limit = float(z)
    need = int(min_count)

    def fold(st: tuple, chunks: Iterator[pd.DataFrame]):
        n, mean, m2 = st
        # `chunks` arrive Arrow-sized; the scoring snapshot is the
        # PRE-batch state for EVERY chunk (never state mid-updated by an
        # earlier chunk of the same batch), so output is independent of
        # spark.sql.execution.arrow.maxRecordsPerBatch — the documented
        # "score against the state as of the END of the previous batch"
        # contract. Chunk stats fold into separate accumulators committed
        # once after the loop.
        snap_n, snap_mean, snap_m2 = n, mean, m2
        snap_std = (
            math.sqrt(snap_m2 / snap_n)
            if snap_n >= need and snap_m2 > 0.0
            else None
        )
        hits_v: list = []
        hits_z: list = []
        for pdf in chunks:
            v = pdf[value_column].astype("float64").to_numpy()
            v = v[~np.isnan(v)]
            if len(v) == 0:
                continue
            # score against the pre-batch snapshot
            if snap_std is not None:
                zs = (v - snap_mean) / snap_std
                mask = np.abs(zs) > z_limit
                if mask.any():
                    hits_v.append(v[mask])
                    hits_z.append(zs[mask])
            # Chan parallel merge of the chunk's own (n, mean, M2) into
            # the accumulators (NOT the scoring snapshot)
            bn = len(v)
            bmean = float(v.mean())
            bm2 = float(((v - bmean) ** 2).sum())
            delta = bmean - mean
            tot = n + bn
            mean = mean + delta * bn / tot
            m2 = m2 + bm2 + delta * delta * n * bn / tot
            n = tot
        out = []
        if hits_v:
            out.append(
                pd.DataFrame({"value": np.concatenate(hits_v), "zscore": np.concatenate(hits_z)})
            )
        return (int(n), float(mean), float(m2)), out

    return keyed_state(
        df,
        [key_column],
        fold,
        _STATE_SCHEMA,
        (0, 0.0, 0.0),
        [StructField("value", DoubleType(), True), StructField("zscore", DoubleType(), True)],
        timeout_ms=timeout_ms,
    )
