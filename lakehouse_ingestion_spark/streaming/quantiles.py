"""Streaming per-key quantile tracking with bounded t-digest state.

The streaming counterpart to ``operators/sketches.quantile_sketches``:
exact streaming percentiles need every value ever seen; the digest
needs ~``compression`` centroids per key, forever. Each micro-batch
folds its values into the key's digest with the same cosine-spaced
rank-bin compression the batch operator uses (Dunning & Ertl t-digest,
merging formulation), so

- state per key is CONSTANT (<= compression (mean, weight) pairs +
  min/max/n), regardless of stream length;
- the fold is associative in the sketch sense: batch-then-merge equals
  one big digestion up to bounded rank error (~pi/(2*compression) per
  digestion interior, tighter at the tails where the bins are narrow);
- emission (update mode) is the current quantile estimates after each
  batch that saw data for the key — the live p50/p95/p99 dashboard row.

Idle keys evict via the opt-in ``timeout_ms``, the same contract as the
other per-key operators here (``stateful.keyed_state``). The fold and the estimate are the
batch operator's own kernels (``sketches._td_compress`` /
``_td_estimate``), so streaming and batch digests compress identically.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from lakehouse_ingestion_spark.operators.sketches import _td_compress, _td_estimate
from lakehouse_ingestion_spark.streaming.stateful import keyed_state

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), True),
        StructField("mn", DoubleType(), True),
        StructField("mx", DoubleType(), True),
        StructField("means", ArrayType(DoubleType()), True),
        StructField("weights", ArrayType(DoubleType()), True),
    ]
)


def streaming_quantiles(
    df: DataFrame,
    key_column: str,
    value_column: str,
    quantiles: list[float] = (0.5, 0.95, 0.99),
    compression: int = 400,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key running quantile estimates: emits one row per key per
    micro-batch that carried data for it — ``(key, n, q_50, q_95, ...)``
    with column names derived from the requested quantiles (``0.95`` ->
    ``q_95``; fractional tails keep digits: ``0.999`` -> ``q_999``).
    State: one bounded t-digest per key. Update output mode.
    ``timeout_ms`` evicts idle keys (see ``stateful.keyed_state``)."""
    qs = [float(q) for q in quantiles]
    if not qs:
        raise ValueError("quantiles must be non-empty")
    if any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in [0,1], got {quantiles}")
    if compression < 8:
        raise ValueError(f"compression must be >= 8, got {compression}")

    def _qname(q: float) -> str:
        s = f"{q:.10f}".rstrip("0").lstrip("0").strip(".")
        return f"q_{s or '0'}"

    qnames = [_qname(q) for q in qs]
    if len(set(qnames)) != len(qnames):
        raise ValueError(f"duplicate quantiles: {quantiles}")
    n_bins = int(compression)

    def fold(st: tuple, chunks: Iterator[pd.DataFrame]):
        n, mn, mx, means_l, weights_l = st
        means = np.asarray(means_l, dtype="float64")
        weights = np.asarray(weights_l, dtype="float64")
        saw = False
        for pdf in chunks:
            v = pdf[value_column].astype("float64").to_numpy()
            v = v[~np.isnan(v)]
            if len(v) == 0:
                continue
            saw = True
            v = np.sort(v)
            mn = float(v[0]) if mn is None else min(mn, float(v[0]))
            mx = float(v[-1]) if mx is None else max(mx, float(v[-1]))
            n += len(v)
            allm = np.concatenate([means, v])
            allw = np.concatenate([weights, np.ones(len(v))])
            order = np.argsort(allm, kind="stable")
            means, weights = _td_compress(allm[order], allw[order], n_bins)
        out = []
        if saw:
            row = {"n": [int(n)]}
            for q, nm in zip(qs, qnames):
                row[nm] = [_td_estimate(means, weights, mn, mx, q)]
            out.append(pd.DataFrame(row))
        return (int(n), mn, mx, means.tolist(), weights.tolist()), out

    return keyed_state(
        df,
        [key_column],
        fold,
        _STATE_SCHEMA,
        (0, None, None, [], []),
        [
            StructField("n", LongType(), True),
            *[StructField(nm, DoubleType(), True) for nm in qnames],
        ],
        timeout_ms=timeout_ms,
    )
