"""Streaming heavy hitters with bounded state (Misra-Gries summaries).

Exact top-k over a stream (``groupBy(item).count()`` in complete mode)
keeps one state row per DISTINCT item — unbounded on open vocabularies
(URLs, user agents, n-grams). The Misra-Gries summary keeps at most
``capacity`` counters per group and still guarantees, after N items:

    true_count - N / (capacity + 1)  <=  reported_count  <=  true_count

so every item with frequency above N/(capacity+1) is GUARANTEED present
(no false negatives above the threshold) — the classic frequent-items
contract (Misra & Gries 1982; Berinde et al. PODS'09 for the merge).

Per micro-batch: count the batch exactly with one vectorized
``value_counts`` (cheap — a batch is small), fold into the summary, then
apply the Misra-Gries decrement to shrink back to ``capacity`` counters.
The decrement step subtracts the (capacity+1)-th largest count from
everything and drops non-positives — the summary-merge formulation,
which is associative, so state composes across batches exactly like the
single-pass algorithm.

State per group: at most ``capacity`` (item, count) pairs + the running
total N — bounded regardless of stream cardinality. Emission (update
mode): the current summary each batch, annotated with N so consumers
can compute the error bound ``N / (capacity + 1)`` themselves.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_ingestion_spark.streaming.stateful import keyed_state

_STATE_SCHEMA = StructType(
    [
        StructField("items", ArrayType(StringType()), True),
        StructField("counts", ArrayType(LongType()), True),
        StructField("total", LongType(), True),
    ]
)


def streaming_heavy_hitters(
    df: DataFrame,
    key_column: str,
    item_column: str,
    capacity: int = 32,
) -> DataFrame:
    """Per-key frequent items over the stream: emits one row per
    surviving counter per micro-batch — ``(key, item, est_count,
    total_seen)`` with ``est_count`` within ``total_seen / (capacity+1)``
    of the true count (never above it). Update output mode."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    cap = int(capacity)

    def fold(st: tuple, chunks: Iterator[pd.DataFrame]):
        items, counts, total = st
        summary = dict(zip(items, counts))
        for pdf in chunks:
            vc = pdf[item_column].dropna().astype(str).value_counts()
            total += int(vc.sum())
            for item, c in vc.items():
                summary[item] = summary.get(item, 0) + int(c)
            if len(summary) > cap:
                # summary-merge decrement: subtract the (cap+1)-th
                # largest count, drop non-positives -> <= cap survive
                kth = sorted(summary.values(), reverse=True)[cap]
                summary = {
                    i: c - kth for i, c in summary.items() if c - kth > 0
                }
        # deterministic emission order: count desc, then item
        ordered = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))
        out = pd.DataFrame(
            {
                "item": [i for i, _ in ordered],
                "est_count": [c for _, c in ordered],
                "total_seen": [total] * len(ordered),
            }
        )
        return (list(summary), [int(c) for c in summary.values()], int(total)), [out]

    return keyed_state(
        df,
        [key_column],
        fold,
        _STATE_SCHEMA,
        ([], [], 0),
        [
            StructField("item", StringType(), True),
            StructField("est_count", LongType(), True),
            StructField("total_seen", LongType(), True),
        ],
    )
