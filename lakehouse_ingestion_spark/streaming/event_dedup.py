"""Streaming time-window event dedup: the cross-batch counterpart of
``operators/dedup.event_window_dedup`` (batch/stream parity, same
lag-to-predecessor semantics).

Per key, an event is kept iff it arrives >= ``min_gap_seconds`` after
the key's PREVIOUS event — where "previous" spans micro-batch
boundaries via ``applyInPandasWithState`` (state = the key's last seen
timestamp, one float per live key).  Within a batch, rows are ordered
by (ts, tiebreak) before the gap test, so intra-batch bursts collapse
exactly as the batch operator's lag window does.

State is ONE row per live key. The opt-in ``timeout_ms`` evicts keys
idle that long so high-cardinality key spaces stay bounded — after
eviction the key's next event is treated as first-seen (kept), the same
judgement the batch operator makes at the top of a partition. Eviction
needs a ``processingTime`` trigger (see ``stateful.keyed_state``).

Out-of-order arrivals ACROSS batches are resolved against the newest
timestamp seen so far (the state keeps ``max`` of seen ts): a straggler
older than the stored timestamp computes a negative gap and is dropped —
suppression errs toward dropping late duplicates rather than re-emitting
them.  Feed the stream through a watermark upstream if stragglers must
be reordered instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from lakehouse_ingestion_spark.streaming.stateful import keyed_state

_STATE_SCHEMA = StructType([StructField("last_ts", DoubleType(), True)])


def streaming_event_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    min_gap_seconds: int,
    tiebreak: list[str] | None = None,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Suppress same-key repeats within ``min_gap_seconds`` across
    micro-batches.  Emits kept rows with the input schema (append-style
    update output).  ``timeout_ms`` evicts idle keys; without it state
    grows with the key space.
    """
    if min_gap_seconds <= 0:
        raise ValueError(
            f"min_gap_seconds must be positive, got {min_gap_seconds}"
        )
    sort_cols = [ts_col] + list(tiebreak or [])
    gap = float(min_gap_seconds)

    def fold(st: tuple, chunks: Iterator[pd.DataFrame]):
        last = st[0]
        out = []
        for pdf in chunks:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
            keep = []
            for t in pdf[ts_col].astype("float64").tolist():
                keep.append(last is None or t - last >= gap)
                last = t if last is None else max(last, t)
            out.append(pdf[pd.Series(keep, index=pdf.index)])
        return (last,), out

    return keyed_state(
        df, key_cols, fold, _STATE_SCHEMA, (None,), None, timeout_ms=timeout_ms
    )
