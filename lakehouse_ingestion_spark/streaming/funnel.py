"""Streaming ordered-funnel progression with bounded per-user state.

The streaming counterpart to ``operators/funnel.funnel_stages``: batch
funnels re-fold every user's full history each run; the stream carries
each user's progress as TWO values — (stage reached, timestamp of the
last matched step) — and advances it per micro-batch. State is constant
size per user regardless of event volume, with opt-in idle eviction
(``timeout_ms``, ``stateful.keyed_state``).

Semantics match the batch operator's greedy strict-ordering fold
(events sorted by time; a step matches only strictly after the previous
match) WITHIN the arrival order: events are folded batch by batch, so a
matching event that arrives in a LATER batch but with an EARLIER
timestamp than the last match cannot rewind the funnel — across-batch
out-of-order delivery is the source's job to bound (watermark +
ordered replay); within a batch, events are time-sorted before folding.

Emits (update mode) one row per user whose stage ADVANCED in the batch
— downstream keeps the latest row per user for the live funnel report.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from lakehouse_ingestion_spark.streaming.stateful import keyed_state

_STATE_SCHEMA = StructType(
    [
        StructField("stage", IntegerType(), True),
        StructField("last_ts", DoubleType(), True),  # epoch seconds
    ]
)


def streaming_funnel(
    df: DataFrame,
    user_column: str,
    ts_column: str,
    step_column: str,
    steps: list[str],
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-user funnel stage across micro-batches: emits
    ``(user, stage)`` whenever a user's stage advances.
    State: (stage, last-matched epoch seconds) — constant per user.
    ``timeout_ms`` evicts idle users (see ``stateful.keyed_state``)."""
    if not steps:
        raise ValueError("steps must be non-empty")
    steps_l = list(steps)

    def fold(st: tuple, chunks: Iterator[pd.DataFrame]):
        stage, last_ts = st
        start_stage = stage
        # concat the user's Arrow chunks so the time sort spans the WHOLE
        # micro-batch (per-chunk sorting would leak arrival order across
        # chunk boundaries); per-user-per-batch volume bounds the buffer
        parts = [pdf[[ts_column, step_column]].dropna() for pdf in chunks]
        sub = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else (parts[0] if parts else pd.DataFrame({ts_column: [], step_column: []}))
        )
        sub = sub.sort_values(ts_column, kind="stable")
        tsv = sub[ts_column]
        if pd.api.types.is_datetime64_any_dtype(tsv):
            # datetime64[ns] -> epoch seconds; numeric ts columns are
            # already epoch seconds and pass through unscaled (a blanket
            # /1e9 would silently store wrong-unit state)
            tsv = tsv.astype("int64") / 1e9
        else:
            tsv = tsv.astype("float64")
        for ts, step in zip(tsv, sub[step_column]):
            if stage >= len(steps_l):
                break
            if step == steps_l[stage] and (last_ts is None or ts > last_ts):
                stage += 1
                last_ts = float(ts)
        out = [pd.DataFrame({"stage": [stage]})] if stage > start_stage else []
        return (int(stage), last_ts), out

    return keyed_state(
        df,
        [user_column],
        fold,
        _STATE_SCHEMA,
        (0, None),
        [StructField("stage", IntegerType(), True)],
        timeout_ms=timeout_ms,
    )
