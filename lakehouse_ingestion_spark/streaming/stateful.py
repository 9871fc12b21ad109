"""Per-key streaming state via ``applyInPandasWithState``: one kernel
and the running aggregate built on it.

``keyed_state`` is the scaffold every per-key operator here shares
(``running_aggregate``, ``funnel``, ``quantiles``, ``anomaly``,
``heavy_hitters``, ``event_dedup``). It owns the output schema, the
state read and write, idle-key eviction and the
``applyInPandasWithState`` call, so an operator is only its fold:
``(state, pandas chunks) -> (new state, output frames)``.

Eviction is opt-in (``timeout_ms``) and works only with a
``processingTime`` trigger: an armed processing-time timeout makes Spark
run no-data batches forever, so an ``availableNow`` query never
terminates (nor does ``processAllAvailable`` return).

The state functions are shipped to Python workers that import this
package, as every operator here does.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def keyed_state(
    df: DataFrame,
    keys: list[str],
    fold: Callable[[tuple, Iterator[pd.DataFrame]], tuple],
    state_schema: StructType,
    init: tuple,
    out_fields: list[StructField] | None,
    on_timeout: Callable[[tuple], dict] | None = None,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Run ``fold`` per key over a stream's micro-batches.

    ``fold(state, chunks)`` gets the key's state (``init`` for a new
    key) and its Arrow chunks of the batch, and returns the new state
    plus the frames to emit (empty frames are dropped). With
    ``out_fields`` the output is the key columns (input names and types)
    followed by ``out_fields``, and the kernel prefixes the key values
    to each frame; with ``None`` the fold emits input rows and the
    output schema is the input's. Update output mode.

    ``timeout_ms=None`` keeps state forever. A positive ``timeout_ms``
    evicts a key idle that long under a ``processingTime`` trigger;
    ``on_timeout(state)`` may then give one final row (a dict of
    ``out_fields`` values). Any other value raises ``ValueError``.
    """
    if timeout_ms is not None and (
        isinstance(timeout_ms, bool) or not isinstance(timeout_ms, int) or timeout_ms <= 0
    ):
        raise ValueError(f"timeout_ms must be None or a positive int, got {timeout_ms!r}")
    keys = list(keys)
    if out_fields is None:
        out_schema = df.schema
    else:
        out_schema = StructType(
            [StructField(k, df.schema[k].dataType, True) for k in keys] + list(out_fields)
        )

    def _keyed(key: tuple, frame: pd.DataFrame) -> pd.DataFrame:
        if out_fields is not None:
            for i, k in enumerate(keys):
                frame.insert(i, k, key[i])
        return frame

    def _update(
        key: tuple, chunks: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        current = state.get if state.exists else init
        if state.hasTimedOut:
            state.remove()
            if on_timeout is not None:
                row = on_timeout(current)
                yield _keyed(key, pd.DataFrame({c: [v] for c, v in row.items()}))
            return
        new, frames = fold(current, chunks)
        state.update(new)
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        for frame in frames:
            if len(frame):
                yield _keyed(key, frame)

    return df.groupBy(*keys).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def running_aggregate(
    df: DataFrame,
    key_column: str,
    value_column: str,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key running (count, sum) across micro-batches — the pattern
    behind sessionization, per-entity counters and online features.

    Emits one updated row per key per micro-batch with
    ``is_final=false``. With ``timeout_ms`` set, a key idle that long is
    evicted and emits a last row with ``is_final=true``; its next event
    starts over at ``n_events=1``.
    """

    def fold(st: tuple, chunks: Iterator[pd.DataFrame]):
        n, total = st
        for pdf in chunks:
            n += len(pdf)
            total += float(pdf[value_column].fillna(0.0).sum())
        row = {"n_events": [n], "total_value": [total], "is_final": [False]}
        return (n, float(total)), [pd.DataFrame(row)]

    return keyed_state(
        df,
        [key_column],
        fold,
        StructType(
            [StructField("n", LongType(), True), StructField("total", DoubleType(), True)]
        ),
        (0, 0.0),
        [
            StructField("n_events", LongType(), True),
            StructField("total_value", DoubleType(), True),
            StructField("is_final", BooleanType(), True),
        ],
        on_timeout=lambda st: {"n_events": st[0], "total_value": st[1], "is_final": True},
        timeout_ms=timeout_ms,
    )
