"""Streaming CDC apply — maintain a materialized current-state table
from a continuous Debezium-style change stream via ``foreachBatch``.

Each micro-batch merges into the parquet snapshot with
``operators/cdc.cdc_apply_incremental`` (one union + one shuffle per
batch, scaling with |snapshot| + |batch|, not with history length) and
swaps the snapshot directory atomically-enough for a local FS (write to
temp, verify readable, rename) — the same two-rename discipline as
``operators/maintenance.compact_parquet``. On a transactional table
format the swap becomes a real MERGE (``sinks/delta.py:merge_upsert``,
gated on delta-spark).

Micro-batch replays (failure between sink write and checkpoint commit)
are idempotent: re-merging the same events yields the same state because
``cdc_apply`` keeps only the latest event per key. The reference has no
streaming CDC at all — batch CDC is declared in `docs/02-tech-spec.md`
and `schemas/music_school/cdc/v1.json` defines the envelope; this is the
continuous half.
"""

from __future__ import annotations

import logging
import os
import shutil
from pyspark.sql import DataFrame

from lakehouse_ingestion_spark.operators.cdc import DELETE_OPS, cdc_apply, cdc_apply_incremental

log = logging.getLogger(__name__)


def _recover_backup(state_path: str) -> None:
    """Repair the crash window between the two renames of the snapshot
    swap: if the process died after ``state_path`` was moved to the
    ``__cdc_old_{epoch}`` backup but before the new snapshot was promoted,
    ``state_path`` is missing and the backup holds the only copy of the
    prior state.  Restore the newest backup before folding the batch —
    otherwise the bootstrap branch would rebuild state from the current
    micro-batch alone and the backup would be deleted (silent state loss
    in exactly the window the module claims is idempotent)."""
    state = state_path.rstrip("/")
    if os.path.exists(state):
        return
    parent = os.path.dirname(state) or "."
    prefix = os.path.basename(state) + "__cdc_old_"
    if not os.path.isdir(parent):
        return
    backups = [n for n in os.listdir(parent) if n.startswith(prefix)]
    if not backups:
        return

    def _epoch(name: str) -> int:
        tail = name[len(prefix):]
        return int(tail) if tail.isdigit() else -1

    backups.sort(key=_epoch)
    newest = backups[-1]
    log.warning(
        "cdc state %s missing but backup %s exists — restoring (crash "
        "recovery between snapshot renames)",
        state,
        newest,
    )
    shutil.move(os.path.join(parent, newest), state)
    for stale in backups[:-1]:
        shutil.rmtree(os.path.join(parent, stale), ignore_errors=True)


def cdc_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    state_path: str,
    key_columns: list[str],
    order_by: list[str],
    op_column: str = "op",
    delete_ops: tuple[str, ...] = DELETE_OPS,
) -> None:
    """Fold one CDC micro-batch into the parquet state at
    ``state_path`` (bootstrapped on the first batch)."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    _recover_backup(state_path)
    if os.path.exists(state_path):
        snapshot = spark.read.parquet(state_path)
        new_state = cdc_apply_incremental(
            snapshot,
            batch_df,
            key_columns,
            list(order_by),
            op_column=op_column,
            delete_ops=delete_ops,
        )
    else:
        new_state = cdc_apply(
            batch_df,
            key_columns,
            list(order_by),
            op_column=op_column,
            delete_ops=delete_ops,
        ).drop(op_column)
    tmp = state_path.rstrip("/") + f"__cdc_tmp_{epoch_id}"
    new_state.write.mode("overwrite").parquet(tmp)
    expected = spark.read.parquet(tmp).count()  # footer-only
    old = state_path.rstrip("/") + f"__cdc_old_{epoch_id}"
    # a crash between the two moves of a previous attempt at this
    # epoch can leave the backup dir behind; clear it or the move
    # below nests the state inside it
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(state_path):
        shutil.move(state_path, old)
    shutil.move(tmp, state_path)
    if os.path.exists(old):
        shutil.rmtree(old)
    log.info(
        "cdc state %s updated at epoch %s (%d keys)",
        state_path,
        epoch_id,
        expected,
    )
