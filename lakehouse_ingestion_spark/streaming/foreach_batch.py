"""Streaming DQ via foreachBatch (SURVEY.md §7 M6, hard part #3).

The reference SKIPS schema validation and DQ for streaming jobs
(``core/IngestionJob.scala:73,87,123-125``). Here every micro-batch runs
the fused DQ pass; policy semantics mid-stream:

- FAIL_FAST: raise inside foreachBatch -> the streaming query fails
  (surface the DQ error as the query's exception);
- QUARANTINE: split; bad rows to the quarantine writer, good rows onward;
- LOG_ONLY: log and continue.
"""

from __future__ import annotations

import logging
from typing import Callable, Optional

from pyspark.sql import DataFrame

from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint
from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet, OnFailPolicy

log = logging.getLogger(__name__)


def dq_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    ruleset: DQRuleSet,
    policy: OnFailPolicy,
    sink: Callable[[DataFrame, int], None],
    quarantine_sink: Optional[Callable[[DataFrame, int], None]] = None,
) -> None:
    """One micro-batch through the DQ gate, then the sink.

    ``sink(df, epoch_id)`` persists good rows; ``quarantine_sink`` bad
    rows. Both read the batch ``enforce`` pinned, released after the sink.
    """
    good, summary = ruleset.enforce(
        batch_df,
        policy,
        quarantine_writer=(
            (lambda bad: quarantine_sink(bad, epoch_id)) if quarantine_sink else None
        ),
    )
    try:
        sink(good, epoch_id)
    finally:
        release_local_checkpoint(good)
    log.info("epoch %s DQ status: %s", epoch_id, summary.status.value)
