"""Streaming count-min maintenance: keep a frequency sketch current as
batches arrive, without ever rescanning the corpus.

The streaming face of ``operators/cms.py`` — the frequency companion of
the streaming contamination audit, on the SAME epoch-delta fold-log
layout (``streaming/epochlog.py``): per micro-batch the batch's own
counters are built (ONE bounded aggregate — the delta is <=
depth*width*groups rows regardless of batch size) and landed as an
epoch-partitioned delta; the current sketch is the fold (counter rows
are exact sums, so fold == ``cms_merge`` == the single-pass build,
bit-for-bit — tests/test_cms.py). Replay contract:

- delta FIRST (dynamic overwrite of the epoch's own partition —
  idempotent under replay: the delta is a pure function of batch
  content), ledger append AFTER;
- a ledgered epoch is skipped outright (redelivery never double-counts);
- a crash between the two recomputes the identical delta and overwrites
  its own partition — convergent.

Read amplification grows with epoch count; ``compact_counters`` folds
the delta log into one snapshot partition via the shared
``compact_fold_log`` protocol (ledgered-only fold, pending deltas
carried verbatim, pinned-read retry, post-overwrite loss detection).

State per trigger: O(#epochs x depth x width x groups) rows read for
``current_counters``, ONE delta write — the batch is the only
batch-sized input anywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.streaming import epochlog
from lakehouse_ingestion_spark.streaming.epochlog import LEDGERED

LEDGER_SCHEMA = "epoch long, cnt_sum long"


def _fold_factory(group_cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    def _fold(raw: DataFrame) -> DataFrame:
        return raw.groupBy(*group_cols, "seed", "bucket").agg(
            F.sum("cnt").alias("cnt")
        )

    return _fold


def current_counters(
    spark: SparkSession,
    counters_path: str,
    group_cols: list[str] | None = None,
) -> DataFrame | None:
    """Fold the delta log into the current sketch (None before the
    first committed epoch)."""
    return epochlog.current_fold(
        spark, counters_path, _fold_factory(list(group_cols or []))
    )


def compact_counters(
    spark: SparkSession,
    counters_path: str,
    ledger_path: str | None = None,
    group_cols: list[str] | None = None,
    max_retries: int = 3,
) -> None:
    """Fold delta partitions into ONE snapshot partition — the shared
    ``compact_fold_log`` protocol; without ``ledger_path`` the caller
    must quiesce the stream first."""
    epochlog.compact_fold_log(
        spark,
        counters_path,
        _fold_factory(list(group_cols or [])),
        ledger_path,
        max_retries=max_retries,
    )


def cms_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    counters_path: str,
    ledger_path: str,
    item_col: str,
    group_cols: list[str] | None = None,
    depth: int = 4,
    width: int = 4096,
    weight_col: str | None = None,
) -> None:
    """One micro-batch through the maintainer: delta, then ledger."""
    from lakehouse_ingestion_spark.operators.cms import cms_build

    spark = batch_df.sparkSession
    rows = epochlog.ledger_totals(spark, ledger_path, LEDGER_SCHEMA, epoch_id)
    if any(r[LEDGERED] for r in rows):
        return  # ledgered epoch: delta is committed, skip outright

    delta = cms_build(
        batch_df,
        item_col,
        group_cols=group_cols,
        depth=depth,
        width=width,
        weight_col=weight_col,
    )
    m = epochlog.overwrite_epoch(
        delta, counters_path, epoch_id,
        cnt_sum=F.coalesce(F.sum("cnt"), F.lit(0)),
    )
    # cnt_sum = depth x batch mass — the ledger's consistency probe
    epochlog.append_ledger(
        spark, ledger_path, LEDGER_SCHEMA, [(int(epoch_id), int(m["cnt_sum"]))]
    )
