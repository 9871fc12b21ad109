"""Streaming eval-contamination audit: keep the per-eval-example report
(``operators/decontaminate.contamination_report``) current as crawl
batches arrive, without ever rescanning the corpus.

Per micro-batch the batch's own report is computed (eval-sized — the
eval n-gram frame broadcasts, the BATCH is the only corpus-sized input)
and landed as an epoch-partitioned DELTA; the current report is the
fold of the deltas (per-example counts are additive across batches and
``max_overlap`` is a max, because every doc arrives in exactly one
epoch).  Nothing merged in place — an in-place read-merge-overwrite
would double-count on redelivery, the exact hazard the epoch-delta
layout exists to avoid (same contract as ``streaming/curation``'s
label/assignment logs):

- delta FIRST (dynamic overwrite of the epoch's own partition —
  idempotent under replay), ledger append AFTER;
- a ledgered epoch is skipped outright;
- a crash between the two recomputes the identical delta (pure function
  of batch content) and overwrites its own partition — convergent.

Read amplification grows with epoch count; ``compact_report`` folds the
delta log into one snapshot partition on whatever cadence the caller
runs maintenance (the r8 lesson: cadence compaction, never per-trigger
rewrites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.streaming import epochlog
from lakehouse_ingestion_spark.streaming.epochlog import LEDGERED

LEDGER_SCHEMA = "epoch long, batch_dirty long, batch_hits long"


def _fold(raw: DataFrame) -> DataFrame:
    """The report fold: per-example counts add across epochs (every doc
    arrives in exactly one epoch), overlap is a max."""
    return raw.groupBy("eval_id").agg(
        F.sum("n_dirty_docs").alias("n_dirty_docs"),
        F.sum("n_hit_docs").alias("n_hit_docs"),
        F.max("max_overlap").alias("max_overlap"),
    )


def current_report(spark: SparkSession, report_path: str) -> DataFrame | None:
    """Fold the delta log into the current per-eval-example report
    (None before the first committed epoch). Eval-sized aggregation —
    the frame under it is #epochs x |eval| rows, never corpus-sized."""
    return epochlog.current_fold(spark, report_path, _fold)


def compact_report(
    spark: SparkSession,
    report_path: str,
    ledger_path: str | None = None,
    max_retries: int = 3,
) -> None:
    """Fold delta partitions into ONE snapshot partition
    (``_epoch = -1``); superseded partitions go. Cadence maintenance,
    not a per-trigger step: the shared ``epochlog.compact_fold_log``
    protocol (its race rules are in ``streaming/epochlog``). A carried
    unledgered delta is replay-safe: ``current_report`` folds raw
    partitions regardless of ledger state, and the pending epoch's
    retry overwrites its own partition. Without ``ledger_path`` the
    caller must quiesce the stream first."""
    epochlog.compact_fold_log(
        spark, report_path, _fold, ledger_path, max_retries=max_retries
    )


def contamination_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    eval_df: DataFrame,
    report_path: str,
    ledger_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    n: int = 3,
    threshold: int = 2,
) -> None:
    """One micro-batch through the audit: delta, then ledger."""
    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )

    spark = batch_df.sparkSession
    rows = epochlog.ledger_totals(spark, ledger_path, LEDGER_SCHEMA, epoch_id)
    if any(r[LEDGERED] for r in rows):
        return  # ledgered epoch: delta is committed, skip outright

    delta = contamination_report(
        batch_df,
        eval_df,
        text_col=text_col,
        id_col=id_col,
        eval_id_col=eval_id_col,
        n=n,
        threshold=threshold,
    )
    m = epochlog.overwrite_epoch(
        delta, report_path, epoch_id,
        dirty=F.coalesce(F.sum("n_dirty_docs"), F.lit(0)),
        hits=F.coalesce(F.sum("n_hit_docs"), F.lit(0)),
    )
    epochlog.append_ledger(
        spark, ledger_path, LEDGER_SCHEMA,
        [(int(epoch_id), int(m["dirty"]), int(m["hits"]))],
    )
