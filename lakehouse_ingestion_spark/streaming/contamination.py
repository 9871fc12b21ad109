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

from lakehouse_ingestion_spark.streaming.budget import _read_ledger

EPOCH_COL = "_epoch"
COMPACT_EPOCH = -1


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
    from lakehouse_ingestion_spark.streaming.foldlog import current_fold

    return current_fold(spark, report_path, _fold)


def _ledger_epochs(spark: SparkSession, ledger_path: str) -> set[int]:
    led = _read_ledger(spark, ledger_path)
    if led is None:
        return set()
    return {int(r["epoch"]) for r in led.select("epoch").distinct().collect()}


def compact_report(
    spark: SparkSession,
    report_path: str,
    ledger_path: str | None = None,
    max_retries: int = 3,
) -> None:
    """Fold delta partitions into ONE snapshot partition
    (``_epoch = -1``); superseded partitions go. Cadence maintenance,
    not a per-trigger step.

    Replay-safety rules (r10 + r11 ADVICE fixes):

    - The write forces ``partitionOverwriteMode=static`` so the WHOLE
      report path is replaced regardless of the session default — under
      a session-wide ``dynamic`` default only the snapshot's own
      partition would be replaced and every superseded delta would
      survive, double-counting in ``current_report`` from then on.
    - With ``ledger_path``, only LEDGERED epochs (plus a prior snapshot)
      are folded into the snapshot.  Unledgered PENDING deltas are
      carried forward VERBATIM in their own epoch partitions (r11
      ADVICE fix): dropping them would permanently lose an epoch whose
      ledger append lands between our ledger read and the overwrite
      (``contamination_epoch`` skips ledgered epochs, so the delta
      would never be recomputed).  Carrying them is replay-safe —
      ``current_report`` folds raw partitions regardless of ledger
      state, and a crash-pending epoch's retry dynamically overwrites
      its own partition, replacing the carried copy (no double count).
    - After the fold is pinned (``localCheckpoint``), the ledger is
      RE-READ: if epochs were ledgered mid-fold, their deltas may
      postdate our pinned read — refold from scratch (up to
      ``max_retries``; a stream committing faster than the fold raises
      and the caller should quiesce or retry later).
    - After the overwrite, one final ledger read detects the residual
      window (a delta landing between our pinned read and the
      overwrite, ledgered during the overwrite): if such an epoch's
      partition is gone, RAISE — the counts were destroyed and cannot
      be recomputed; loud beats silent corruption.

    Without ``ledger_path`` none of this applies and the caller must
    quiesce the stream first.

    The protocol body lives in ``streaming/foldlog.compact_fold_log``
    (ONE copy of the race rules, shared with the streaming count-min
    maintainer); this wrapper supplies the report fold and routes the
    ledger read through this module's ``_ledger_epochs`` so the
    race-interleaving tests keep their monkeypatch point."""
    from lakehouse_ingestion_spark.streaming.foldlog import compact_fold_log

    committed = (
        None
        if ledger_path is None
        # late-bound module-global lookup: tests script the race by
        # patching contamination._ledger_epochs
        else (lambda: _ledger_epochs(spark, ledger_path))
    )
    compact_fold_log(
        spark, report_path, _fold, committed, max_retries=max_retries
    )


def contamination_epoch(
    batch_df: DataFrame,
    epoch_id: int,
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
    led = _read_ledger(spark, ledger_path)
    if led is not None and led.filter(F.col("epoch") == epoch_id).count():
        return  # ledgered epoch: delta is committed, skip outright

    delta = contamination_report(
        batch_df,
        eval_df,
        text_col=text_col,
        id_col=id_col,
        eval_id_col=eval_id_col,
        n=n,
        threshold=threshold,
    ).withColumn(EPOCH_COL, F.lit(int(epoch_id)).cast("long"))
    from pyspark.sql import Observation

    obs = Observation()
    counted = delta.observe(
        obs,
        F.coalesce(F.sum("n_dirty_docs"), F.lit(0)).alias("dirty"),
        F.coalesce(F.sum("n_hit_docs"), F.lit(0)).alias("hits"),
    )
    (
        counted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(EPOCH_COL)
        .parquet(report_path)
    )
    metrics = dict(obs.get)
    spark.createDataFrame(
        [(int(epoch_id), int(metrics["dirty"]), int(metrics["hits"]))],
        "epoch long, batch_dirty long, batch_hits long",
    ).write.mode("append").parquet(ledger_path)
