"""The epoch ledger: the one replay-safe write protocol behind every
ledgered streaming maintainer (budget admission, the fan-out sink, the
sticky split, the ANN index, the count-min and contamination folds).

foreachBatch is at-least-once: after a crash Spark re-runs a micro-batch
under the same batch id (the epoch), and two independent writes cannot
commit atomically. The reference names exactly-once delivery across
sinks as an open problem (`docs/01-problem-statement.md:27`); every
maintainer here answers it with the same three steps, all owned by this
module:

1. **Skip** an epoch the ledger already records. ``ledger_totals``
   reads that flag in the same aggregate as whatever ledger totals the
   caller needs (spent budget, seen mass, ...), so the check costs no
   extra Spark job.
2. **Write** the epoch's data into its own ``_epoch=N`` partition with
   DYNAMIC partition overwrite (``overwrite_epoch``): a redelivered
   epoch replaces its partition instead of appending a second copy.
3. **Append** one ledger row set (``append_ledger``) — the commit point.

A crash before step 3 leaves an unledgered epoch that re-runs end to
end and overwrites its own partition (the recomputation is a pure
function of the batch plus the ledger, which excludes the crashed
epoch); a crash after it is skipped on redelivery. Each ledger is a tiny
parquet log whose schema is a constant of its maintainer; reading it
with that schema skips parquet footer inference, one Spark job per
trigger.

Cadence compactions replace a whole path (``overwrite_snapshot``). That
write forces ``partitionOverwriteMode=static``: under a session-wide
``dynamic`` default only the snapshot's own partition would be
replaced and every superseded partition would survive.

``compact_fold_log`` is the compaction protocol for additive delta logs
(the current value is the FOLD of all delta partitions):

- with a ledger, only LEDGERED epochs (plus a prior snapshot) fold into
  the ``_epoch = -1`` snapshot; unledgered PENDING deltas are carried
  forward VERBATIM in their own partitions (dropping them would lose an
  epoch whose ledger append lands between our ledger read and the
  overwrite — epoch writers skip ledgered epochs, so the delta would
  never be recomputed);
- after the fold is pinned (``localCheckpoint``), the ledger is re-read
  and the fold RETRIES if epochs were ledgered mid-fold;
- after the overwrite, a final ledger read detects the residual window:
  a delta ledgered during the overwrite whose partition is gone RAISES
  (loud beats silent corruption).

Without a ledger none of this applies and the caller must quiesce the
stream before compacting.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.util import EPOCH_COL, read_parquet_if_exists

SNAPSHOT_EPOCH = -1
LEDGERED = "ledgered"


def read_ledger(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """The ledger at ``path``; None ONLY when it does not exist yet
    (first run).

    Any other read failure (object-store hiccup, permissions) must
    propagate so the micro-batch retries: swallowing it would make the
    epoch recompute against an empty ledger — re-admitting a spent
    budget, or appending a duplicate row for a ledgered epoch.

    ``schema``: the maintainer's ledger schema constant. With it, file
    listing still happens at load (a missing ledger raises
    PATH_NOT_FOUND exactly like the inferred read), but the footer
    inference job is skipped."""
    return read_parquet_if_exists(
        spark, path, schema=schema, match_message=True
    )


def ledger_totals(
    spark: SparkSession,
    path: str,
    schema: str,
    epoch: int,
    *totals: Column,
    by: str | None = None,
) -> list[Row]:
    """ONE aggregate over the ledger: the caller's ``totals`` (grouped
    ``by`` one column when given) plus a ``ledgered`` flag per row that
    is truthy when ``epoch`` is already recorded in that group. Empty
    when the ledger does not exist yet."""
    led = read_ledger(spark, path, schema)
    if led is None:
        return []
    if not totals:
        # only the flag is wanted: aggregate this epoch's rows alone, so
        # a first delivery (no rows) skips the grouped result stage
        led = led.where(F.col("epoch") == epoch)
    flag = F.max((F.col("epoch") == epoch).cast("int")).alias(LEDGERED)
    grouped = led.groupBy(by) if by else led.groupBy()
    return grouped.agg(flag, *totals).collect()


def ledgered_epochs(spark: SparkSession, path: str) -> set[int]:
    """Every epoch the ledger records (empty before the first commit).
    Every ledger carries ``epoch long``, so the read needs no other
    column."""
    led = read_ledger(spark, path, "epoch long")
    if led is None:
        return set()
    return {int(r["epoch"]) for r in led.select("epoch").distinct().collect()}


def append_ledger(
    spark: SparkSession, path: str, schema: str, rows: list[tuple]
) -> None:
    """The commit point: append this epoch's ledger rows."""
    spark.createDataFrame(rows, schema).write.mode("append").parquet(path)


def _overwrite(
    df: DataFrame, path: str, mode: str, partition_by: Iterable[str]
) -> None:
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", mode)
        .partitionBy(EPOCH_COL, *partition_by)
        .parquet(path)
    )


def overwrite_epoch(
    df: DataFrame, path: str, epoch: int, *partition_by: str, **metrics: Column
) -> dict:
    """Idempotent epoch write: ``df`` lands in (and on redelivery
    REPLACES) the ``_epoch=<epoch>`` partition, sub-partitioned by
    ``partition_by``. ``metrics`` (name -> aggregate Column) ride the
    write job through ``observe()`` and come back as a dict — no extra
    Spark job."""
    from pyspark.sql import Observation

    out = df.withColumn(EPOCH_COL, F.lit(int(epoch)).cast("long"))
    obs = None
    if metrics:
        obs = Observation()
        out = out.observe(obs, *(c.alias(k) for k, c in metrics.items()))
    _overwrite(out, path, "dynamic", partition_by)
    return dict(obs.get) if obs is not None else {}


def overwrite_snapshot(df: DataFrame, path: str, *partition_by: str) -> None:
    """Replace EVERYTHING under ``path`` with ``df`` (which carries its
    own ``_epoch`` column), whatever the session's overwrite mode. The
    caller pins ``df`` first when its plan reads ``path``."""
    _overwrite(df, path, "static", partition_by)


def current_fold(
    spark: SparkSession,
    path: str,
    fold: Callable[[DataFrame], DataFrame],
) -> DataFrame | None:
    """Fold the delta log into its current value (None before the first
    committed epoch). The frame under the fold is #epochs x |keys| rows
    — never input-sized."""
    raw = read_parquet_if_exists(spark, path)
    return None if raw is None else fold(raw)


def _epochs_in(df: DataFrame | None) -> set[int]:
    if df is None:
        return set()
    return {int(r[EPOCH_COL]) for r in df.select(EPOCH_COL).distinct().collect()}


def compact_fold_log(
    spark: SparkSession,
    path: str,
    fold: Callable[[DataFrame], DataFrame],
    ledger_path: str | None = None,
    max_retries: int = 3,
) -> None:
    """Fold delta partitions into ONE snapshot partition
    (``_epoch = -1``); superseded partitions go. Cadence maintenance,
    not a per-trigger step; the race rules are in the module docstring.
    ``ledger_path=None`` means no ledger: the caller quiesced the
    stream."""
    for _ in range(max_retries):
        raw = read_parquet_if_exists(spark, path)
        if raw is None:
            return
        keep = [SNAPSHOT_EPOCH]
        if ledger_path is not None:
            committed = ledgered_epochs(spark, ledger_path)
            keep += sorted(committed)
        folded = F.col(EPOCH_COL).isin(keep)
        snap = fold(raw if ledger_path is None else raw.filter(folded))
        snap = snap.withColumn(EPOCH_COL, F.lit(SNAPSHOT_EPOCH).cast("long"))
        if ledger_path is not None:
            pending = raw.filter(~folded).select(*snap.columns)
            snap = snap.unionByName(pending)
        snap = snap.localCheckpoint(eager=True)  # pin: plan reads `path`
        if ledger_path is not None:
            # epochs present in the files at pin time (cheap: the frame
            # is fold-sized) — needed for post-overwrite loss detection
            seen_epochs = _epochs_in(snap) | committed
            if ledgered_epochs(spark, ledger_path) - committed:
                continue  # ledgered mid-fold: pinned read may predate it
        overwrite_snapshot(snap, path)
        if ledger_path is not None:
            candidates = ledgered_epochs(spark, ledger_path) - seen_epochs
            if candidates:
                present = _epochs_in(read_parquet_if_exists(spark, path))
                lost = sorted(candidates - present)
                if lost:
                    raise RuntimeError(
                        "compact_fold_log raced the stream: epoch(s) "
                        f"{lost} were ledgered during the overwrite and "
                        "their delta partitions were destroyed — values "
                        "for those epochs are unrecoverable; quiesce the "
                        "stream before compaction"
                    )
        return
    raise RuntimeError(
        f"compact_fold_log could not pin a consistent fold in {max_retries} "
        "attempts (the stream keeps committing epochs mid-fold) — "
        "quiesce the stream or retry later"
    )
