"""Exactly-once fan-out to multiple sinks from one stream.

The reference names this as an open difficulty it does not solve
(`docs/01-problem-statement.md:27`: exactly-once vs at-least-once
semantics across sinks): foreachBatch gives at-least-once redelivery,
and two independent appends cannot commit atomically, so a crash
between them leaves one sink ahead and the redelivered batch
double-appends the other. This module is the standard Spark-native
answer, built from two pieces:

1. **Epoch-keyed idempotent writes.** Every sink writes the batch into
   an ``_epoch=<id>`` partition with DYNAMIC partition overwrite — a
   redelivered epoch REPLACES its own partition instead of appending a
   second copy. Each sink is therefore individually exactly-once under
   any number of retries, with no transaction protocol: idempotence,
   not atomicity, is what survives foreachBatch's contract. (With a
   transactional sink — Delta — the same role is played by
   txnAppId/txnVersion; this shape needs only parquet.)
2. **A commit ledger.** After every sink commits its epoch, one row
   (epoch, sink, rows) appends to a ledger table. The ledger makes the
   fan-out observable and READ-consistent: ``read_committed`` shows a
   sink's data only for epochs the ledger records for it, so a reader
   never sees sink A's epoch-7 rows while sink B is still writing
   epoch 7. Crash windows resolve safely in both directions — sinks
   committed but ledger not written: redelivery overwrites the same
   partitions and the ledger row appends once; ledger written but the
   stream checkpoint not advanced: redelivery overwrites identical
   data and appends a duplicate ledger row, which reads dedupe (the
   ledger is a log, not a set).

Per-sink transforms let one stream feed differently-shaped tables
(bronze raw / silver conformed / quarantine) from a single pass; the
batch is persisted once and unpersisted after the last sink.

100-TB posture: epoch partitions keep every retry's write bounded by
the batch, the ledger is rows-per-epoch-per-sink (tiny), and nothing
here rescans prior epochs. Small-file growth across epochs is the
normal compaction story (``operators/maintenance.compact_parquet``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.util import read_parquet_if_exists

EPOCH_COL = "_epoch"


@dataclass(frozen=True)
class SinkSpec:
    """One fan-out target: where to write and (optionally) how to shape
    the batch first. ``transform`` runs per epoch on the shared persisted
    batch; it must be deterministic for redelivery to converge."""

    path: str
    transform: Callable[[DataFrame], DataFrame] | None = None


def multi_sink_foreach_batch(
    sinks: dict[str, SinkSpec],
    ledger_path: str,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function. Sink names key the ledger; the
    write order is the dict order (make the most-downstream sink last
    so partial failures skew conservative)."""
    if not sinks:
        raise ConfigError("multi_sink needs at least one SinkSpec")
    for name in sinks:
        if not name or "/" in name:
            raise ConfigError(f"sink name must be a plain label, got {name!r}")

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(batch_df, sinks, ledger_path, epoch_id)

    return _fn


def write_epoch(
    batch_df: DataFrame,
    sinks: dict[str, SinkSpec],
    ledger_path: str,
    epoch_id: int,
    force: bool = False,
) -> None:
    """One epoch through the fan-out: idempotent per-sink writes, then
    the ledger append. Shared by the foreachBatch builder and the
    config-driven ``sinks/fanout.py`` writer.

    ``force=False`` (streaming redelivery): sinks the ledger already
    records for this epoch are skipped — the crash-recovery fast path.
    ``force=True`` (deliberate batch re-run): every sink rewrites its
    epoch partition even if ledgered, so a re-run with changed input
    REPLACES stale output instead of silently no-opping; the ledger
    gains a fresh row per sink (it is a log — readers dedupe).

    Forced re-runs write FIRST, then delete: dynamic partition
    overwrite only rewrites partitions PRESENT in the incoming data, so
    a forced re-run whose input (or transform output) is empty would
    leave the prior run's rows on disk while the fresh ledger row
    records rows=0 — the leftover partition is deleted AFTER the write
    action reports zero rows, never up front, and the rows=0 ledger row
    appends BEFORE the delete (so no crash point leaves a deleted
    partition whose freshest ledger row claims rows>0). A re-run that
    fails mid-transform/mid-write therefore leaves the prior epoch's
    data and ledger intact (stale-but-consistent, detectable by
    retrying) instead of a committed-but-empty epoch that
    ``read_committed`` would silently serve."""
    spark = batch_df.sparkSession
    done = (
        set() if force else _ledgered_sinks(spark, ledger_path, epoch_id)
    )
    todo = {n: s for n, s in sinks.items() if n not in done}
    if not todo:
        return
    from pyspark.sql import Observation

    batch_df.persist()
    try:
        observations: dict[str, Observation] = {}
        for name, spec in todo.items():
            out = spec.transform(batch_df) if spec.transform else batch_df
            if EPOCH_COL in out.columns:
                raise ConfigError(
                    f"sink {name!r} already has {EPOCH_COL}; it is "
                    "reserved for the idempotence partition"
                )
            # observe() rides the write job itself — the ledger's rows
            # column costs zero extra Spark jobs (previously a separate
            # out.count() re-ran each sink's transform per epoch)
            obs = Observation()
            counted = out.withColumn(EPOCH_COL, F.lit(epoch_id)).observe(
                obs, F.count(F.lit(1)).alias("rows")
            )
            # dynamic overwrite replaces ONLY this epoch's partition:
            # a redelivered epoch converges instead of double-appending
            (
                counted.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(EPOCH_COL)
                .parquet(spec.path)
            )
            observations[name] = obs
            if force and int(obs.get["rows"]) == 0:
                # empty forced output wrote no partition — the previous
                # run's leftover must go. Ledger the rows=0 row FIRST:
                # a crash between the two steps then leaves either
                # (ledger only) the old data still served under a
                # superseded-by-newer-row count, or (both) the empty
                # epoch correctly recorded — never a deleted partition
                # whose freshest ledger row still claims rows>0
                spark.createDataFrame(
                    [(epoch_id, name, 0)],
                    "epoch long, sink string, rows long",
                ).write.mode("append").parquet(ledger_path)
                _delete_epoch_partition(spark, spec.path, epoch_id)
        ledger = spark.createDataFrame(
            [(epoch_id, n, int(observations[n].get["rows"])) for n in todo],
            "epoch long, sink string, rows long",
        )
        ledger.write.mode("append").parquet(ledger_path)
    finally:
        batch_df.unpersist()


def _delete_epoch_partition(
    spark: SparkSession, sink_path: str, epoch_id: int
) -> None:
    """Remove ``<sink_path>/_epoch=<id>/`` after a forced rewrite whose
    fresh output was empty (dynamic overwrite wrote no partition).
    Goes through the Hadoop FileSystem API so it works on whatever
    filesystem the sink path resolves to (local, HDFS, object store),
    not just local disk. Missing path is a no-op (delete returns
    false)."""
    jvm = spark._jvm
    jsc = spark._jsc
    part = jvm.org.apache.hadoop.fs.Path(f"{sink_path}/{EPOCH_COL}={epoch_id}")
    fs = part.getFileSystem(jsc.hadoopConfiguration())
    fs.delete(part, True)


def _ledgered_sinks(
    spark: SparkSession, ledger_path: str, epoch_id: int
) -> set[str]:
    led = read_parquet_if_exists(spark, ledger_path)
    if led is None:
        return set()
    rows = (
        led.where(F.col("epoch") == epoch_id).select("sink").distinct().collect()
    )
    return {r.sink for r in rows}


def committed_epochs(
    spark: SparkSession, ledger_path: str, sink: str
) -> DataFrame:
    """Epochs the ledger records as fully written for ``sink``."""
    led = read_parquet_if_exists(spark, ledger_path)
    if led is None:
        return spark.createDataFrame([], "epoch long")
    return led.where(F.col("sink") == sink).select("epoch").distinct()


def read_committed(
    spark: SparkSession, spec_path: str, ledger_path: str, sink: str
) -> DataFrame:
    """The sink's data restricted to ledger-committed epochs — the
    consistent-read view (in-flight epochs invisible). The semi-join is
    on the partition column, so pruning drops uncommitted epoch
    directories at the scan.

    A sink that has never written a data file — path absent, or every
    ledgered epoch wrote zero rows (dynamic overwrite of an empty batch
    leaves no parquet footer to infer from) — reads as an empty frame
    rather than raising."""
    data = read_parquet_if_exists(
        spark, spec_path, absent=("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    )
    if data is None:
        return spark.createDataFrame([], f"{EPOCH_COL} long")
    eps = committed_epochs(spark, ledger_path, sink).withColumnRenamed(
        "epoch", EPOCH_COL
    )
    return data.join(F.broadcast(eps), EPOCH_COL, "semi")
