"""Streaming maintainer for the IVF ANN index (operators/incremental_ann).

Each micro-batch of ``(id, vector)`` rows is admitted into the
maintained postings with ONE map-only assignment pass against the
current centroid set — per-trigger cost is the batch's matmul plus its
epoch-partition write, never a corpus rescan. On a configurable cadence
the index retrains: Lloyd refinement over the postings (the vectors live
IN the index) followed by a full reassignment that also folds every
epoch partition into one snapshot — the compaction analog that bounds
both read amplification and centroid staleness. That step is
corpus-sized BY DESIGN (the same cadence posture as
``curation.compact_split_state``); everything per-trigger is
batch-sized, which is the r9 contract for every maintained state in
this repo.

State layout under ``index_dir``:

- ``postings/_epoch=N/cell=C/`` — per-epoch delta partitions, dynamic
  partition overwrite, so a redelivered epoch REPLACES its own rows.
  ``cell`` stays a partition column at the second level: the search's
  ``cell IN (...)`` filter prunes files inside every epoch directory,
  committed-epoch filtering prunes at the first level — a serving query
  reads ~nprobe/K of the committed corpus bytes and nothing else.
- ``centroids/_epoch=N/`` — the K-row centroid set as of epoch N
  (written only at bootstrap and retrain); the latest partition wins.
- ``ledger`` — committed-epoch rows (``streaming/multi_sink`` format):
  replay detection per trigger, crashed-partial exclusion at read.

Crash story: state writes land before the ledger row, so an un-ledgered
epoch re-runs end to end and dynamic overwrite discards the partial
attempt; a ledgered epoch's redelivery is a no-op (the sink is
state-only — there is no per-epoch output to re-emit). Retrain runs
AFTER the ledger append, on the foreachBatch thread, so the "stopped at
a ledgered epoch" contract holds by construction; a crash mid-retrain
has the same one-off restore-from-snapshot window as
``compact_split_state`` and ``_migrate_legacy_assignments``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.incremental_ann import (
    assign_postings,
    retrain_postings,
    search_postings,
)
from lakehouse_ingestion_spark.streaming import epochlog
from lakehouse_ingestion_spark.streaming.epochlog import EPOCH_COL, LEDGERED
from lakehouse_ingestion_spark.streaming.multi_sink import LEDGER_SCHEMA
from lakehouse_ingestion_spark.util import read_parquet_if_exists

LEDGER_SINK = "ann_index_state"


def _centroids_path(index_dir: str) -> str:
    return f"{index_dir}/centroids"


def _postings_path(index_dir: str) -> str:
    return f"{index_dir}/postings"


def _ledger_path(index_dir: str) -> str:
    return f"{index_dir}/ledger"


def current_centroids(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Latest centroid set (K rows — tiny). Centroid partitions are only
    written at bootstrap/retrain, both of which complete before the next
    ledger row, so the max-epoch partition is always a full set."""
    raw = read_parquet_if_exists(spark, _centroids_path(index_dir))
    if raw is None:
        return None
    mx = raw.agg(F.max(EPOCH_COL)).collect()[0][0]
    return raw.where(F.col(EPOCH_COL) == mx).select("cid", "cv")


def committed_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """The index restricted to ledger-committed epochs (crashed partial
    attempts invisible). Both the epoch semi-join and any downstream
    ``cell`` filter hit partition columns — pruning, not scanning."""
    from lakehouse_ingestion_spark.streaming.multi_sink import read_committed

    df = read_committed(
        spark, _postings_path(index_dir), _ledger_path(index_dir), LEDGER_SINK
    )
    if "cell" in df.columns:
        df = df.withColumn("cell", F.col("cell").cast("long"))
    return df


def search_index(
    spark: SparkSession,
    index_dir: str,
    queries: "DataFrame | pd.DataFrame",
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Serve a query batch against the maintained index: committed
    epochs only, probed cells only (both partition-pruned), then the
    fused scoring kernel."""
    cent = current_centroids(spark, index_dir)
    if cent is None:
        raise ConfigError(f"no centroids at {index_dir} — index never bootstrapped")
    posts = committed_postings(spark, index_dir)
    if "cell" not in posts.columns:
        # bootstrapped centroids but no committed epoch yet (crash
        # between the two bootstrap writes): an empty index, not an error
        return spark.createDataFrame(
            [], "q_id long, neighbor_id long, cos_sim double, rk int"
        )
    return search_postings(
        posts,
        queries,
        cent,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        exclude_same_id=exclude_same_id,
    )


def retrain_index(
    spark: SparkSession,
    index_dir: str,
    dim: int,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> None:
    """Cadence maintenance (corpus-sized by design): Lloyd-refine the
    centroids over the committed postings, reassign, and fold every
    epoch partition into one snapshot at the max committed epoch —
    retrain and compaction are the same rewrite, so the index pays the
    corpus pass once per cadence, not twice. Run while the stream is
    stopped at a ledgered epoch, or let the maintainer's
    ``retrain_every`` invoke it at the commit point."""
    posts = committed_postings(spark, index_dir)
    cent = current_centroids(spark, index_dir)
    if cent is None:
        raise ConfigError(f"no centroids at {index_dir} — index never bootstrapped")
    committed = epochlog.ledgered_epochs(spark, _ledger_path(index_dir))
    if not committed:
        return  # nothing committed; nothing safe to fold
    mx = max(committed)
    refined, reassigned = retrain_postings(
        posts, cent, dim=dim, iterations=iterations,
        id_col=id_col, vec_col=vec_col,
    )
    # pin the refined set: it drives the reassignment AND gets persisted
    refined = refined.localCheckpoint(eager=True)
    snap = reassigned.localCheckpoint(eager=True)  # reads the old layout
    # every old epoch partition goes, whatever the session's overwrite mode
    epochlog.overwrite_snapshot(
        snap.withColumn(EPOCH_COL, F.lit(mx)), _postings_path(index_dir), "cell"
    )
    epochlog.overwrite_epoch(refined, _centroids_path(index_dir), mx)


def ann_index_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    index_dir: str,
    init_centroids: "DataFrame | pd.DataFrame",
    id_col: str = "vec_id",
    vec_col: str = "v",
    retrain_every: int | None = None,
    dim: int | None = None,
    retrain_iterations: int = 1,
) -> None:
    """One micro-batch through the maintainer (state layout and crash
    story in the module docstring). ``init_centroids`` seeds the index
    on the first-ever epoch; after that the persisted set is
    authoritative (seeds are ignored), so retrained centroids survive
    restarts. ``retrain_every=N`` refines + folds after every Nth
    epoch's commit point; it requires ``dim``."""
    if retrain_every is not None:
        if retrain_every < 1:
            raise ConfigError(f"retrain_every must be >= 1, got {retrain_every}")
        if dim is None:
            raise ConfigError("retrain_every requires dim")
    spark = batch_df.sparkSession
    ledger_path = _ledger_path(index_dir)
    rows = epochlog.ledger_totals(
        spark, ledger_path, LEDGER_SCHEMA, epoch_id, by="sink"
    )
    if any(r["sink"] == LEDGER_SINK and r[LEDGERED] for r in rows):
        return  # state-only sink: a committed epoch's redelivery is a no-op
    cent = current_centroids(spark, index_dir)
    if cent is None:
        if not isinstance(init_centroids, DataFrame):
            init_centroids = spark.createDataFrame(
                init_centroids, "cid long, cv array<double>"
            )
        epochlog.overwrite_epoch(
            init_centroids, _centroids_path(index_dir), epoch_id
        )
        cent = current_centroids(spark, index_dir)
    delta = assign_postings(
        batch_df.select(id_col, vec_col), cent, id_col, vec_col
    )
    epochlog.overwrite_epoch(delta, _postings_path(index_dir), epoch_id, "cell")
    # ledger LAST: an un-ledgered epoch re-runs end to end
    epochlog.append_ledger(
        spark, ledger_path, LEDGER_SCHEMA, [(epoch_id, LEDGER_SINK, 0)]
    )
    if retrain_every is not None and (epoch_id + 1) % retrain_every == 0:
        retrain_index(
            spark, index_dir, dim=dim, iterations=retrain_iterations,
            id_col=id_col, vec_col=vec_col,
        )
