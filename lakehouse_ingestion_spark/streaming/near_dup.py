"""Streaming near-duplicate filtering via index-maintaining foreachBatch.

Continuous-ingest fuzzy dedup: each micro-batch runs
``operators/incremental_dedup.incremental_near_dup`` against the
persisted MinHash index, drops (or routes) the batch's near-duplicates,
appends the SURVIVORS' index delta, and hands clean rows to the sink.

Why foreachBatch and not a stateful operator: the LSH index state is
corpus-sized (band postings + hash sets for every document ever kept) —
orders of magnitude beyond what belongs in a streaming state store,
and it must be queryable/compactable offline (Z-order by band key,
``maintenance.py``). Parquet/Delta-backed index + per-batch joins is
the honest 100 TB shape; the state store keeps nothing.

Exactly-once caveat (documented, not hidden): index append and sink
write are two writes — a crash between them can leave a batch's
survivors indexed but not sunk (re-delivery then drops them as dups of
themselves). Run the sink write FIRST (a re-delivered batch re-dedups
identically because its index delta was not yet appended) — the helper
orders writes that way; with a transactional sink (Delta) both writes
can share a txn version keyed by epoch_id.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint
from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.incremental_dedup import (
    MinHashIndexFrames,
    incremental_near_dup,
)
from lakehouse_ingestion_spark.util import read_parquet_if_exists


def near_dup_foreach_batch(
    index_paths: tuple[str, str],
    threshold: float,
    sink: Callable[[DataFrame, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    dup_sink: Callable[[DataFrame, int], None] | None = None,
    shingle_n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 8,
    seed: int = 42,
    posting_cap: int | None = None,
    on_cap_metric=None,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function.

    ``posting_cap`` / ``on_cap_metric`` pass through to
    ``incremental_near_dup``'s viral-band-key guardrail (drop
    over-shared LSH buckets from candidate generation; emit dropped
    counts) — under continuous ingest a boilerplate key only grows, so
    the cap matters MORE here than in one-shot batch runs.

    ``index_paths`` = (bands_path, hashes_path): parquet dirs holding
    the persisted index; created on the first batch. Within each batch:

    1. read the index (nonexistent -> bootstrap);
    2. ``incremental_near_dup`` -> verified pairs;
    3. batch rows whose id appears as ``doc_b`` are duplicates: routed
       to ``dup_sink`` (with their best-match partner + jaccard) or
       silently dropped;
    4. ``sink(survivors, epoch)`` — BEFORE the index append (see the
       exactly-once caveat in the module docstring);
    5. append the SURVIVORS' index delta (duplicates must not poison
       the index, or near-dups of dropped docs would dedup against
       ghosts).
    """
    if not 0.0 < threshold <= 1.0:
        raise ConfigError(f"threshold must be in (0, 1], got {threshold}")
    bands_path, hashes_path = index_paths

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # ONLY a missing path (first batch) bootstraps. Any other
        # analysis failure — unreadable dir, schema-inference failure on
        # a half-written store — must surface: a swallowed index-read
        # error silently disables dedup AND appends on top of the broken
        # store.
        bands = read_parquet_if_exists(spark, bands_path)
        hashes = None if bands is None else read_parquet_if_exists(
            spark, hashes_path
        )
        index: MinHashIndexFrames | None = (
            None if hashes is None
            else MinHashIndexFrames(bands=bands, hashes=hashes)
        )
        batch_df.persist()
        try:
            pairs, delta = incremental_near_dup(
                batch_df,
                index,
                threshold,
                text_col=text_col,
                id_col=id_col,
                shingle_n=shingle_n,
                num_hashes=num_hashes,
                num_bands=num_bands,
                seed=seed,
                posting_cap=posting_cap,
                on_cap_metric=on_cap_metric,
            )
            # best partner per duplicate (max jaccard, then MIN partner
            # id) — row_number, not max_by(struct(jaccard, -doc_a)):
            # unary minus breaks non-numeric ids (ANSI: runtime error;
            # non-ANSI: NULL -> nondeterministic tie-break)
            from pyspark.sql import Window as W

            best = (
                pairs.withColumn(
                    "__rk",
                    F.row_number().over(
                        W.partitionBy("doc_b").orderBy(
                            F.col("jaccard").desc(), F.col("doc_a").asc()
                        )
                    ),
                )
                .where(F.col("__rk") == 1)
                .select("doc_b", F.col("doc_a").alias("dup_of"), "jaccard")
            )
            # MATERIALIZE before any index append: best's plan reads the
            # index paths, and the bands append below would otherwise be
            # visible to the lazily-evaluated hashes append's anti-join
            # (a batch doc then pairs with its own just-appended bands
            # and drops itself from the index). localCheckpoint(eager)
            # truncates the lineage so no later use can re-read the
            # appended files — block loss fails the batch rather than
            # recomputing against post-append state (fail-safe, not
            # wrong-answer; cache eviction under persist() would
            # silently recompute). The dup set is batch-bounded.
            best = best.localCheckpoint(eager=True)
            dup_rows = batch_df.join(
                best, batch_df[id_col] == best["doc_b"]
            ).drop("doc_b")
            survivors = batch_df.join(
                best.select("doc_b"),
                batch_df[id_col] == F.col("doc_b"),
                "left_anti",
            )
            survivors.persist()
            try:
                if dup_sink is not None:
                    dup_sink(dup_rows, epoch_id)
                sink(survivors, epoch_id)
                # survivors' slice of the batch delta (anti-join on the
                # duplicate ids) — duplicates must not poison the index.
                # HASHES append FIRST: a crash between the two appends
                # with bands-first leaves orphaned postings whose
                # candidates silently vanish at the verification join
                # (no hash set) FOREVER; hashes-first merely leaves
                # hash rows without postings, and the redelivered batch
                # re-appends both (duplicate hash rows are harmless to
                # verification and compacted by maintenance).
                dup_ids = best.select("doc_b")
                delta.hashes.join(
                    dup_ids, delta.hashes[id_col] == F.col("doc_b"), "left_anti"
                ).write.mode("append").parquet(hashes_path)
                delta.bands.join(
                    dup_ids, delta.bands[id_col] == F.col("doc_b"), "left_anti"
                ).write.mode("append").parquet(bands_path)
            finally:
                survivors.unpersist()
            # all sinks + appends landed: free this batch's pinned dup
            # set immediately instead of waiting for ContextCleaner GC
            # (checkpoint.py) — across thousands of micro-batches the
            # dead blocks otherwise accumulate for the cleaner's 30-min
            # default GC interval
            release_local_checkpoint(best)
        finally:
            batch_df.unpersist()

    return _fn
