"""Streaming exact dedup beyond the watermark horizon.

``streaming/dedup.py`` covers the two state-store tiers:
``dropDuplicates`` (exact, unbounded state) and
``dropDuplicatesWithinWatermark`` (bounded state, but duplicates
separated by more than the horizon pass). The gap between them is the
common production ask — *exact forever-dedup of a continuously
ingested corpus* — and the standard answer is the one this module
implements: a persisted Bloom filter (``operators/bloom.py``) in front
of a persisted key store, maintained per micro-batch via foreachBatch.

- The **Bloom filter** (filter-sized, broadcast to every probe) splits
  each batch map-side: definitely-new rows — the steady-state majority
  — never touch the key store at all.
- The **key store** (corpus-keys-sized parquet/Delta, append-only) is
  the exact authority: only the fp-bounded maybe-seen fraction joins
  it, so false positives never drop a genuinely new row. On a real
  lakehouse the store's layout (bucketing/Z-order on the key) prunes
  that join's scan too.

Why foreachBatch, not a stateful operator: like the LSH index in
``streaming/near_dup.py``, the key set is corpus-sized — it belongs in
storage, not the state store; the filter is the part small enough to
broadcast.

Crash-ordering contract (same at-least-once posture as
``streaming/near_dup.py``, but strictly better): writes run sink →
bloom → keys. The bloom must commit BEFORE the keys — a stale bloom
with fresh keys screens those keys definitely-new and duplicates pass
(a wrong answer); a fresh bloom with stale keys merely sends extra
rows to verification (cost, not correctness). The bloom overwrite is
pinned with ``localCheckpoint(eager=True)`` first: its merge plan
reads the very path being overwritten (the read-after-write hazard —
``streaming/near_dup.py``'s localCheckpoint note). And because the key
store is consulted exactly, a fully-committed batch that is then
redelivered deduplicates against itself and emits nothing — redelivery
is idempotent here, unlike fuzzy near-dup.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint
from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.bloom import (
    bloom_build,
    bloom_merge,
    bloom_screen,
)
from lakehouse_ingestion_spark.util import read_parquet_if_exists


def bloom_dedup_foreach_batch(
    state_paths: tuple[str, str],
    sink: Callable[[DataFrame, int], None],
    key_col: str,
    expected_items: int,
    fpp: float = 0.01,
    seed: int = 42,
    dup_sink: Callable[[DataFrame, int], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function.

    ``state_paths`` = (bloom_path, keys_path): parquet dirs, created on
    the first batch. ``expected_items`` sizes the filter for the
    CORPUS LIFETIME, not a batch — past it the fp fraction (and hence
    verification traffic) degrades gracefully; correctness never does.
    Within each batch:

    1. in-batch repeats of ``key_col`` collapse to one arbitrary
       representative (``dropDuplicates`` — they are not routed to
       ``dup_sink``); NULL-key rows are split out FIRST so they are
       never collapsed with each other (``dropDuplicates`` treats
       NULLs as equal, which would break the NULL-survival contract);
    2. the persisted bloom screens the batch; maybe-seen rows verify
       against the key store (empty maybe-set skips the store read
       entirely);
    3. true duplicates route to ``dup_sink`` or drop; NULL keys are
       unidentifiable and always survive (never stored);
    4. ``sink(survivors, epoch)``, then bloom overwrite, then keys
       append — see the module docstring for why this exact order.
    """
    if expected_items <= 0:
        raise ConfigError(f"expected_items must be > 0, got {expected_items}")
    bloom_path, keys_path = state_paths

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # only a missing path (first batch) bootstraps; any other read
        # failure must surface, not silently disable dedup
        stored = read_parquet_if_exists(spark, bloom_path)

        # NULL keys are unidentifiable: they bypass dedup entirely and
        # every NULL-key row survives verbatim.  They must be split out
        # BEFORE dropDuplicates, which uses null-safe equality and would
        # collapse all NULL-key rows in the batch to one.
        null_rows = batch_df.where(F.col(key_col).isNull())
        batch = batch_df.where(F.col(key_col).isNotNull()).dropDuplicates(
            [key_col]
        )
        if stored is not None:
            screened = bloom_screen(batch, stored, key_col, out_col="__maybe")
            maybe = screened.where(F.col("__maybe")).drop("__maybe")
            if maybe.isEmpty():
                dup_keys = None
            else:
                dup_keys = (
                    maybe.select(key_col)
                    .join(spark.read.parquet(keys_path), key_col, "semi")
                    # batch-bounded; pinned so post-append state can
                    # never leak into a lazy re-evaluation
                    .localCheckpoint(eager=True)
                )
        else:
            dup_keys = None

        if dup_keys is not None:
            survivors = batch.join(dup_keys, key_col, "anti")
            dup_rows = batch.join(dup_keys, key_col, "semi")
        else:
            survivors = batch
            dup_rows = None
        survivors = survivors.unionByName(null_rows)
        survivors.persist()
        try:
            if dup_sink is not None and dup_rows is not None:
                dup_sink(dup_rows, epoch_id)
            sink(survivors, epoch_id)

            new_keys = survivors.select(key_col).where(
                F.col(key_col).isNotNull()
            )
            delta = bloom_build(
                new_keys, key_col, expected_items, fpp=fpp, seed=seed
            )
            merged = delta if stored is None else bloom_merge(stored, delta)
            # pin BEFORE overwriting the path the merge plan reads from
            merged = merged.localCheckpoint(eager=True)
            merged.write.mode("overwrite").parquet(bloom_path)
            new_keys.write.mode("append").parquet(keys_path)
        finally:
            survivors.unpersist()
        # state is durably on disk: free this batch's pinned frames now
        # rather than at ContextCleaner GC leisure (checkpoint.py) —
        # merged, the verified-dup key set, and (via the screened
        # plan's LogicalRDD leaf) bloom_screen's pinned filter row
        rel = [merged]
        if dup_keys is not None:
            rel.append(dup_keys)
        if stored is not None:
            rel.append(screened)
        release_local_checkpoint(*rel)

    return _fn
