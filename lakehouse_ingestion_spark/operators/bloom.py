"""Bloom-filter membership pre-screen for incremental ingest.

At 100 TB the dominant cost of "have we seen this document before?" is
not the comparison — it is touching the history at all. The standard
production answer is a Bloom filter maintained at ingest time: a
bit-array sized by the EXPECTED item count (not the data), OR-mergeable
across batches/partitions/days, that splits an incoming batch map-side
into *definitely-new* rows (no false negatives — they skip the history
join entirely) and *maybe-seen* rows (a small, fp-bounded fraction)
that alone pay the exact verification join. The filter never changes
the answer; it only shrinks the expensive path.

PySpark 4 does not expose the JVM ``bloomFilter`` stat helper or the
internal ``bloom_filter_agg`` expression, so this module builds the
filter as DataFrame algebra — which buys properties the JVM object
lacks for free.

**One layout.** A filter is one row per shard: ``(shard, n_shards,
n_bits, num_hashes, seed, n_words, words: array<long>)``. The keyspace
hash-partitions across shards, so each shard is an ordinary Bloom
filter over its slice, sized for ``expected_items / n_shards`` keys at
the same fpp. A single filter is simply ``n_shards = 1``; a filter
outgrows one shard only past ``MAX_WORDS``. One-row filters written
before the shard columns existed read as shard 0 of 1.

- **build** (``bloom_build``): k positions per key via seeded
  ``xxhash64``, folded with ``bit_or`` into 64-bit words, densified
  into one ``array<long>`` bitmap per shard plus its config. Two
  shuffles, both bounded by n_shards × m/64 words (filter-sized, never
  data-sized); the result is an ordinary DataFrame — persist it as
  parquet, read it back next batch.
- **merge** (``bloom_merge``): join on shard, ``zip_with(.., x | y)``
  — the union filter, exactly (same positions OR'd). Per-day filters
  roll up to per-month ones losslessly, the same contract as the HLL
  sketches in ``operators/sketches.py``.
- **probe** (``bloom_screen``): the filter rows attach via broadcast
  (a scalar attach for one shard — the repo's idiom,
  ``operators/text_ranking.py`` — a broadcast join on the row's shard
  otherwise) and membership is the k recomputed positions —
  whole-stage-codegen JVM expressions, zero shuffle, zero Python.

Sizing follows the standard formulae m = -n·ln p/(ln 2)²,
k = (m/n)·ln 2 (Bloom 1970; Broder & Mitzenmacher's survey). NULL keys
screen as NULL (unknown): SQL equality can never match them, so the
end-to-end dedup treats them as new.

The reference has no membership surface at all (its dedup story is the
batch rescan at ``core/IngestionJob.scala:60``); this is the
incremental-ingest posture that replaces it, same spirit as
``operators/incremental_dedup.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^27 words = 1 GiB of bitmap per shard — past any sane broadcast. The
# cap is a loud guard, not a tuning knob: past it the keyspace splits
# into more shards, not a bigger array.
MAX_WORDS = 1 << 27


def _geometry(
    expected_items: int, fpp: float, num_shards: int | None = None
) -> tuple[int, int, int]:
    """(num_shards, n_bits per shard, num_hashes). Pure math — unit-
    testable past MAX_WORDS without materializing a bitmap.
    ``num_shards=None`` picks the fewest shards whose bitmap fits
    MAX_WORDS (1 for any broadcastable filter)."""
    if expected_items <= 0:
        raise ValueError(f"expected_items must be > 0, got {expected_items}")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    if num_shards is None:
        m_total = math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2))
        num_shards = max(1, math.ceil(m_total / 64 / MAX_WORDS))
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    per_shard = math.ceil(expected_items / num_shards)
    m = math.ceil(-per_shard * math.log(fpp) / (math.log(2) ** 2))
    # round up to a whole word so the dense array has no ragged tail
    m = ((m + 63) // 64) * 64
    if m // 64 > MAX_WORDS:
        raise ValueError(
            f"each of {num_shards} shard(s) would need {m // 64} words"
            f" (> {MAX_WORDS}); raise num_shards or leave it None"
        )
    k = max(1, round(m / per_shard * math.log(2)))
    return num_shards, m, k


def _positions(key: Column, n_bits: int, num_hashes: int, seed: int) -> Column:
    """array<long> of the k bit positions for a key — seeded xxhash64
    per probe index, reduced mod n_bits. The k hashes genuinely differ
    (the index is an argument), so per-element re-evaluation inside the
    HOF lambda is inherent work, not the CSE trap."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.pmod(F.xxhash64(key, F.lit(seed), i), F.lit(n_bits)),
    )


def _shard_of(key: Column, seed: int, num_shards: int) -> Column:
    """Shard assignment — probe index -1 keeps it independent of every
    position hash (``_positions`` uses indexes 0..k-1). One shard is
    the literal 0: no per-row hash."""
    if num_shards == 1:
        return F.lit(0).cast("long")
    return F.pmod(F.xxhash64(key, F.lit(seed), F.lit(-1)), F.lit(num_shards))


def _as_sharded(bloom: DataFrame) -> DataFrame:
    """The one layout: a one-row filter written before the shard
    columns existed reads as shard 0 of 1."""
    if "shard" in bloom.columns:
        return bloom
    return bloom.select(
        F.lit(0).cast("long").alias("shard"), F.lit(1).alias("n_shards"), "*"
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    expected_items: int,
    fpp: float = 0.01,
    seed: int = 42,
    num_shards: int | None = None,
) -> DataFrame:
    """Filter frame, one row per shard: (shard, n_shards, n_bits,
    num_hashes, seed, n_words, words: array<long>). NULL keys are
    skipped (they screen as NULL). ``num_shards=None`` is one shard
    unless the bitmap would pass MAX_WORDS (see ``_geometry``); an
    explicit count too small for MAX_WORDS raises. Per-shard fpp equals
    the configured fpp because each shard is sized for its slice.

    The sparse word aggregation keeps every shuffle bounded by the
    bitmap size: num_shards × n_words rows worst case regardless of
    input rows.
    """
    num_shards, m, k = _geometry(expected_items, fpp, num_shards)
    n_words = m // 64
    key = F.col(key_col)
    pos = df.where(key.isNotNull()).select(
        _shard_of(key, seed, num_shards).alias("__shard"),
        F.explode(_positions(key, m, k, seed)).alias("__pos"),
    )
    sparse = pos.groupBy(
        "__shard", F.shiftright("__pos", 6).alias("__w")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(1L, cast(__pos % 64 as int))")
        ).alias("__bits")
    )
    # densify via a range left-join + one sorted-struct fold per shard —
    # NOT a per-word map lookup: Spark MapType element_at is a LINEAR
    # scan of the entry array, so `transform(sequence(0, n_words), w ->
    # m[w])` is O(n_words x set_words) interpreted (measured 135 s for a
    # 75k-word filter over 23k set words; this shape is <1 s)
    grid = df.sparkSession.range(num_shards * n_words).select(
        (F.col("id") / n_words).cast("long").alias("__shard"),
        F.pmod(F.col("id"), F.lit(n_words)).alias("__w"),
    )
    return (
        grid.join(sparse, ["__shard", "__w"], "left")
        .select(
            "__shard", "__w", F.coalesce("__bits", F.lit(0)).alias("__bits")
        )
        .groupBy("__shard")
        .agg(
            F.array_sort(F.collect_list(F.struct("__w", "__bits"))).alias("__e")
        )
        .select(
            F.col("__shard").alias("shard"),
            F.lit(num_shards).alias("n_shards"),
            F.lit(m).alias("n_bits"),
            F.lit(k).alias("num_hashes"),
            F.lit(seed).alias("seed"),
            F.lit(n_words).alias("n_words"),
            F.expr("transform(__e, x -> x.__bits)").alias("words"),
        )
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """The filter of the UNION of the two build inputs — exact, not
    approximate: identical geometry hashes identical keys to identical
    shards and positions, so OR-ing each shard's bitmaps is set union.
    Mismatched geometry (n_shards/n_bits/num_hashes/seed) raises at
    action time (the frames stay lazy)."""
    bb = _as_sharded(b).select(
        F.col("shard"),
        F.col("n_shards").alias("__ns"),
        F.col("n_bits").alias("__nb"),
        F.col("num_hashes").alias("__nh"),
        F.col("seed").alias("__sd"),
        F.col("words").alias("__wb"),
    )
    same = (
        (F.col("n_shards") == F.col("__ns"))
        & (F.col("n_bits") == F.col("__nb"))
        & (F.col("num_hashes") == F.col("__nh"))
        & (F.col("seed") == F.col("__sd"))
    )
    return (
        _as_sharded(a)
        .join(F.broadcast(bb), "shard")
        .select(
            "shard",
            "n_shards",
            "n_bits",
            "num_hashes",
            "seed",
            "n_words",
            F.when(
                same, F.zip_with("words", "__wb", lambda x, y: x.bitwiseOR(y))
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "bloom_merge: filters have different geometry"
                        " (n_shards/n_bits/num_hashes/seed must match)"
                    )
                )
            )
            .alias("words"),
        )
    )


def bloom_screen(
    batch: DataFrame,
    bloom: DataFrame,
    key_col: str,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """batch + a ``maybe_seen`` boolean: False is definitive (no false
    negatives), True is probabilistic (fp-bounded by the build's fpp),
    NULL key screens NULL. Map-side only: the filter broadcasts, each
    row attaches its shard's bitmap (one shard: a scalar attach with no
    per-row shard hash; more: a broadcast join on the recomputed shard
    id), and the k probes are codegen'd expressions. A sharded filter
    whose union outgrows broadcast wants batch and filter store
    pre-partitioned by shard and screened shard-partition-wise.

    The k probes are UNROLLED into plain expressions rather than a
    ``forall`` over a ``transform``: a filter on the screen output
    (e.g. ``where(~maybe_seen)``) whose predicate is a higher-order
    function referencing both join sides gets mis-pushed by Catalyst
    into the broadcast side — the lambda's outer reference to the
    batch key is missing from the predicate's reference set, so
    pushdown binds ``key`` against the filter row's schema and the job
    dies with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. Plain expressions
    carry sound reference sets; codegen CSE dedups the repeated
    position hash within each conjunct.
    """
    # localCheckpoint pins the filter rows: (a) it severs lineage, so a
    # batch sharing a scan with the filter's build input can't trip
    # Spark's self-join attribute rewrite under the name-parsed probe
    # expression; (b) callers that branch on the screen (bloom_dedup's
    # definite/maybe split) share ONE materialized filter instead of
    # re-running the build per branch; (c) the geometry row is on hand
    # to unroll the probes. The filter is broadcast-sized by contract,
    # so eager materialization costs what any action would.
    blm = _as_sharded(bloom).select(
        F.col("shard").alias("__bf_shard"),
        F.col("n_shards").alias("__bf_ns"),
        F.col("n_bits").alias("__bf_m"),
        F.col("num_hashes").alias("__bf_k"),
        F.col("seed").alias("__bf_seed"),
        F.col("words").alias("__bf_words"),
    ).localCheckpoint(eager=True)
    ns, m, k, seed = blm.select("__bf_ns", "__bf_m", "__bf_k", "__bf_seed").first()
    key = f"`{key_col}`"
    # literal TYPES must match bloom_build's _positions exactly (int
    # seed, int probe index) — xxhash64 hashes by argument type
    terms = []
    for i in range(k):
        pos = f"pmod(xxhash64({key}, {seed}, {i}), {m}L)"
        terms.append(
            f"(element_at(__bf_words, cast(shiftright({pos}, 6) as int) + 1)"
            f" & shiftleft(1L, cast({pos} % 64 as int))) != 0L"
        )
    probe = F.expr("(" + ") AND (".join(terms) + ")")
    return (
        batch.withColumn("__bf_shard", _shard_of(F.col(key_col), seed, ns))
        .join(
            F.broadcast(blm.select("__bf_shard", "__bf_words")),
            "__bf_shard",
            "left",
        )
        .withColumn(
            out_col,
            F.when(F.col(key_col).isNull(), F.lit(None).cast("boolean"))
            .otherwise(probe),
        )
        .drop("__bf_shard", "__bf_words")
    )


def bloom_dedup(
    batch: DataFrame,
    history: DataFrame,
    bloom: DataFrame,
    key_col: str,
    out_col: str = "is_dup",
) -> DataFrame:
    """Exact duplicate flags for a batch against history, with the
    Bloom screen carrying the load: definitely-new rows (the vast
    majority under steady ingest) never touch the history join; only
    maybe-seen rows pay the exact semi-verification. The result is
    EXACT — identical to joining every row — because false positives
    are re-checked and false negatives don't exist.

    The two branches scan the batch twice (both map-side; at scale the
    scan is noise next to the join the screen avoids). NULL keys can't
    equal anything under SQL semantics: is_dup = false.
    """
    screened = bloom_screen(batch, bloom, key_col, out_col="__maybe")
    definite_new = screened.where(
        F.col("__maybe").isNull() | ~F.col("__maybe")
    ).withColumn(out_col, F.lit(False))
    hist_keys = history.select(F.col(key_col)).where(
        F.col(key_col).isNotNull()
    ).distinct()
    maybe = (
        screened.where(F.col("__maybe"))
        .join(
            hist_keys.withColumn("__seen", F.lit(True)),
            key_col,
            "left",
        )
        .withColumn(out_col, F.coalesce(F.col("__seen"), F.lit(False)))
        .drop("__seen")
    )
    return definite_new.unionByName(maybe).drop("__maybe")
