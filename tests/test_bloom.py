"""Bloom membership pre-screen (operators/bloom): the no-false-negative
contract, fp-rate sanity, exact end-to-end dedup, lossless merge, the
map-side plan shape and the one-row layout on disk — over one shard and
over several, since a single filter is the sharded filter over one
shard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.operators.bloom import (
    MAX_WORDS,
    _geometry,
    bloom_build,
    bloom_dedup,
    bloom_merge,
    bloom_screen,
)
from lakehouse_ingestion_spark.plans import audit

SHARDS = pytest.mark.parametrize("num_shards", [1, 4])


def _keys(spark, lo, hi, prefix="k"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"{prefix}-"), F.col("id")).alias("key")
    )


@SHARDS
def test_no_false_negatives(spark, num_shards):
    hist = _keys(spark, 0, 3000)
    blm = bloom_build(
        hist, "key", expected_items=3000, fpp=0.01, num_shards=num_shards
    )
    assert blm.count() == num_shards
    screened = bloom_screen(hist, blm, "key")
    assert screened.where(~F.col("maybe_seen")).count() == 0


def test_fp_rate_near_configured(spark):
    hist = _keys(spark, 0, 5000)
    blm = bloom_build(hist, "key", expected_items=5000, fpp=0.01)
    fresh = _keys(spark, 100_000, 105_000)  # disjoint by construction
    fp = bloom_screen(fresh, blm, "key").where(F.col("maybe_seen")).count()
    # 5000 draws at p=0.01 → ~50 expected; 3x headroom kills flake
    assert fp / 5000 < 0.03


@SHARDS
def test_dedup_exact_vs_plain_join(spark, num_shards):
    hist = _keys(spark, 0, 2000)
    batch = _keys(spark, 1500, 3000)  # 500 dups, 1000 new
    blm = bloom_build(
        hist, "key", expected_items=2000, fpp=0.05, num_shards=num_shards
    )
    got = bloom_dedup(batch, hist, blm, "key").select("key", "is_dup")
    want = batch.join(
        hist.withColumn("__t", F.lit(True)), "key", "left"
    ).select("key", F.coalesce("__t", F.lit(False)).alias("is_dup"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.where("is_dup").count() == 500


@SHARDS
def test_merge_equals_union_build(spark, num_shards):
    """Merging two builds gives, shard by shard, the build of the union
    of their keys: same rows, geometry and words."""
    a, b = _keys(spark, 0, 800), _keys(spark, 700, 1500)
    cfg = dict(expected_items=2000, fpp=0.01, num_shards=num_shards)
    merged = bloom_merge(
        bloom_build(a, "key", **cfg), bloom_build(b, "key", **cfg)
    )
    union = bloom_build(a.union(b), "key", **cfg)
    assert merged.columns == union.columns
    assert sorted(merged.collect()) == sorted(union.collect())


@SHARDS
def test_merge_geometry_mismatch_raises(spark, num_shards):
    keys = _keys(spark, 0, 100)
    a = bloom_build(keys, "key", 1000, 0.01, num_shards=num_shards)
    for b in (
        bloom_build(keys, "key", 50, 0.1, num_shards=num_shards),
        bloom_build(keys, "key", 1000, 0.01, seed=7, num_shards=num_shards),
    ):
        with pytest.raises(Exception, match="geometry"):
            bloom_merge(a, b).collect()


@SHARDS
def test_null_keys_screen_null_and_dedup_false(spark, num_shards):
    hist = _keys(spark, 0, 100)
    blm = bloom_build(hist, "key", 1000, 0.01, num_shards=num_shards)
    batch = spark.createDataFrame([("k-5",), (None,)], "key string")
    rows = {
        r.key: r.maybe_seen for r in bloom_screen(batch, blm, "key").collect()
    }
    assert rows["k-5"] is True
    assert rows[None] is None
    dd = {r.key: r.is_dup for r in bloom_dedup(batch, hist, blm, "key").collect()}
    assert dd["k-5"] is True
    assert dd[None] is False


def test_geometry_validation():
    with pytest.raises(ValueError, match="expected_items"):
        _geometry(0, 0.01)
    with pytest.raises(ValueError, match="fpp"):
        _geometry(100, 1.5)
    with pytest.raises(ValueError, match="num_shards"):
        _geometry(1000, 0.01, num_shards=0)
    # an explicit shard count too small for MAX_WORDS still raises
    with pytest.raises(ValueError, match="shard"):
        _geometry(MAX_WORDS * 64, 1e-9, num_shards=1)


def test_screen_plan_is_map_side(spark):
    """The probe adds NO shuffle to the batch: one scalar broadcast
    attach of the one-shard filter (no per-row shard hash, so no hash
    join), codegen'd position checks, no Python."""
    hist = _keys(spark, 0, 1000)
    blm = bloom_build(hist, "key", 1000, 0.01)
    screened = bloom_screen(_keys(spark, 0, 500), blm, "key")
    a = audit(screened)
    assert a.shuffle_exchanges == 0
    assert a.broadcast_exchanges == 1
    assert not a.python_in_plan
    assert a.joins == {"BroadcastNestedLoopJoin": 1}


def test_dedup_plan_joins_only_maybe_rows(spark, entrymod=None):
    """The exact verification join's stream side carries the bloom
    predicate — definitely-new rows never reach it."""
    import __spark_entry__ as em

    df = em.queries()["bloom_dedup"](spark, "/root/testdata/sf0.001")
    a = audit(df)
    assert a.joins.get("CartesianProduct", 0) == 0
    assert not a.python_in_plan
    # the maybe-branch filter appears in the optimized plan ahead of the
    # history join (the unrolled xxhash64 probes gate the join input)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan


def test_sharded_geometry_past_single_filter_cap():
    """Past MAX_WORDS the geometry splits the keyspace instead of
    refusing it, keeping every per-shard bitmap under the cap; a
    broadcastable filter stays one shard."""
    big_n = 20_000_000_000  # ~2e10 keys at 1% fpp: way past one shard
    with pytest.raises(ValueError, match="num_shards"):
        _geometry(big_n, 0.01, num_shards=1)
    ns, m, k = _geometry(big_n, 0.01)
    assert ns > 1
    assert m // 64 <= MAX_WORDS
    # per-shard geometry matches a one-shard filter over the slice
    assert _geometry(-(-big_n // ns), 0.01) == (1, m, k)
    assert _geometry(1000, 0.01)[0] == 1
    assert _geometry(1000, 0.01, num_shards=7)[0] == 7


def test_sharded_build_lazy_frame_past_cap(spark):
    """A past-cap build plans (schema + shard count) without
    materializing terabytes of bitmap."""
    df = _keys(spark, 0, 10)
    blm = bloom_build(df, "key", expected_items=20_000_000_000)
    assert {"shard", "n_shards", "words"} <= set(blm.columns)


def test_one_row_filter_on_disk_reads_as_one_shard(spark, tmp_path):
    """A filter stored in the one-row layout (no shard/n_shards) reads
    as shard 0 of 1: one epoch finds the duplicates exactly and
    rewrites the state as a fresh one-shard build over all keys."""
    from lakehouse_ingestion_spark.streaming.bloom_dedup import (
        bloom_dedup_epoch,
    )

    bloom_p, keys_p = str(tmp_path / "bloom"), str(tmp_path / "keys")
    out, dups = str(tmp_path / "out"), str(tmp_path / "dups")
    seen = _keys(spark, 0, 50)
    bloom_build(seen, "key", expected_items=1000).drop(
        "shard", "n_shards"
    ).write.parquet(bloom_p)
    seen.write.parquet(keys_p)
    bloom_dedup_epoch(
        _keys(spark, 40, 60),  # 10 seen, 10 new
        1,
        state_paths=(bloom_p, keys_p),
        sink=lambda df, _e: df.write.parquet(out),
        key_col="key",
        expected_items=1000,
        dup_sink=lambda df, _e: df.write.parquet(dups),
    )

    def keys(path):
        return {r.key for r in spark.read.parquet(path).collect()}

    assert keys(dups) == {f"k-{i}" for i in range(40, 50)}
    assert keys(out) == {f"k-{i}" for i in range(50, 60)}
    state = spark.read.parquet(bloom_p).collect()
    assert [r.n_shards for r in state] == [1]
    fresh = bloom_build(_keys(spark, 0, 60), "key", expected_items=1000)
    assert state == fresh.collect()


def test_sharded_bloom_properties_hypothesis(spark):
    """Property sweep over shard counts and geometries: (a) NO false
    negatives ever — every built key screens maybe_seen=True; (b) the
    sharded and one-shard dedup answers are identical; (c) shard
    assignment covers all rows (the left join never drops)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_keys=st.integers(50, 400),
        num_shards=st.integers(1, 13),
        fpp=st.sampled_from([0.01, 0.05, 0.2]),
        seed=st.integers(0, 3),
    )
    def prop(n_keys, num_shards, fpp, seed):
        hist = _keys(spark, 0, n_keys)
        cfg = dict(expected_items=n_keys, fpp=fpp, seed=seed)
        blm = bloom_build(hist, "key", num_shards=num_shards, **cfg)
        assert blm.count() == num_shards
        screened = bloom_screen(hist, blm, "key")
        assert screened.count() == n_keys          # no rows dropped
        assert screened.where(~F.col("maybe_seen")).count() == 0
        batch = _keys(spark, n_keys // 2, n_keys + n_keys // 2)
        one = bloom_build(hist, "key", num_shards=1, **cfg)
        flags = [
            sorted(bloom_dedup(batch, hist, b, "key").collect())
            for b in (one, blm)
        ]
        assert flags[0] == flags[1]

    prop()
