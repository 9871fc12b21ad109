"""Streaming IVF index maintainer (streaming/ann_index): cross-batch
maintenance must converge to the one-shot plan, redelivery must be a
no-op, crashed partials must stay invisible, per-trigger state I/O must
be batch-sized, and the retrain cadence must fold the epoch log."""

from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.ann import ivf_topk, kmeans_refine
from lakehouse_ingestion_spark.streaming.ann_index import (
    ann_index_epoch,
    committed_postings,
    current_centroids,
    retrain_index,
    search_index,
)

DIM = 6
K_CELLS = 3


def _emb(spark, n=90, seed=11):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, DIM)).round(3)
    return spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, v array<double>",
    )


def _parts(spark, n=90):
    emb = _emb(spark, n)
    cent = emb.where(F.col("vec_id") < K_CELLS).selectExpr(
        "vec_id as cid", "v as cv"
    )
    corpus = emb.where(F.col("vec_id") >= K_CELLS + 5)
    queries = emb.where(
        (F.col("vec_id") >= K_CELLS) & (F.col("vec_id") < K_CELLS + 5)
    )
    return corpus, queries, cent


def _rows(df):
    return sorted(
        (r["q_id"], r["neighbor_id"], round(r["cos_sim"], 6), r["rk"])
        for r in df.collect()
    )


@pytest.mark.slow
def test_cross_batch_maintenance_matches_one_shot(spark, tmp_path):
    corpus, queries, cent = _parts(spark)
    idx = str(tmp_path / "idx")
    fn = partial(ann_index_epoch, index_dir=idx, init_centroids=cent)
    for e in range(3):
        fn(corpus.where(F.col("vec_id") % 3 == e), e)

    assert committed_postings(spark, idx).count() == corpus.count()
    got = search_index(spark, idx, queries, k=3, nprobe=2)
    want = ivf_topk(corpus, queries, cent, k=3, nprobe=2)
    assert _rows(got) == _rows(want)

    # redelivery of a committed epoch is a no-op (no duplicate postings)
    fn(corpus.where(F.col("vec_id") % 3 == 1), 1)
    assert committed_postings(spark, idx).count() == corpus.count()
    assert _rows(search_index(spark, idx, queries, k=3, nprobe=2)) == _rows(want)


@pytest.mark.slow
def test_crashed_partial_epoch_stays_invisible_then_reruns(spark, tmp_path):
    corpus, queries, cent = _parts(spark)
    idx = str(tmp_path / "idx")
    fn = partial(ann_index_epoch, index_dir=idx, init_centroids=cent)
    fn(corpus.where(F.col("vec_id") % 3 == 0), 0)

    # simulate a crash: epoch 1's postings land but the ledger row never
    # does — committed reads must not see them
    from lakehouse_ingestion_spark.operators.incremental_ann import (
        assign_postings,
    )

    b1 = corpus.where(F.col("vec_id") % 3 == 1)
    (
        assign_postings(b1, cent)
        .withColumn("_epoch", F.lit(1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch", "cell")
        .parquet(f"{idx}/postings")
    )
    only_b0 = corpus.where(F.col("vec_id") % 3 == 0)
    assert committed_postings(spark, idx).count() == only_b0.count()

    # redelivery re-runs the whole epoch (un-ledgered) and commits it
    fn(b1, 1)
    assert (
        committed_postings(spark, idx).count()
        == only_b0.count() + b1.count()
    )


@pytest.mark.slow
def test_per_trigger_state_io_is_batch_sized(spark, tmp_path):
    corpus, _, cent = _parts(spark)
    idx = str(tmp_path / "idx")
    fn = partial(ann_index_epoch, index_dir=idx, init_centroids=cent)
    fn(corpus.where(F.col("vec_id") % 3 == 0), 0)
    before = {
        r[0]: r[1]
        for r in committed_postings(spark, idx)
        .groupBy("_epoch")
        .count()
        .collect()
    }
    b1 = corpus.where(F.col("vec_id") % 3 == 1)
    fn(b1, 1)
    after = {
        r[0]: r[1]
        for r in committed_postings(spark, idx)
        .groupBy("_epoch")
        .count()
        .collect()
    }
    # epoch 0's partitions are untouched; the new epoch wrote exactly
    # its batch — nothing corpus-sized moved
    assert after[0] == before[0]
    assert after[1] == b1.count()


@pytest.mark.slow
def test_retrain_cadence_folds_and_matches_batch_refine(spark, tmp_path):
    corpus, queries, cent = _parts(spark)
    idx = str(tmp_path / "idx")
    fn = partial(ann_index_epoch, index_dir=idx, init_centroids=cent,
                 retrain_every=3, dim=DIM)
    for e in range(3):  # retrain fires after epoch 2's commit
        fn(corpus.where(F.col("vec_id") % 3 == e), e)

    # folded: ONE epoch partition left, at the max committed epoch
    eps = [
        r[0]
        for r in committed_postings(spark, idx)
        .select("_epoch")
        .distinct()
        .collect()
    ]
    assert eps == [2]

    want_cent = kmeans_refine(corpus, cent, dim=DIM, iterations=1)
    got_cent = current_centroids(spark, idx)
    crows = lambda df: sorted(
        (r["cid"], tuple(round(x, 9) for x in r["cv"])) for r in df.collect()
    )
    assert crows(got_cent) == crows(want_cent)

    got = search_index(spark, idx, queries, k=3, nprobe=2)
    want = ivf_topk(corpus, queries, want_cent, k=3, nprobe=2)
    assert _rows(got) == _rows(want)

    # post-retrain appends assign against the REFINED set and survive a
    # restart (persisted centroids are authoritative, seeds ignored)
    fn2 = partial(ann_index_epoch, index_dir=idx,
                  init_centroids=cent.limit(1), retrain_every=None)
    extra = _emb(spark, n=100).where(F.col("vec_id") >= 90)
    fn2(extra, 3)
    got2 = search_index(spark, idx, queries, k=3, nprobe=2)
    full = corpus.unionByName(extra)
    want2 = ivf_topk(full, queries, want_cent, k=3, nprobe=2)
    assert _rows(got2) == _rows(want2)


def test_search_before_bootstrap_and_bad_config(spark, tmp_path):
    idx = str(tmp_path / "never")
    with pytest.raises(ConfigError):
        search_index(spark, idx, _emb(spark, 5))
    with pytest.raises(ConfigError):
        ann_index_epoch(_emb(spark, 5), 0, index_dir=idx, init_centroids=None,
                        retrain_every=0)
    with pytest.raises(ConfigError):
        ann_index_epoch(_emb(spark, 5), 0, index_dir=idx, init_centroids=None,
                        retrain_every=5)  # dim missing
    with pytest.raises(ConfigError):
        retrain_index(spark, idx, dim=DIM)
