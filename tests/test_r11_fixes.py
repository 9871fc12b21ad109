"""Pinning tests for the round-11 fixes of the r10 ADVICE findings. (The
top_p_select fractional-score and token_budget_select integral-cost pins
live in test_selection.py.)"""

from __future__ import annotations

import pytest


# --------------------------------------------- r10 ADVICE low findings


def test_quantile_buckets_agg_null_partition_keys_get_buckets(spark):
    """NULL partition keys form their own edge group; the join back must
    be null-safe so those rows get REAL buckets (pre-fix: the equi-join
    never matched NULL keys and the computed edges were unreachable)."""
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets_agg

    rows = [(None, float(v)) for v in range(1, 9)] + [
        ("a", float(v)) for v in range(10, 18)
    ]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = quantile_buckets_agg(df, "v", 4, partition_by=["grp"])
    got = {(r["grp"], r["v"]): r["q_bucket"] for r in out.collect()}
    null_buckets = {b for (g, _), b in got.items() if g is None}
    assert None not in null_buckets and null_buckets == {1, 2, 3, 4}
    a_buckets = {b for (g, _), b in got.items() if g == "a"}
    assert a_buckets == {1, 2, 3, 4}
    # buckets are equal-frequency within EACH group independently
    assert got[(None, 1.0)] == 1 and got[(None, 8.0)] == 4
    assert got[("a", 10.0)] == 1 and got[("a", 17.0)] == 4


def test_bm25_search_string_ids(spark):
    """Doc and query id types follow the input schemas (pre-fix: long
    hardcoded — string query ids died in createDataFrame and the
    empty-query path declared a long doc id for string corpora)."""
    from lakehouse_ingestion_spark.operators.retrieval import bm25_search

    docs = spark.createDataFrame(
        [("d1", "spark shuffles data"), ("d2", "duckdb reads parquet"),
         ("d3", "spark reads parquet fast")],
        "doc_id string, text string",
    )
    qs = spark.createDataFrame(
        [("qa", "spark parquet"), ("qb", "zzz")], "query_id string, query string"
    )
    out = bm25_search(docs, qs, k=2)
    assert dict(out.dtypes) == {
        "query_id": "string", "doc_id": "string",
        "score": "double", "rk": "int",
    }
    got = {(r["query_id"], r["rk"]): r["doc_id"] for r in out.collect()}
    assert got[("qa", 1)] == "d3"  # matches both terms
    assert not [k for k in got if k[0] == "qb"]  # no matching docs
    # empty query set: schema still mirrors the inputs
    empty = bm25_search(docs, qs.filter("query_id = 'none'"), k=2)
    assert dict(empty.dtypes)["doc_id"] == "string"
    assert dict(empty.dtypes)["query_id"] == "string"
    assert empty.count() == 0


def _contam_fixture(spark):
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "eval_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "the quick brown fox sat still")], "doc_id long, text string"
    )
    return ev, b1, b2


def test_compact_report_forces_static_overwrite(spark, tmp_path):
    """A session-wide dynamic partitionOverwriteMode must not leak into
    compaction (pre-fix: only the _epoch=-1 partition was replaced,
    superseded deltas survived, current_report double-counted)."""
    from lakehouse_ingestion_spark.streaming.contamination import (
        compact_report,
        contamination_epoch,
        current_report,
    )

    ev, b1, b2 = _contam_fixture(spark)
    rp, lp = str(tmp_path / "report"), str(tmp_path / "ledger")
    contamination_epoch(b1, 0, eval_df=ev, report_path=rp, ledger_path=lp)
    contamination_epoch(b2, 1, eval_df=ev, report_path=rp, ledger_path=lp)
    before = sorted(tuple(r) for r in current_report(spark, rp).collect())
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        compact_report(spark, rp)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    after = sorted(tuple(r) for r in current_report(spark, rp).collect())
    assert before == after
    import glob
    import os

    parts = glob.glob(os.path.join(rp, "_epoch=*"))
    assert [os.path.basename(p) for p in parts] == ["_epoch=-1"]


def test_compact_report_skips_unledgered_pending_epoch(spark, tmp_path):
    """With ledger_path, compaction folds only LEDGERED epochs into the
    snapshot; an unledgered crash-pending delta is carried forward
    VERBATIM in its own partition (r12: carried, not dropped — dropping
    lost the epoch if its ledger append raced the overwrite), its retry
    rewrites the delta in place, and the fold counts it exactly once."""
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )
    from lakehouse_ingestion_spark.streaming.contamination import (
        compact_report,
        contamination_epoch,
        current_report,
    )

    ev, b1, b2 = _contam_fixture(spark)
    rp, lp = str(tmp_path / "report"), str(tmp_path / "ledger")
    # ledgered
    contamination_epoch(b1, 0, eval_df=ev, report_path=rp, ledger_path=lp)
    # crash window: epoch 1's delta landed, ledger row missing
    pend = contamination_report(b2, ev).withColumn(
        "_epoch", F.lit(1).cast("long")
    )
    (pend.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch").parquet(rp))
    compact_report(spark, rp, ledger_path=lp)
    # snapshot partition holds only epoch 0's fold; the pending epoch-1
    # delta survives verbatim in its own partition
    import glob
    import os

    parts = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(rp, "_epoch=*"))
    )
    assert parts == ["_epoch=-1", "_epoch=1"]
    # current_report stays monotone across compaction: both epochs
    # visible, each exactly once
    snap = {r["eval_id"]: r for r in current_report(spark, rp).collect()}
    assert snap[100]["n_dirty_docs"] == 2
    # retry of epoch 1 (still unledgered) rewrites its own partition in
    # place — the carried copy is replaced, never double-counted
    contamination_epoch(b2, 1, eval_df=ev, report_path=rp, ledger_path=lp)
    final = {r["eval_id"]: r for r in current_report(spark, rp).collect()}
    assert final[100]["n_dirty_docs"] == 2


def test_cosine_allpairs_rejects_non_integral_ids(spark):
    """Same-family sweep as the top_p fix: cosine_allpairs_blocked's
    id cast('long') would NULL string ids and silently drop every row
    from every block — raise instead (the semdedup contract)."""
    from lakehouse_ingestion_spark.operators.similarity_join import (
        cosine_allpairs_blocked,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])], "doc_id string, v array<double>"
    )
    from lakehouse_ingestion_spark.errors import ConfigError

    with pytest.raises(ConfigError, match="integral id"):
        cosine_allpairs_blocked(df, "doc_id", "v", 0.9)
