"""Round-10 additions: bm25_search (multi-query top-k retrieval),
contamination_report (per-eval-example audit), event_window_dedup
(time-window event dedup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError


# ------------------------------------------------------------ bm25_search


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "spark joins tables with spark sql"),
            (2, "duckdb runs sql on parquet tables"),
            (3, "spark spark spark streaming"),
            (4, "nothing relevant here at all"),
        ],
        "doc_id long, text string",
    )


def _queries(spark):
    return spark.createDataFrame(
        [(10, "spark sql"), (20, "parquet tables"), (30, "zebra")],
        "query_id long, query string",
    )


def test_bm25_search_topk_per_query(spark):
    from lakehouse_ingestion_spark.operators.retrieval import bm25_search

    out = bm25_search(_corpus(spark), _queries(spark), k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # every query returns <= k ranked rows; ranks are 1..n
    for q, rows in by_q.items():
        assert [r["rk"] for r in sorted(rows, key=lambda r: r["rk"])] == list(
            range(1, len(rows) + 1)
        )
        assert len(rows) <= 2
    # "spark sql": doc 1 hits both terms -> rank 1
    top10 = min(by_q[10], key=lambda r: r["rk"])
    assert top10["doc_id"] == 1
    # "parquet tables": doc 2 hits both -> rank 1
    top20 = min(by_q[20], key=lambda r: r["rk"])
    assert top20["doc_id"] == 2
    # "zebra" matches nothing -> absent
    assert 30 not in by_q


def test_bm25_search_matches_single_query_bm25(spark):
    """For one query, bm25_search must score identically to the
    single-query text_ranking.bm25 (same idf/norm algebra)."""
    from lakehouse_ingestion_spark.operators.retrieval import bm25_search
    from lakehouse_ingestion_spark.operators.text_ranking import bm25

    docs = _corpus(spark)
    single = {
        r["doc_id"]: r["score"]
        for r in bm25(docs, ["spark", "sql"]).collect()
    }
    q = spark.createDataFrame([(1, "spark sql")], "query_id long, query string")
    multi = {
        r["doc_id"]: r["score"]
        for r in bm25_search(docs, q, k=10).collect()
    }
    assert multi == pytest.approx(single)


def test_bm25_search_gates_and_empty(spark):
    from lakehouse_ingestion_spark.operators.retrieval import bm25_search

    with pytest.raises(ConfigError, match="k must"):
        bm25_search(_corpus(spark), _queries(spark), k=0)
    with pytest.raises(ConfigError, match="max_query_terms"):
        bm25_search(
            _corpus(spark), _queries(spark), k=2, max_query_terms=2
        )
    empty_q = spark.createDataFrame([], "query_id long, query string")
    assert bm25_search(_corpus(spark), empty_q).count() == 0


# ---------------------------------------------------- contamination_report


def test_contamination_report_per_eval_example(spark):
    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox sat still"),
            (3, "completely unrelated content lives here today"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps"),
            (200, "no overlap with anything whatsoever"),
        ],
        "eval_id long, text string",
    )
    out = {r["eval_id"]: r for r in contamination_report(train, ev).collect()}
    # eval 100: docs 1 and 2 share its 3-grams; doc 1 shares 3 of them
    # ("the quick brown", "quick brown fox", "brown fox jumps"), doc 2
    # shares 2 -> both dirty at threshold 2
    assert out[100]["n_dirty_docs"] == 2
    assert out[100]["n_hit_docs"] == 2
    assert out[100]["max_overlap"] == 3
    # clean eval example still reported, all zeros
    assert out[200]["n_dirty_docs"] == 0
    assert out[200]["n_hit_docs"] == 0
    assert out[200]["max_overlap"] == 0


def test_contamination_report_threshold(spark):
    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )

    train = spark.createDataFrame(
        [(1, "the quick brown fox sat still")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "eval_id long, text string"
    )
    strict = {
        r["eval_id"]: r
        for r in contamination_report(train, ev, threshold=3).collect()
    }
    # doc 1 shares exactly 2 shingles -> hit but not dirty at threshold 3
    assert strict[100]["n_hit_docs"] == 1
    assert strict[100]["n_dirty_docs"] == 0
    with pytest.raises(ValueError, match="threshold"):
        contamination_report(train, ev, threshold=0)


# ----------------------------------------------------- event_window_dedup


def test_event_window_dedup_drops_rapid_repeats(spark):
    from lakehouse_ingestion_spark.operators.dedup import event_window_dedup

    df = spark.createDataFrame(
        [
            (1, "click", 100.0, 1),
            (1, "click", 102.0, 2),   # 2s after prev -> dropped
            (1, "click", 109.0, 3),   # 7s after prev -> kept
            (1, "view", 101.0, 4),    # different key -> kept
            (2, "click", 100.5, 5),   # different user -> kept
        ],
        "user_id long, event_type string, ts double, event_id long",
    )
    out = event_window_dedup(
        df, ["user_id", "event_type"], "ts", 5, tiebreak=["event_id"]
    )
    assert {r["event_id"] for r in out.collect()} == {1, 3, 4, 5}


def test_event_window_dedup_burst_keeps_first_only(spark):
    from lakehouse_ingestion_spark.operators.dedup import event_window_dedup

    rows = [(1, "c", 100.0 + i, i) for i in range(5)]  # 1s apart burst
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts double, event_id long"
    )
    out = event_window_dedup(
        df, ["user_id", "event_type"], "ts", 5, tiebreak=["event_id"]
    )
    assert {r["event_id"] for r in out.collect()} == {0}
    with pytest.raises(ValueError, match="min_gap_seconds"):
        event_window_dedup(df, ["user_id"], "ts", 0)


# --------------------------------------------------------- pipeline ops


def test_pipeline_ops_for_r10_operators(spark, tmp_path):
    from lakehouse_ingestion_spark.pipeline import apply_transform

    docs = _corpus(spark)
    out = apply_transform(
        docs, "bm25_search", {"queries": {10: "spark sql"}, "k": 2}
    )
    assert {r["query_id"] for r in out.collect()} == {10}

    ev = spark.createDataFrame(
        [(100, "spark joins tables")], "eval_id long, text string"
    )
    ev.write.parquet(str(tmp_path / "ev"))
    rep = apply_transform(
        docs, "contamination_report", {"eval_path": str(tmp_path / "ev")}
    )
    assert rep.count() == 1

    events = spark.createDataFrame(
        [(1, "c", 100.0, 1), (1, "c", 101.0, 2)],
        "user_id long, event_type string, ts double, event_id long",
    )
    kept = apply_transform(
        events,
        "event_window_dedup",
        {"keys": ["user_id", "event_type"], "ts_col": "ts",
         "min_gap_seconds": 5, "tiebreak": ["event_id"]},
    )
    assert {r["event_id"] for r in kept.collect()} == {1}


def test_shipped_corpus_audit_config_runs(spark, tmp_path):
    """configs/corpus-audit.yaml: both audit jobs run end-to-end with
    repointed paths."""
    import yaml

    from lakehouse_ingestion_spark.config import parse_config
    from lakehouse_ingestion_spark.pipeline import Pipeline
    from lakehouse_ingestion_spark.schema_registry import SchemaRegistry

    with open("configs/corpus-audit.yaml") as f:
        raw = yaml.safe_load(f)
    docs = _corpus(spark)
    docs.write.parquet(str(tmp_path / "docs"))
    spark.createDataFrame(
        [(100, "spark joins tables")], "eval_id long, text string"
    ).write.parquet(str(tmp_path / "ev"))

    contam, probe = raw["jobs"]
    contam["source"]["options"]["path"] = str(tmp_path / "docs")
    contam["transforms"][0]["eval_path"] = str(tmp_path / "ev")
    contam["target"]["options"]["path"] = str(tmp_path / "a1")
    probe["source"]["options"]["path"] = str(tmp_path / "docs")
    probe["transforms"][0]["queries"] = {1: "spark sql"}
    probe["target"]["options"]["path"] = str(tmp_path / "a2")

    registry = SchemaRegistry(str(tmp_path / "reg"))
    cfg = parse_config(raw, registry)
    results = Pipeline(spark, cfg, registry=registry).run()
    assert [r.rows_written for r in results] == [1, 3]
    assert spark.read.parquet(str(tmp_path / "a1")).count() == 1
    got = spark.read.parquet(str(tmp_path / "a2"))
    assert {r["query_id"] for r in got.collect()} == {1}


# ------------------------------------------- streaming contamination


def _contam_fixture(spark):
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps"),
         (200, "no overlap with anything whatsoever")],
        "eval_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "the quick brown fox sat still")],
        "doc_id long, text string",
    )
    return ev, b1, b2


@pytest.mark.slow
def test_streaming_contamination_accumulates_and_replays(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.contamination import (
        contamination_epoch,
        current_report,
    )

    ev, b1, b2 = _contam_fixture(spark)
    rp, lp = str(tmp_path / "report"), str(tmp_path / "ledger")
    contamination_epoch(b1, 0, eval_df=ev, report_path=rp, ledger_path=lp)
    r0 = {r["eval_id"]: r for r in current_report(spark, rp).collect()}
    assert (r0[100]["n_dirty_docs"], r0[100]["max_overlap"]) == (1, 3)
    assert r0[200]["n_hit_docs"] == 0

    contamination_epoch(b2, 1, eval_df=ev, report_path=rp, ledger_path=lp)
    r1 = {r["eval_id"]: r for r in current_report(spark, rp).collect()}
    # doc 2 shares 2 shingles with eval 100 -> second dirty doc,
    # max_overlap stays at doc 1's 3
    assert (r1[100]["n_dirty_docs"], r1[100]["n_hit_docs"],
            r1[100]["max_overlap"]) == (2, 2, 3)

    # ledgered epoch redelivered: skipped, report unchanged
    contamination_epoch(b2, 1, eval_df=ev, report_path=rp, ledger_path=lp)
    r2 = {r["eval_id"]: r for r in current_report(spark, rp).collect()}
    assert (r2[100]["n_dirty_docs"], r2[100]["n_hit_docs"]) == (2, 2)

    # crash window: epoch 2's delta landed, ledger row missing -> replay
    # overwrites its own partition, no double count
    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )
    from pyspark.sql import functions as F

    b3 = spark.createDataFrame(
        [(3, "the quick brown fox jumps today")], "doc_id long, text string"
    )
    pre = contamination_report(b3, ev).withColumn("_epoch", F.lit(2).cast("long"))
    (pre.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch").parquet(rp))
    # no epoch-2 ledger row yet
    contamination_epoch(b3, 2, eval_df=ev, report_path=rp, ledger_path=lp)
    r3 = {r["eval_id"]: r for r in current_report(spark, rp).collect()}
    assert r3[100]["n_dirty_docs"] == 3  # exactly once despite the crash


@pytest.mark.slow
def test_streaming_contamination_compact_preserves_report(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.contamination import (
        compact_report,
        contamination_epoch,
        current_report,
    )

    ev, b1, b2 = _contam_fixture(spark)
    rp, lp = str(tmp_path / "report"), str(tmp_path / "ledger")
    contamination_epoch(b1, 0, eval_df=ev, report_path=rp, ledger_path=lp)
    contamination_epoch(b2, 1, eval_df=ev, report_path=rp, ledger_path=lp)
    before = sorted(
        tuple(r) for r in current_report(spark, rp).collect()
    )
    compact_report(spark, rp)
    after = sorted(tuple(r) for r in current_report(spark, rp).collect())
    assert before == after
    # folded to the single snapshot partition
    import glob
    import os

    parts = glob.glob(os.path.join(rp, "_epoch=*"))
    assert [os.path.basename(p) for p in parts] == ["_epoch=-1"]


def test_contamination_audit_sink_batch_mode(spark, tmp_path):
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer
    from lakehouse_ingestion_spark.streaming.contamination import (
        current_report,
    )

    ev, b1, _ = _contam_fixture(spark)
    ev.write.parquet(str(tmp_path / "ev"))
    w = get_writer("contamination_audit")
    opts = WriteOptions(
        path=str(tmp_path / "report"),
        options={"ledger_path": str(tmp_path / "ledger"),
                 "eval_path": str(tmp_path / "ev")},
    )
    w.write_batch(b1, opts)
    rep = {r["eval_id"]: r for r in
           current_report(spark, str(tmp_path / "report")).collect()}
    assert rep[100]["n_dirty_docs"] == 1

    from lakehouse_ingestion_spark.errors import ConfigError

    with pytest.raises(ConfigError, match="eval_path"):
        w.write_batch(b1, WriteOptions(path=str(tmp_path / "r2"),
                                       options={"ledger_path": "x"}))
