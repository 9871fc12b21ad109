"""Round-10 verdict + advice fixes, each pinned both directions.

Covers:
- quantile_buckets partitionless-ntile size gate (VERDICT r9 "What's
  wrong #2"): small frames bucket exactly; oversized partitionless
  frames raise ConfigError pointing at the sketch path; partition_by
  and an explicit ``max_global_rows=None`` bypass the gate.
- streaming budget ledger read errors (ADVICE r9 medium #2): only
  path-not-found means first-run; other read errors propagate.
- dedup_by_priority string-id tie-break (ADVICE r9 low #2).
- html extraction \\x0B cross-engine whitespace parity (ADVICE r9
  low #3).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.schema_registry import SchemaRegistry


@pytest.fixture()
def registry(tmp_path):
    return SchemaRegistry(tmp_path / "schemas")


# ---------------------------------------------------------------- stats gate


def _val_frame(spark, n):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 97).alias("v")
    )


def test_quantile_buckets_small_frame_buckets_exactly(spark):
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets

    out = quantile_buckets(
        _val_frame(spark, 100), "v", 4, tiebreak=["k"]
    )
    counts = {
        r["q_bucket"]: r["n"]
        for r in out.groupBy("q_bucket").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {1: 25, 2: 25, 3: 25, 4: 25}


def test_quantile_buckets_oversized_partitionless_raises(spark):
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets

    with pytest.raises(ConfigError, match="ONE task"):
        quantile_buckets(
            _val_frame(spark, 500), "v", 4, tiebreak=["k"], max_global_rows=100
        )


def test_quantile_buckets_partition_by_bypasses_gate(spark):
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets

    df = _val_frame(spark, 500).withColumn("g", F.col("k") % 5)
    out = quantile_buckets(
        df, "v", 4, partition_by=["g"], tiebreak=["k"], max_global_rows=100
    )
    assert out.count() == 500


def test_quantile_buckets_gate_opt_out(spark):
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets

    out = quantile_buckets(
        _val_frame(spark, 500), "v", 4, tiebreak=["k"], max_global_rows=None
    )
    assert out.count() == 500


# --------------------------------------------------------- budget ledger


def test_read_ledger_missing_path_is_first_run(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.epochlog import read_ledger

    assert read_ledger(spark, str(tmp_path / "nope")) is None


def test_read_ledger_other_errors_propagate(spark, tmp_path):
    """A ledger path that EXISTS but cannot be read is NOT first-run:
    returning None would silently reset the quota (ADVICE r9 medium #2)."""
    from pyspark.errors import AnalysisException

    from lakehouse_ingestion_spark.streaming.epochlog import read_ledger

    bad = tmp_path / "ledger"
    bad.mkdir()  # exists, but holds no parquet -> UNABLE_TO_INFER_SCHEMA
    with pytest.raises(AnalysisException):
        read_ledger(spark, str(bad))


# ------------------------------------------------------- priority dedup


def test_dedup_by_priority_string_ids(spark):
    from lakehouse_ingestion_spark.operators.dedup import dedup_by_priority

    df = spark.createDataFrame(
        [
            ("doc-b", "crawl", "same text"),
            ("doc-a", "crawl", "same text"),
            ("doc-z", "curated", "same text"),
            ("doc-q", "crawl", "other text"),
        ],
        "doc_id string, source string, text string",
    )
    out = dedup_by_priority(df, {"curated": 2, "crawl": 1}).collect()
    winners = {r["text"]: r for r in out}
    assert winners["same text"]["doc_id"] == "doc-z"  # priority wins
    assert winners["same text"]["n_copies"] == 3
    assert winners["other text"]["doc_id"] == "doc-q"


def test_dedup_by_priority_string_id_tiebreak_is_min(spark):
    from lakehouse_ingestion_spark.operators.dedup import dedup_by_priority

    df = spark.createDataFrame(
        [("b", "crawl", "t"), ("a", "crawl", "t"), ("c", "crawl", "t")],
        "doc_id string, source string, text string",
    )
    out = dedup_by_priority(df, {"crawl": 1}).collect()
    assert len(out) == 1 and out[0]["doc_id"] == "a"


# ------------------------------------------------------------ extraction


def test_vertical_tab_cross_engine_parity(spark):
    """\\x0B diverges between Java's \\s and RE2's \\s; the explicit
    classes in HTML_STRIP_STEPS must keep both engines hash-identical."""
    import sys

    import duckdb

    from lakehouse_ingestion_spark.functions.extraction import html_to_text

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from __spark_entry__ import _duck_html_chain, _duck_lit

    page = "\x0b<p>lead\x0bing</p>\x0b \x0b"
    spark_out = (
        spark.createDataFrame([(page,)], "h string")
        .select(html_to_text("h").alias("t"))
        .collect()[0]["t"]
    )
    duck_out = duckdb.connect().execute(
        f"SELECT {_duck_html_chain(_duck_lit(page))}"
    ).fetchone()[0]
    assert spark_out == duck_out == "lead ing"


# ------------------------------------------------- empty-write metrics


def test_observed_metrics_survive_aqe_empty_elimination(spark, tmp_path):
    """AQE's empty-relation propagation can eliminate CollectMetricsExec
    when the observed frame is provably empty and rides a shuffle-backed
    sink — the observation then completes with a schema-less Row.empty.
    ObservedMetrics.get must report {} (rows unknown/none), not crash."""
    from lakehouse_ingestion_spark.metrics import ObservedMetrics
    from lakehouse_ingestion_spark.operators.export import export_shards

    empty = spark.createDataFrame([], "doc_id long, text string").filter(
        "doc_id > 0"
    )
    obs = ObservedMetrics.attach(empty, "r10:empty", {"rows": F.count(F.lit(1))})
    export_shards(obs.df, str(tmp_path / "s"), "doc_id", 4)
    import time

    time.sleep(1)  # observation completes on the async listener bus
    assert obs.get() == {}


def test_pipeline_empty_write_reports_zero_rows(spark, registry, tmp_path):
    """A pipeline job whose transforms drop every row must complete with
    rows_written=0 through the shards sink, not die in metrics.get."""
    import json as _json

    from lakehouse_ingestion_spark.config import parse_config
    from lakehouse_ingestion_spark.pipeline import Pipeline

    src = tmp_path / "raw.jsonl"
    src.write_text(_json.dumps({"doc_id": 1, "text": "too short"}))
    cfg = parse_config(
        {
            "env": "test",
            "jobs": [
                {
                    "name": "drops-everything",
                    "source_system": "t",
                    "source": {
                        "type": "json",
                        "options": {"path": str(src), "format": "json"},
                    },
                    "transforms": [
                        {"op": "quality_filter", "min_tokens": 30,
                         "keep_only": True},
                    ],
                    "target": {
                        "format": "shards",
                        "options": {"path": str(tmp_path / "s"),
                                    "mode": "overwrite",
                                    "key_col": "doc_id", "n_shards": 2},
                    },
                }
            ],
        },
        registry,
    )
    results = Pipeline(spark, cfg, registry=registry).run()
    assert results[0].rows_written == 0


# ------------------------------------------------- quantile_buckets_agg


def test_quantile_buckets_agg_matches_ntile_on_tie_free_data(spark):
    """On tie-free values the aggregation path and ntile agree."""
    from lakehouse_ingestion_spark.operators.stats import (
        quantile_buckets,
        quantile_buckets_agg,
    )

    df = _val_frame(spark, 80)  # v = id*7 % 97 over 80 ids: tie-free
    a = {
        r["k"]: r["q_bucket"]
        for r in quantile_buckets(df, "v", 4, tiebreak=["k"]).collect()
    }
    b = {
        r["k"]: r["q_bucket"]
        for r in quantile_buckets_agg(df, "v", 4).collect()
    }
    assert a == b


def test_quantile_buckets_agg_no_window_in_plan(spark):
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets_agg
    from lakehouse_ingestion_spark.plans import audit

    df = _val_frame(spark, 1000).withColumn("g", F.col("k") % 3)
    a = audit(quantile_buckets_agg(df, "v", 4, partition_by=["g"]))
    plan = a.summary() if hasattr(a, "summary") else ""
    # the whole point: broadcast edge join, no Window/ntile stage
    assert a.broadcast_exchanges >= 1
    assert "Window" not in (plan or "")


def test_quantile_buckets_agg_ties_and_nulls(spark):
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets_agg

    df = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 9), (5, None)],
        "k long, v long",
    )
    out = {r["k"]: r["q_bucket"] for r in quantile_buckets_agg(df, "v", 2).collect()}
    # equal values never straddle buckets; NULL -> NULL bucket
    assert out[1] == out[2] == out[3]
    assert out[5] is None


def test_quantile_buckets_agg_single_bucket(spark):
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets_agg

    out = quantile_buckets_agg(_val_frame(spark, 10), "v", 1)
    assert {r["q_bucket"] for r in out.collect()} == {1}
