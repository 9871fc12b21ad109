"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_null_value_in_matched_row_not_stitched(spark):
    """The matched right row's NULL field must come through as NULL, not
    be back-filled from an older right row."""
    from lakehouse_ingestion_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:03:00"))], "key int, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:01:00"), 100.0),
            (1, _ts("2024-01-01 10:02:00"), None),  # the true match
        ],
        "key int, ts timestamp, price double",
    )
    row = asof_join(
        left, right, by=["key"], left_on="ts", right_on="ts",
        value_columns=["price"],
    ).collect()[0]
    assert row["_asof_matched_time"] == _ts("2024-01-01 10:02:00")
    assert row["price"] is None  # NOT 100.0 from the older row


def test_asof_tolerance_checks_matched_row(spark):
    from lakehouse_ingestion_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:10:00"))], "key int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 5.0)], "key int, ts timestamp, v double"
    )
    row = asof_join(
        left, right, by=["key"], left_on="ts", right_on="ts",
        value_columns=["v"], tolerance_seconds=60.0,
    ).collect()[0]
    assert row["v"] is None and row["_asof_matched_time"] is None


def test_dedup_keep_last(spark):
    from lakehouse_ingestion_spark.operators.dedup import dedup_latest_by_key

    df = spark.createDataFrame(
        [(1, 10, "old"), (1, 30, "new")], "key int, ts int, tag string"
    )
    last = dedup_latest_by_key(df, ["key"], ["ts"], keep="last").collect()[0]
    assert last["tag"] == "new"
    first = dedup_latest_by_key(df, ["key"], ["ts"], keep="first").collect()[0]
    assert first["tag"] == "old"
    with pytest.raises(ValueError, match="plain-string"):
        dedup_latest_by_key(df, ["key"], [F.col("ts").desc()], keep="last")


def test_upsert_null_delete_condition_upserts(spark):
    from lakehouse_ingestion_spark.operators.merge import upsert

    target = spark.createDataFrame([(1, "t1"), (2, "t2")], "id int, v string")
    source = spark.createDataFrame(
        [(1, "s1", "d"), (2, "s2", None), (3, "s3", "u")],
        "id int, v string, op string",
    )
    out = {
        r["id"]: r["v"]
        for r in upsert(
            target, source.select("id", "v"), ["id"],
            delete_condition=None,
        ).collect()
    }
    assert out == {1: "s1", 2: "s2", 3: "s3"}
    # NULL op row must UPSERT (not vanish)
    merged = upsert(
        target,
        source,
        ["id"],
        delete_condition=F.col("op") == "d",
    )
    got = {r["id"]: r["v"] for r in merged.select("id", "v").collect()}
    assert got == {2: "s2", 3: "s3"}  # 1 deleted, 2 upserted (NULL op), 3 inserted


def test_scd2_merge_applies_later_versions_after_noop_replay(spark):
    from lakehouse_ingestion_spark.operators.scd import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A", _ts("2024-01-01 00:00:00"), None, True)],
        "id int, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, "A", _ts("2024-01-02 00:00:00")),  # no-op replay of current
            (1, "B", _ts("2024-01-03 00:00:00")),  # real change
        ],
        "id int, attr string, ts timestamp",
    )
    out = scd2_merge(dim, updates, ["id"], "ts", ["attr"]).orderBy("valid_from")
    rows = out.collect()
    assert [(r["attr"], r["is_current"]) for r in rows] == [("A", False), ("B", True)]
    # old row closed exactly at the change timestamp
    assert rows[0]["valid_to"] == _ts("2024-01-03 00:00:00")


def test_scd2_merge_pure_noop_batch_keeps_current(spark):
    from lakehouse_ingestion_spark.operators.scd import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A", _ts("2024-01-01 00:00:00"), None, True)],
        "id int, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "A", _ts("2024-01-02 00:00:00"))], "id int, attr string, ts timestamp"
    )
    rows = scd2_merge(dim, updates, ["id"], "ts", ["attr"]).collect()
    assert len(rows) == 1 and rows[0]["is_current"]


def test_enrich_pair_join_drops_dim_key_copy(spark):
    from lakehouse_ingestion_spark.operators.enrich import Enrichment, enrich

    fact = spark.createDataFrame([(1, 10.0)], "cust_id int, amount double")
    dim = spark.createDataFrame([(1, "gold")], "cust_id int, tier string")
    out = enrich(fact, Enrichment(dim, on=[("cust_id", "cust_id")], prefix="c_"))
    assert out.columns.count("cust_id") == 1
    assert out.collect()[0]["c_tier"] == "gold"


def test_salted_join_rejects_outer(spark):
    from lakehouse_ingestion_spark.operators.skew import salted_broadcast_left

    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="inner"):
        salted_broadcast_left(df, df, ["k"], how="full")


def test_compaction_rejects_remote_paths(spark):
    from lakehouse_ingestion_spark.errors import UnsupportedFeatureError
    from lakehouse_ingestion_spark.operators.maintenance import plan_compaction

    with pytest.raises(UnsupportedFeatureError, match="local filesystem"):
        plan_compaction(spark, "s3a://bucket/table")


def test_dq_same_name_checks_do_not_clobber(spark):
    from lakehouse_ingestion_spark.dq.checks import RangeCheck
    from lakehouse_ingestion_spark.dq.model import DQStatus
    from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet

    df = spark.createDataFrame([(1,), (2,)], "id int")
    rs = DQRuleSet(
        [RangeCheck(column="id", min_value=100.0), RangeCheck(column="id", max_value=1000.0)]
    )
    summary = rs.apply(df)
    # min-bound check must FAIL (both rows < 100); the max-bound passes
    assert summary.status is DQStatus.FAIL
    assert sorted(r.status.name for r in summary.results) == ["FAIL", "PASS"]
    failed = [r for r in summary.results if r.status is DQStatus.FAIL][0]
    assert failed.metrics["violations"] == 2


def test_quarantine_with_missing_column_check(spark):
    from lakehouse_ingestion_spark.dq.checks import NotNullCheck
    from lakehouse_ingestion_spark.dq.model import DQStatus
    from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet, OnFailPolicy

    df = spark.createDataFrame([(1, None), (2, 5.0)], "id int, v double")
    rs = DQRuleSet([NotNullCheck(column="nope"), NotNullCheck(column="v")])
    routed = []
    good, summary = rs.enforce(
        df, OnFailPolicy.QUARANTINE, quarantine_writer=lambda b: routed.extend(b.collect())
    )
    assert summary.status is DQStatus.FAIL  # missing column reported
    assert good.count() == 1               # v-null row routed, no crash
    assert len(routed) == 1 and routed[0].id == 1


def test_unique_key_ignores_null_keys(spark):
    from lakehouse_ingestion_spark.dq.checks import UniqueKeyCheck
    from lakehouse_ingestion_spark.dq.model import DQStatus

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, None), (5, None)], "id int, k string"
    )
    res = UniqueKeyCheck(key_columns=["k"]).run(df)
    assert res.status is DQStatus.PASS  # null keys are not duplicates
    res_approx = UniqueKeyCheck(key_columns=["k"], approx=True).run(df)
    assert res_approx.status is DQStatus.PASS


def test_ref_integrity_partial_null_composite_fk(spark):
    from lakehouse_ingestion_spark.dq.checks import ReferentialIntegrityCheck
    from lakehouse_ingestion_spark.dq.model import DQStatus

    child = spark.createDataFrame(
        [(1, "x"), (1, None), (None, "x")], "a int, b string"
    )
    parent = spark.createDataFrame([(1, "x")], "a int, b string")
    res = ReferentialIntegrityCheck(
        fk_columns=["a", "b"], parent_df=parent, parent_key_columns=["a", "b"]
    ).run(child)
    # partially-null FKs are out of scope (MATCH SIMPLE); the one full FK resolves
    assert res.status is DQStatus.PASS
    assert res.metrics["total_rows"] == 1


def test_config_jobs_null_raises_config_error():
    from lakehouse_ingestion_spark.config import parse_config
    from lakehouse_ingestion_spark.errors import ConfigError

    with pytest.raises(ConfigError, match="list"):
        parse_config({"jobs": None})


def test_shingles_empty_text_has_no_shingles(spark):
    from lakehouse_ingestion_spark.functions.similarity import shingles

    df = spark.createDataFrame([("",), ("   ",), ("one",)], "t string")
    got = [r[0] for r in df.select(shingles("t", 1, "word")).collect()]
    assert got == [[], [], ["one"]]


def test_enrich_transform_op(spark, tmp_path):
    from lakehouse_ingestion_spark.pipeline import apply_transform

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame([(1, "gold")], "cust_id int, tier string").write.parquet(dim_path)
    fact = spark.createDataFrame([(1, 10.0), (2, 5.0)], "cust_id int, amount double")
    out = apply_transform(
        fact, "enrich", {"dim_path": dim_path, "on": ["cust_id"], "how": "left"}
    )
    got = {r["cust_id"]: r["tier"] for r in out.collect()}
    assert got == {1: "gold", 2: None}


def test_pushed_filters_nested_brackets():
    from lakehouse_ingestion_spark.plans.audit import _extract_bracketed

    plan = "Scan parquet [id] PushedFilters: [In(id, [1,2,3]), IsNotNull(id)], ReadSchema: x"
    got = _extract_bracketed(plan, "PushedFilters: ")
    assert got == ["[In(id, [1,2,3]), IsNotNull(id)]"]


# ------------------------------------------------- round-5 review fixes ----
def test_cc_keeps_self_loop_only_nodes(spark):
    from lakehouse_ingestion_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(5, 5), (1, 2)], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            edges, src="doc_a", dst="doc_b"
        ).collect()
    }
    assert got == {5: 5, 1: 1, 2: 1}


def test_resample_pre_epoch_floor(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.operators.resample import resample_ffill

    df = spark.createDataFrame(
        [("a", dt.datetime(1969, 12, 31, 23, 30), 1.0),
         ("a", dt.datetime(1970, 1, 1, 0, 30), 2.0)],
        "k string, ts timestamp, v double",
    )
    rows = sorted(
        (r["grid_ts"], r["v"])
        for r in resample_ffill(df, ["k"], "ts", "v", 3600).collect()
    )
    # the pre-epoch observation lands in the 23:00 cell (floor), NOT 00:00
    assert rows[0][0] == dt.datetime(1969, 12, 31, 23, 0)
    assert rows[0][1] == 1.0
    assert rows[1][0] == dt.datetime(1970, 1, 1, 0, 0)


def test_semantic_dedup_rejects_non_integral_ids(spark):
    import pytest as _pytest

    from lakehouse_ingestion_spark.operators.semdedup import semantic_dedup

    df = spark.createDataFrame(
        [("a", [1.0, 0.0])], "doc_id string, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="integral id"):
        semantic_dedup(df, id_col="doc_id")


def test_zorder_rejects_bit_overflow(spark):
    import pytest as _pytest

    from lakehouse_ingestion_spark.operators.maintenance import zorder_column

    df = spark.createDataFrame([(1, 2, 3, 4)], "a int, b int, c int, d int")
    with _pytest.raises(ValueError, match="63 value bits"):
        zorder_column(df, ["a", "b", "c", "d"], bits=16)
    # 4 cols at 15 bits fits (max position 59)
    zorder_column(df, ["a", "b", "c", "d"], bits=15)


def test_fixed_offset_probe_catches_short_dst_and_empty():
    from lakehouse_ingestion_spark.functions.timeutil import (
        _is_fixed_offset_zone,
    )

    assert not _is_fixed_offset_zone("")  # regex must not match ""
    assert _is_fixed_offset_zone("UTC")
    assert _is_fixed_offset_zone("+05:30")
    assert not _is_fixed_offset_zone("Africa/Casablanca")
    assert not _is_fixed_offset_zone("Europe/Berlin")
    assert _is_fixed_offset_zone("Etc/GMT+5")


def test_minhash_index_excludes_shingle_less_docs(spark):
    from lakehouse_ingestion_spark.operators.incremental_dedup import (
        incremental_near_dup,
        minhash_index,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, ""), (4, "x y z w q r s t")],
        "doc_id long, text string",
    )
    idx = minhash_index(df, num_hashes=8, num_bands=4)
    banded = {r["doc_id"] for r in idx.bands.select("doc_id").distinct().collect()}
    assert banded == {4}  # short docs carry the sentinel signature: excluded
    pairs, _ = incremental_near_dup(df, None, 0.3, num_hashes=8, num_bands=4)
    assert pairs.count() == 0  # and never pair quadratically
