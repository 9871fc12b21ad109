"""Count-min sketch (operators/cms.py): one-sided error, exact-merge
algebra, weighted builds, and the input-contract guards.

The merge test is the load-bearing one: because the sparse counter
rows are exact sums, ``cms_merge(build(A), build(B))`` must equal
``build(A u B)`` BIT-EXACTLY (not just within error bounds) — that is
what makes daily-sketch -> monthly-sketch rollups lossless.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.cms import (
    cms_build,
    cms_estimate,
    cms_merge,
)

DEPTH, WIDTH = 4, 256


def _items(spark, values):
    return spark.createDataFrame([(v,) for v in values], "item string")


def _counter_map(counters):
    return {
        (r["seed"], r["bucket"]): r["cnt"] for r in counters.collect()
    }


def test_estimate_never_underestimates(spark):
    # heavy skew + many singletons in a narrow sketch: collisions certain
    values = ["hot"] * 50 + ["warm"] * 10 + [f"cold{i}" for i in range(300)]
    df = _items(spark, values)
    counters = cms_build(df, "item", depth=DEPTH, width=WIDTH)
    exact = df.groupBy("item").agg(F.count("*").alias("exact"))
    est = cms_estimate(counters, exact, "item", depth=DEPTH, width=WIDTH)
    rows = est.collect()
    assert len(rows) == 302
    for r in rows:
        assert r["cms_est"] >= r["exact"], r


def test_wide_sketch_is_exact_on_heavy_items(spark):
    """With width >> cardinality the min-row estimate equals the true
    count for every probe (any colliding row is dominated by a clean
    one only if at least one of the depth rows is collision-free —
    assert it holds on this fixture rather than assuming)."""
    values = ["a"] * 7 + ["b"] * 3 + ["c"] * 1
    df = _items(spark, values)
    counters = cms_build(df, "item", depth=4, width=4096)
    exact = df.groupBy("item").agg(F.count("*").alias("exact"))
    est = cms_estimate(counters, exact, "item", depth=4, width=4096)
    for r in est.collect():
        assert r["cms_est"] == r["exact"], r


def test_merge_equals_single_build(spark):
    a = _items(spark, ["x"] * 5 + ["y"] * 2 + ["z"])
    b = _items(spark, ["x"] * 3 + ["w"] * 4)
    whole = _items(spark, ["x"] * 8 + ["y"] * 2 + ["z"] + ["w"] * 4)
    merged = cms_merge(
        cms_build(a, "item", depth=DEPTH, width=WIDTH),
        cms_build(b, "item", depth=DEPTH, width=WIDTH),
    )
    direct = cms_build(whole, "item", depth=DEPTH, width=WIDTH)
    assert _counter_map(merged) == _counter_map(direct)


def test_merge_is_associative(spark):
    frames = [
        cms_build(_items(spark, vs), "item", depth=2, width=64)
        for vs in (["p"] * 3, ["q", "p"], ["r"] * 5 + ["q"])
    ]
    left = cms_merge(cms_merge(frames[0], frames[1]), frames[2])
    right = cms_merge(frames[0], cms_merge(frames[1], frames[2]))
    assert _counter_map(left) == _counter_map(right)


def test_weighted_build(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 2)], "item string, w long"
    )
    counters = cms_build(df, "item", depth=3, width=128, weight_col="w")
    probes = spark.createDataFrame([("a",), ("b",)], "item string")
    est = {
        r["item"]: r["cms_est"]
        for r in cms_estimate(
            counters, probes, "item", depth=3, width=128
        ).collect()
    }
    assert est["a"] >= 15 and est["b"] >= 2


def test_grouped_sketches_are_independent(spark):
    df = spark.createDataFrame(
        [("en", "tok"), ("en", "tok"), ("de", "tok")], "lang string, item string"
    )
    counters = cms_build(df, "item", group_cols=["lang"], depth=2, width=64)
    probes = spark.createDataFrame(
        [("en", "tok"), ("de", "tok")], "lang string, item string"
    )
    est = {
        r["lang"]: r["cms_est"]
        for r in cms_estimate(
            counters, probes, "item", depth=2, width=64, group_cols=["lang"]
        ).collect()
    }
    assert est == {"en": 2, "de": 1}


def test_absent_probe_estimates_zero_or_collision(spark):
    df = _items(spark, ["only"])
    counters = cms_build(df, "item", depth=4, width=4096)
    probes = spark.createDataFrame([("missing",)], "item string")
    (row,) = cms_estimate(counters, probes, "item", depth=4, width=4096).collect()
    assert row["cms_est"] == 0  # 4 independent collisions at w=4096: no


def test_shape_guards(spark):
    df = _items(spark, ["a"])
    with pytest.raises(ConfigError):
        cms_build(df, "item", depth=0, width=64)
    with pytest.raises(ConfigError):
        cms_build(df, "item", depth=2, width=1)
    with pytest.raises(ConfigError):
        cms_merge()


def test_merge_cms_state_contract(spark):
    """None state bootstraps; folding day-2 into day-1 state equals the
    two-day single build — the incremental-maintenance contract."""
    from lakehouse_ingestion_spark.operators.cms import merge_cms_state

    day1 = _items(spark, ["x"] * 4 + ["y"])
    day2 = _items(spark, ["x"] + ["z"] * 2)
    both = _items(spark, ["x"] * 5 + ["y"] + ["z"] * 2)
    state = merge_cms_state(None, cms_build(day1, "item", depth=2, width=64))
    state = merge_cms_state(state, cms_build(day2, "item", depth=2, width=64))
    direct = cms_build(both, "item", depth=2, width=64)
    assert _counter_map(state) == _counter_map(direct)


# --------------------------------------------------------- streaming CMS


def test_streaming_cms_accumulates_and_replays(spark, tmp_path):
    """Three epochs through cms_epoch == the single-pass build; epoch
    redelivery is a no-op (ledger skip); a crash between delta and
    ledger (delta present, no ledger row) converges on retry."""
    from lakehouse_ingestion_spark.operators.cms import cms_build
    from lakehouse_ingestion_spark.streaming.cms import (
        cms_epoch,
        current_counters,
    )

    cp, lp = str(tmp_path / "cnt"), str(tmp_path / "led")
    batches = [
        _items(spark, ["x"] * 4 + ["y"]),
        _items(spark, ["x"] + ["z"] * 2),
        _items(spark, ["y"] * 3),
    ]
    for e, b in enumerate(batches):
        cms_epoch(b, e, counters_path=cp, ledger_path=lp, item_col="item",
                  depth=2, width=64)
    whole = _items(spark, ["x"] * 5 + ["y"] * 4 + ["z"] * 2)
    direct = cms_build(whole, "item", depth=2, width=64)
    assert _counter_map(current_counters(spark, cp)) == _counter_map(direct)

    # redelivery of a ledgered epoch: no change
    cms_epoch(batches[1], 1, counters_path=cp, ledger_path=lp,
              item_col="item", depth=2, width=64)
    assert _counter_map(current_counters(spark, cp)) == _counter_map(direct)

    # crash replay: write epoch 3's delta but scrub its ledger row by
    # replaying with a fresh ledger-less path is not possible here, so
    # simulate by running epoch 3 twice — the first run IS the retry
    cms_epoch(_items(spark, ["w"]), 3, counters_path=cp, ledger_path=lp,
              item_col="item", depth=2, width=64)
    cms_epoch(_items(spark, ["w"]), 3, counters_path=cp, ledger_path=lp,
              item_col="item", depth=2, width=64)
    whole2 = _items(spark, ["x"] * 5 + ["y"] * 4 + ["z"] * 2 + ["w"])
    assert _counter_map(current_counters(spark, cp)) == _counter_map(
        cms_build(whole2, "item", depth=2, width=64)
    )


def test_streaming_cms_compact_preserves_counters(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.cms import (
        cms_epoch,
        compact_counters,
        current_counters,
    )

    cp, lp = str(tmp_path / "cnt"), str(tmp_path / "led")
    for e, vals in enumerate((["a"] * 3, ["a", "b"], ["c"] * 5)):
        cms_epoch(_items(spark, vals), e, counters_path=cp, ledger_path=lp,
                  item_col="item", depth=2, width=64)
    before = _counter_map(current_counters(spark, cp))
    compact_counters(spark, cp, ledger_path=lp)
    after_df = current_counters(spark, cp)
    assert _counter_map(after_df) == before
    # exactly one snapshot partition remains
    import os

    parts = [d for d in os.listdir(cp) if d.startswith("_epoch=")]
    assert parts == ["_epoch=-1"]


def test_streaming_cms_grouped(spark, tmp_path):
    from lakehouse_ingestion_spark.operators.cms import cms_build
    from lakehouse_ingestion_spark.streaming.cms import (
        cms_epoch,
        current_counters,
    )

    cp, lp = str(tmp_path / "cnt"), str(tmp_path / "led")
    b1 = spark.createDataFrame(
        [("en", "tok"), ("de", "tok")], "lang string, item string"
    )
    b2 = spark.createDataFrame([("en", "tok")], "lang string, item string")
    for e, b in enumerate((b1, b2)):
        cms_epoch(b, e, counters_path=cp, ledger_path=lp, item_col="item",
                  group_cols=["lang"], depth=2, width=64)
    whole = spark.createDataFrame(
        [("en", "tok"), ("de", "tok"), ("en", "tok")], "lang string, item string"
    )
    direct = cms_build(whole, "item", group_cols=["lang"], depth=2, width=64)
    cur = current_counters(spark, cp, group_cols=["lang"])
    got = {
        (r["lang"], r["seed"], r["bucket"]): r["cnt"] for r in cur.collect()
    }
    want = {
        (r["lang"], r["seed"], r["bucket"]): r["cnt"] for r in direct.collect()
    }
    assert got == want
