import json
import os
import time

import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.operators.skew import (
    salted_aggregate,
    salted_broadcast_left,
)
from lakehouse_ingestion_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def ts_df(spark):
    rows = [
        ("a", "2024-01-01 00:00:10", 1.0),
        ("a", "2024-01-01 00:00:50", 2.0),
        ("a", "2024-01-01 00:01:10", 3.0),
        ("b", "2024-01-01 00:02:30", 4.0),
        ("b", "2024-01-01 00:09:00", 5.0),
    ]
    return spark.createDataFrame(rows, "k string, ts_s string, v double").select(
        "k", F.col("ts_s").cast("timestamp").alias("ts"), "v"
    )


def test_tumbling_window(ts_df):
    out = tumbling_window_agg(
        ts_df, "ts", "1 minute", ["k"], [F.sum("v").alias("total")]
    )
    got = {(r.k, str(r.window_start)): r.total for r in out.collect()}
    assert got[("a", "2024-01-01 00:00:00")] == 3.0
    assert got[("a", "2024-01-01 00:01:00")] == 3.0
    assert got[("b", "2024-01-01 00:02:00")] == 4.0


def test_sliding_window(ts_df):
    out = sliding_window_agg(
        ts_df, "ts", "2 minutes", "1 minute", ["k"], [F.count("v").alias("n")]
    )
    rows = {(r.k, str(r.window_start)): r.n for r in out.collect()}
    # the 00:00-00:02 window sees all three 'a' events
    assert rows[("a", "2024-01-01 00:00:00")] == 3
    # each event appears in 2 sliding windows
    assert sum(n for (k, _), n in rows.items() if k == "a") == 6


def test_session_window(ts_df):
    out = session_window_agg(
        ts_df, "ts", "90 seconds", ["k"], [F.count("v").alias("n")]
    )
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r.k, []).append(r.n)
    assert sorted(by_key["a"]) == [3]  # one session (gaps < 90s)
    assert sorted(by_key["b"]) == [1, 1]  # two sessions (6.5 min gap)


def test_salted_aggregate_matches_plain(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 0.5).alias("v")
    )
    plain = {
        r.k: (r.s, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"))
        .collect()
    }
    salted = {
        r.k: (r.s, r.n)
        for r in salted_aggregate(
            df, ["k"], [("sum", "v", "s"), ("count", "v", "n")], num_salts=8
        ).collect()
    }
    assert plain == salted


def test_salted_aggregate_rejects_avg(spark):
    df = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError):
        salted_aggregate(df, ["k"], [("avg", "v", "a")])


def test_salted_join_matches_plain(spark):
    left = spark.range(0, 2000).select((F.col("id") % 5).alias("k"), "id")
    right = spark.createDataFrame(
        [(0, "zero"), (1, "one"), (2, "two")], "k long, label string"
    )
    plain = left.join(right, "k").groupBy("label").count()
    salted = salted_broadcast_left(left, right, ["k"], num_salts=4).groupBy("label").count()
    assert {r.label: r["count"] for r in plain.collect()} == {
        r.label: r["count"] for r in salted.collect()
    }


def test_stateful_running_aggregate(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.stateful import running_aggregate

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [{"key": "a", "v": 1.0}, {"key": "a", "v": 2.0}, {"key": "b", "v": 5.0}]
        )
    )
    schema = "key string, v double"
    stream = (
        spark.readStream.schema(schema).format("json").load(str(indir))
    )
    out = running_aggregate(stream, "key", "v")
    sink_dir = str(tmp_path / "out")

    def run_once(epoch_tag):
        q = (
            out.writeStream.foreachBatch(
                lambda b, e: b.withColumn("tag", F.lit(epoch_tag))
                .write.mode("append")
                .parquet(sink_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once("r1")
    got = {
        r.key: (r.n_events, r.total_value)
        for r in spark.read.parquet(sink_dir).filter("tag = 'r1'").collect()
    }
    assert got == {"a": (2, 3.0), "b": (1, 5.0)}

    # second batch accumulates onto checkpointed state across a restart
    (indir / "b2.jsonl").write_text(json.dumps({"key": "a", "v": 10.0}))
    run_once("r2")
    got2 = {
        r.key: (r.n_events, r.total_value)
        for r in spark.read.parquet(sink_dir).filter("tag = 'r2'").collect()
    }
    assert got2["a"] == (3, 13.0)


def test_stateful_long_key_and_timeout_validation(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.stateful import running_aggregate

    indir = tmp_path / "in2"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(json.dumps(r) for r in [{"uid": 7, "v": 1.5}, {"uid": 7, "v": 2.5}])
    )
    stream = spark.readStream.schema("uid long, v double").format("json").load(str(indir))
    out = running_aggregate(stream, "uid", "v")
    assert dict(out.dtypes)["uid"] == "bigint"  # key keeps input name+type
    sink = str(tmp_path / "out2")
    q = (
        out.writeStream.foreachBatch(lambda b, e: b.write.mode("append").parquet(sink))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.read.parquet(sink).collect()[0]
    assert (row.uid, row.n_events, row.total_value, row.is_final) == (7, 2, 4.0, False)

    import pytest

    with pytest.raises(ValueError, match="timeout"):
        running_aggregate(stream, "uid", "v", timeout_ms=0)


def test_streaming_zscore_accumulates_and_flags(spark, tmp_path):
    """Batch 1 builds the distribution (no emissions below min_count);
    batch 2's outlier is scored against the checkpointed batch-1 stats;
    batch 3 proves the merge kept accumulating (a formerly-extreme value
    drifts toward normal as the distribution widens)."""
    from lakehouse_ingestion_spark.streaming.anomaly import streaming_zscore

    indir = tmp_path / "in"
    indir.mkdir()
    base = [{"key": "a", "v": float(v)} for v in (10, 11, 9, 10, 12, 8, 10, 11, 9, 10)]
    (indir / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in base))
    stream = (
        spark.readStream.schema("key string, v double").format("json").load(str(indir))
    )
    out = streaming_zscore(stream, "key", "v", z=3.0, min_count=10)
    sink = str(tmp_path / "out")

    def run_once(tag):
        q = (
            out.writeStream.foreachBatch(
                lambda b, e: b.withColumn("tag", F.lit(tag))
                .write.mode("append")
                .parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once("r1")
    # batch 1: events scored against empty state -> nothing emitted
    assert spark.read.parquet(sink).filter("tag = 'r1'").count() == 0

    (indir / "b2.jsonl").write_text(
        "\n".join(json.dumps(r) for r in [{"key": "a", "v": 10.0}, {"key": "a", "v": 50.0}])
    )
    run_once("r2")
    r2 = spark.read.parquet(sink).filter("tag = 'r2'").collect()
    assert [(r["key"], r["value"]) for r in r2] == [("a", 50.0)]
    assert r2[0]["zscore"] > 3.0

    # the 50 merged into state: same value again is much less extreme now
    (indir / "b3.jsonl").write_text(json.dumps({"key": "a", "v": 50.0}))
    run_once("r3")
    r3 = spark.read.parquet(sink).filter("tag = 'r3'").collect()
    z2 = r2[0]["zscore"]
    assert all(r["zscore"] < z2 for r in r3)


def test_streaming_zscore_validates(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.anomaly import streaming_zscore

    indir = tmp_path / "in2"
    indir.mkdir()
    (indir / "b.jsonl").write_text(json.dumps({"key": "a", "v": 1.0}))
    stream = (
        spark.readStream.schema("key string, v double").format("json").load(str(indir))
    )
    with pytest.raises(ValueError, match="z must be"):
        streaming_zscore(stream, "key", "v", z=0)
    with pytest.raises(ValueError, match="min_count"):
        streaming_zscore(stream, "key", "v", min_count=1)
    with pytest.raises(ValueError, match="timeout"):
        streaming_zscore(stream, "key", "v", timeout_ms=0)


def test_streaming_heavy_hitters_bounds(spark, tmp_path):
    """Misra-Gries contract across micro-batches: state never exceeds
    the capacity, and every item above total/(capacity+1) survives with
    est_count within that bound of its true count (and never above)."""
    from collections import Counter

    from lakehouse_ingestion_spark.streaming.heavy_hitters import (
        streaming_heavy_hitters,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    # skewed stream: 'hot' dominates, long tail of singletons
    b1 = ["hot"] * 30 + ["warm"] * 10 + [f"t{i}" for i in range(20)]
    b2 = ["hot"] * 20 + ["warm"] * 15 + [f"u{i}" for i in range(20)]
    (indir / "b1.jsonl").write_text(
        "\n".join(json.dumps({"key": "k", "item": x}) for x in b1)
    )
    stream = (
        spark.readStream.schema("key string, item string")
        .format("json")
        .load(str(indir))
    )
    cap = 8
    out = streaming_heavy_hitters(stream, "key", "item", capacity=cap)
    sink = str(tmp_path / "out")

    def run_once(tag):
        q = (
            out.writeStream.foreachBatch(
                lambda b, e: b.withColumn("tag", F.lit(tag))
                .write.mode("append")
                .parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once("r1")
    (indir / "b2.jsonl").write_text(
        "\n".join(json.dumps({"key": "k", "item": x}) for x in b2)
    )
    run_once("r2")

    rows = spark.read.parquet(sink).filter("tag = 'r2'").collect()
    assert 0 < len(rows) <= cap
    total = rows[0]["total_seen"]
    assert total == len(b1) + len(b2)
    bound = total / (cap + 1)
    truth = Counter(b1 + b2)
    got = {r["item"]: r["est_count"] for r in rows}
    # no false negatives above the bound, counts within [true-bound, true]
    for item, true_c in truth.items():
        if true_c > bound:
            assert item in got, f"{item} (count {true_c}) missing"
    for item, est in got.items():
        assert est <= truth[item]
        assert est >= truth[item] - bound
    # the dominator is ranked first
    assert rows[0]["item"] == "hot"


def test_streaming_heavy_hitters_validates(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.heavy_hitters import (
        streaming_heavy_hitters,
    )

    indir = tmp_path / "in3"
    indir.mkdir()
    (indir / "b.jsonl").write_text(json.dumps({"key": "k", "item": "x"}))
    stream = (
        spark.readStream.schema("key string, item string")
        .format("json")
        .load(str(indir))
    )
    with pytest.raises(ValueError, match="capacity"):
        streaming_heavy_hitters(stream, "key", "item", capacity=0)


def test_streaming_funnel_advances_across_batches(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.funnel import streaming_funnel

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user": 1, "ts": "2024-01-01T10:00:00", "step": "view"},
                {"user": 1, "ts": "2024-01-01T10:01:00", "step": "click"},
                # u2: click before view within the batch -> only view counts
                {"user": 2, "ts": "2024-01-01T09:00:00", "step": "click"},
                {"user": 2, "ts": "2024-01-01T10:00:00", "step": "view"},
                # u3: no funnel steps at all
                {"user": 3, "ts": "2024-01-01T10:00:00", "step": "other"},
            ]
        )
    )
    stream = (
        spark.readStream.schema("user long, ts timestamp, step string")
        .format("json")
        .load(str(indir))
    )
    out = streaming_funnel(stream, "user", "ts", "step", ["view", "click", "buy"])
    sink = str(tmp_path / "out")

    def run_once(tag):
        q = (
            out.writeStream.foreachBatch(
                lambda b, e: b.withColumn("tag", F.lit(tag))
                .write.mode("append")
                .parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once("r1")
    r1 = {
        r["user"]: r["stage"]
        for r in spark.read.parquet(sink).filter("tag = 'r1'").collect()
    }
    assert r1 == {1: 2, 2: 1}  # u3 emitted nothing (no advance)

    # batch 2: u1 buys (3); u2's click arrives but timestamped BEFORE the
    # matched view -> cannot advance; a later re-click does
    (indir / "b2.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user": 1, "ts": "2024-01-01T10:05:00", "step": "buy"},
                {"user": 2, "ts": "2024-01-01T09:30:00", "step": "click"},
            ]
        )
    )
    run_once("r2")
    r2 = {
        r["user"]: r["stage"]
        for r in spark.read.parquet(sink).filter("tag = 'r2'").collect()
    }
    assert r2 == {1: 3}  # u2's stale-timestamp click did not advance

    (indir / "b3.jsonl").write_text(
        json.dumps({"user": 2, "ts": "2024-01-01T11:00:00", "step": "click"})
    )
    run_once("r3")
    r3 = {
        r["user"]: r["stage"]
        for r in spark.read.parquet(sink).filter("tag = 'r3'").collect()
    }
    assert r3 == {2: 2}


def test_streaming_funnel_validates(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.funnel import streaming_funnel

    indir = tmp_path / "in4"
    indir.mkdir()
    (indir / "b.jsonl").write_text(
        json.dumps({"user": 1, "ts": "2024-01-01T10:00:00", "step": "view"})
    )
    stream = (
        spark.readStream.schema("user long, ts timestamp, step string")
        .format("json")
        .load(str(indir))
    )
    with pytest.raises(ValueError, match="steps"):
        streaming_funnel(stream, "user", "ts", "step", [])
    with pytest.raises(ValueError, match="timeout"):
        streaming_funnel(stream, "user", "ts", "step", ["view"], timeout_ms=0)


def test_streaming_zscore_chunk_size_independent(spark, tmp_path):
    """Every value in a micro-batch scores against the PRE-batch state
    snapshot, so emitted z-scores are identical regardless of Arrow
    chunking — repeated outliers in one batch all get the SAME score
    (mid-batch state absorption would shrink later ones)."""
    from lakehouse_ingestion_spark.streaming.anomaly import streaming_zscore

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        indir = tmp_path / "in"
        indir.mkdir()
        (indir / "b1.jsonl").write_text(
            "\n".join(
                json.dumps({"key": "a", "v": float(v)})
                for v in (10, 11, 9, 10, 12, 8, 10, 11, 9, 10)
            )
        )
        stream = (
            spark.readStream.schema("key string, v double")
            .format("json")
            .load(str(indir))
        )
        out = streaming_zscore(stream, "key", "v", z=3.0, min_count=10)
        sink, cp = str(tmp_path / "out"), str(tmp_path / "cp")

        def run():
            q = (
                out.writeStream.foreachBatch(
                    lambda b, e: b.write.mode("append").parquet(sink)
                )
                .outputMode("update")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run()
        # six identical outliers spanning 3 Arrow chunks in ONE batch
        (indir / "b2.jsonl").write_text(
            "\n".join(json.dumps({"key": "a", "v": 50.0}) for _ in range(6))
        )
        run()
        zs = [r["zscore"] for r in spark.read.parquet(sink).collect()]
        assert len(zs) == 6
        assert len(set(zs)) == 1, f"chunk-dependent scores: {sorted(set(zs))}"
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_streaming_funnel_numeric_epoch_ts(spark, tmp_path):
    """A numeric epoch-seconds ts column must work unscaled: the strict
    ordering guard still applies and stored state stays in epoch
    seconds (a blanket /1e9 would silently divide it)."""
    from lakehouse_ingestion_spark.streaming.funnel import streaming_funnel

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"u": 1, "ts": 1000.0, "ev": "view"},
                {"u": 1, "ts": 2000.0, "ev": "click"},
                # out-of-order click at the same batch: sorted first, so
                # the later view->click pair still completes
                {"u": 2, "ts": 500.0, "ev": "click"},
                {"u": 2, "ts": 600.0, "ev": "view"},
            ]
        )
    )
    stream = (
        spark.readStream.schema("u long, ts double, ev string")
        .format("json")
        .load(str(indir))
    )
    out = streaming_funnel(stream, "u", "ts", "ev", ["view", "click"])
    sink, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = (
        out.writeStream.foreachBatch(
            lambda b, e: b.write.mode("append").parquet(sink)
        )
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["u"], r["stage"]) for r in spark.read.parquet(sink).collect()}
    # u1 completes both steps; u2's click precedes its view -> stage 1 only
    assert got == {(1, 2), (2, 1)}


def test_streaming_quantiles_accumulates_across_restart(spark, tmp_path):
    """Digest state folds across micro-batches AND survives a restart:
    after two batches the p50 tracks the COMBINED distribution, n spans
    both lives, and rank error stays inside the digest bound."""
    import numpy as np

    from lakehouse_ingestion_spark.streaming.quantiles import (
        streaming_quantiles,
    )

    rng = np.random.default_rng(13)
    b1 = rng.uniform(0, 100, 600)
    b2 = rng.uniform(100, 200, 600)  # shifts the combined median to ~100

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(json.dumps({"key": "a", "v": float(v)}) for v in b1)
    )
    stream = (
        spark.readStream.schema("key string, v double")
        .format("json")
        .load(str(indir))
    )
    out = streaming_quantiles(stream, "key", "v", quantiles=[0.5, 0.95])
    sink, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def run(tag):
        q = (
            out.writeStream.foreachBatch(
                lambda b, e: b.withColumn("tag", F.lit(tag))
                .write.mode("append")
                .parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("r1")
    r1 = spark.read.parquet(sink).filter("tag = 'r1'").collect()[0]
    assert r1["n"] == 600
    all1 = np.sort(b1)
    assert abs((all1 <= r1["q_5"]).mean() - 0.5) <= 0.02

    (indir / "b2.jsonl").write_text(
        "\n".join(json.dumps({"key": "a", "v": float(v)}) for v in b2)
    )
    run("r2")  # fresh query instance: digest restored from checkpoint
    r2 = spark.read.parquet(sink).filter("tag = 'r2'").collect()[0]
    assert r2["n"] == 1200
    comb = np.sort(np.concatenate([b1, b2]))
    assert abs((comb <= r2["q_5"]).mean() - 0.5) <= 0.03
    assert abs((comb <= r2["q_95"]).mean() - 0.95) <= 0.03

    run("r3")  # no new data: no emission, no replay
    assert spark.read.parquet(sink).filter("tag = 'r3'").count() == 0


def test_streaming_quantiles_validates(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.quantiles import (
        streaming_quantiles,
    )

    indir = tmp_path / "in2"
    indir.mkdir()
    (indir / "b.jsonl").write_text(json.dumps({"key": "a", "v": 1.0}))
    stream = (
        spark.readStream.schema("key string, v double")
        .format("json")
        .load(str(indir))
    )
    with pytest.raises(ValueError, match="quantiles"):
        streaming_quantiles(stream, "key", "v", quantiles=[])
    with pytest.raises(ValueError, match="quantiles"):
        streaming_quantiles(stream, "key", "v", quantiles=[1.5])
    with pytest.raises(ValueError, match="compression"):
        streaming_quantiles(stream, "key", "v", compression=2)
    with pytest.raises(ValueError, match="timeout"):
        streaming_quantiles(stream, "key", "v", timeout_ms=0)
    with pytest.raises(ValueError, match="duplicate"):
        streaming_quantiles(stream, "key", "v", quantiles=[0.5, 0.50])


def test_streaming_event_dedup_parity_and_restart(spark, tmp_path):
    """Cross-batch gap suppression matches the batch operator's lag
    semantics, and a fresh query instance resuming from the checkpoint
    keeps the per-key last-seen state (no re-emission)."""
    from lakehouse_ingestion_spark.streaming.event_dedup import (
        streaming_event_dedup,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"user_id": 1, "event_type": "c", "ts": t,
                        "event_id": i})
            for i, t in [(1, 100.0), (2, 102.0), (3, 109.0)]
        )
    )
    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts double, event_id long"
        )
        .format("json")
        .load(str(indir))
    )
    out = streaming_event_dedup(
        stream, ["user_id", "event_type"], "ts", 5, tiebreak=["event_id"]
    )
    sink, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def run():
        q = (
            out.writeStream.foreachBatch(
                lambda b, e: b.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run()
    kept1 = {r["event_id"] for r in spark.read.parquet(sink).collect()}
    assert kept1 == {1, 3}  # event 2 is 2s after 1 -> suppressed

    # batch 2 resumes from state: 111.0 is 2s after the stored 109.0 ->
    # suppressed even though it's the first event of ITS batch
    (indir / "b2.jsonl").write_text(
        "\n".join(
            json.dumps({"user_id": 1, "event_type": "c", "ts": t,
                        "event_id": i})
            for i, t in [(4, 111.0), (5, 120.0)]
        )
    )
    run()
    kept2 = {r["event_id"] for r in spark.read.parquet(sink).collect()}
    assert kept2 == {1, 3, 5}

    # parity: the batch operator over the full event log agrees
    from lakehouse_ingestion_spark.operators.dedup import event_window_dedup

    full = spark.createDataFrame(
        [(1, "c", 100.0, 1), (1, "c", 102.0, 2), (1, "c", 109.0, 3),
         (1, "c", 111.0, 4), (1, "c", 120.0, 5)],
        "user_id long, event_type string, ts double, event_id long",
    )
    batch_kept = {
        r["event_id"]
        for r in event_window_dedup(
            full, ["user_id", "event_type"], "ts", 5, tiebreak=["event_id"]
        ).collect()
    }
    assert batch_kept == kept2


def test_streaming_event_dedup_validates(spark):
    from lakehouse_ingestion_spark.streaming.event_dedup import (
        streaming_event_dedup,
    )

    df = spark.createDataFrame([], "user_id long, ts double")
    with pytest.raises(ValueError, match="min_gap_seconds"):
        streaming_event_dedup(df, ["user_id"], "ts", 0)


def _drop_file(indir, name, rows):
    """Move a complete JSON-lines file into a watched source directory."""
    tmp = indir.parent / f".{name}"
    tmp.write_text("\n".join(json.dumps(r) for r in rows))
    os.replace(tmp, indir / name)


def _wait_for(cond, what, q, deadline_s=90.0):
    """Poll ``cond`` until it holds; fail on the deadline or a dead query.
    Eviction needs a processingTime trigger, so these queries never
    terminate on their own and cannot use ``processAllAvailable``."""
    end = time.monotonic() + deadline_s
    while not cond():
        if q.exception() is not None:
            raise AssertionError(f"query failed waiting for {what}: {q.exception()}")
        assert time.monotonic() < end, f"no {what} within {deadline_s}s"
        time.sleep(0.2)


def test_running_aggregate_evicts_idle_key(spark, tmp_path):
    """``timeout_ms`` arms eviction under a processingTime trigger: the
    idle key emits ``is_final=True`` with its totals, and its next event
    starts over from fresh state."""
    from lakehouse_ingestion_spark.streaming.stateful import running_aggregate

    indir = tmp_path / "in"
    indir.mkdir()
    _drop_file(indir, "b1.jsonl", [{"key": "a", "v": 1.0}, {"key": "a", "v": 2.0}])
    stream = spark.readStream.schema("key string, v double").format("json").load(str(indir))
    rows = []
    q = (
        running_aggregate(stream, "key", "v", timeout_ms=500)
        .writeStream.foreachBatch(lambda b, e: rows.extend(b.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        _wait_for(lambda: any(r.is_final for r in rows), "eviction", q)
        seen = [(r.key, r.n_events, r.total_value, r.is_final) for r in rows]
        assert seen == [("a", 2, 3.0, False), ("a", 2, 3.0, True)]
        _drop_file(indir, "b2.jsonl", [{"key": "a", "v": 10.0}])
        _wait_for(lambda: len(rows) > 2, "row after eviction", q)
        r = rows[2]
        assert (r.key, r.n_events, r.total_value, r.is_final) == ("a", 1, 10.0, False)
    finally:
        q.stop()


def test_streaming_event_dedup_keeps_repeat_after_eviction(spark, tmp_path):
    """An evicted key's next event is first-seen again: a repeat inside
    ``min_gap_seconds`` of the stored timestamp is kept once the key has
    idled past ``timeout_ms``."""
    from lakehouse_ingestion_spark.streaming.event_dedup import (
        streaming_event_dedup,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    _drop_file(indir, "b1.jsonl", [{"user_id": 1, "ts": 100.0, "event_id": 1},
                                   {"user_id": 1, "ts": 102.0, "event_id": 3}])
    stream = (
        spark.readStream.schema("user_id long, ts double, event_id long")
        .format("json")
        .load(str(indir))
    )
    kept = []
    q = (
        streaming_event_dedup(stream, ["user_id"], "ts", 60, tiebreak=["event_id"],
                              timeout_ms=500)
        .writeStream.foreachBatch(lambda b, e: kept.extend(r.event_id for r in b.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )

    def evicted():
        return any(
            p["stateOperators"] and p["stateOperators"][0]["numRowsRemoved"] > 0
            for p in q.recentProgress
        )

    try:
        _wait_for(evicted, "eviction", q)
        assert kept == [1]  # event 3 is 2 s after event 1
        # 101.0 is inside the gap of (and older than) the evicted 102.0
        _drop_file(indir, "b2.jsonl", [{"user_id": 1, "ts": 101.0, "event_id": 2}])
        _wait_for(lambda: len(kept) > 1, "repeat after eviction", q)
        assert kept == [1, 2]
    finally:
        q.stop()


@pytest.mark.parametrize("bad", [0, -1, 1.5, "500", True])
def test_timeout_ms_must_be_none_or_positive_int(spark, bad):
    from lakehouse_ingestion_spark.streaming.event_dedup import (
        streaming_event_dedup,
    )
    from lakehouse_ingestion_spark.streaming.stateful import running_aggregate

    df = spark.createDataFrame([], "user_id long, ts double")
    with pytest.raises(ValueError, match="timeout_ms"):
        running_aggregate(df, "user_id", "ts", timeout_ms=bad)
    with pytest.raises(ValueError, match="timeout_ms"):
        streaming_event_dedup(df, ["user_id"], "ts", 5, timeout_ms=bad)
