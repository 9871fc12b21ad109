import json
import time
from functools import partial

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_ingestion_spark.dq.checks import RangeCheck
from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet, OnFailPolicy
from lakehouse_ingestion_spark.operators.sampling import hash_split
from lakehouse_ingestion_spark.sources.files import FileReader
from lakehouse_ingestion_spark.streaming.foreach_batch import dq_epoch
from lakehouse_ingestion_spark.streaming.manager import StreamManager

SCHEMA = StructType(
    [
        StructField("id", LongType(), True),
        StructField("v", DoubleType(), True),
        StructField("tag", StringType(), True),
    ]
)


def _write_batch(path, rows, name):
    (path / name).write_text("\n".join(json.dumps(r) for r in rows))


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    _write_batch(d, [{"id": 1, "v": 5.0, "tag": "a"}, {"id": 2, "v": -3.0, "tag": "b"}], "b1.jsonl")
    return d


@pytest.mark.slow
def test_streaming_file_source_with_dq(spark, stream_dir, tmp_path):
    out = str(tmp_path / "out")
    quarantine = str(tmp_path / "q")
    cp = str(tmp_path / "cp")

    reader = FileReader()
    df = reader.read(
        spark,
        {"path": str(stream_dir), "format": "json", "streaming": "true",
         "maxFilesPerTrigger": "1"},
        SCHEMA,
    )
    assert df.isStreaming

    rs = DQRuleSet([RangeCheck(column="v", min_value=0.0)])
    fn = partial(
        dq_epoch,
        ruleset=rs,
        policy=OnFailPolicy.QUARANTINE,
        sink=lambda b, e: b.write.mode("append").parquet(out),
        quarantine_sink=lambda b, e: b.write.mode("append").parquet(quarantine),
    )
    mgr = StreamManager(spark)
    q = mgr.register(
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive or q.awaitTermination(30)

    good = spark.read.parquet(out)
    assert good.count() == 1
    assert good.collect()[0].id == 1
    bad = spark.read.parquet(quarantine)
    assert bad.count() == 1
    assert bad.collect()[0].id == 2

    # second micro-batch appends incrementally (checkpoint resume)
    _write_batch(stream_dir, [{"id": 3, "v": 7.0, "tag": "c"}], "b2.jsonl")
    q2 = mgr.register(
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2  # id=1 and id=3, no re-processing


def test_stream_manager_nonblocking(spark, stream_dir, tmp_path):
    """Two streams can be launched before either is awaited (the reference
    serializes on awaitTermination inside the writer)."""
    reader = FileReader()
    df = reader.read(
        spark,
        {"path": str(stream_dir), "format": "json", "streaming": "true"},
        SCHEMA,
    )
    mgr = StreamManager(spark)
    qs = []
    for i in range(2):
        qs.append(
            mgr.register(
                df.writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / f"cp{i}"))
                .trigger(availableNow=True)
                .start()
            )
        )
    assert len(mgr.queries) == 2
    for q in qs:
        q.awaitTermination(120)
    assert mgr.active == []


@pytest.mark.slow
def test_watermark_drops_late_events(spark, tmp_path):
    """Tumbling-window agg with a 10-min watermark: an event older than
    the applied watermark is excluded from its already-finalized window.

    Note Spark applies the watermark with a one-batch lag (the value
    computed from batch N's data takes effect in batch N+2's filter), so
    the late event goes in a third micro-batch.
    """
    import time as _time

    from pyspark.sql.types import TimestampType

    from lakehouse_ingestion_spark.streaming.windows import tumbling_window_agg
    from pyspark.sql import functions as F

    schema = StructType(
        [StructField("ts", TimestampType(), True), StructField("v", DoubleType(), True)]
    )
    src = tmp_path / "wm_in"
    src.mkdir()

    def _rows(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))
        _time.sleep(1.1)  # file listing order = mtime order

    # batch 0: the 10:00 window's real events + a 12:05 event that will
    # push the watermark to 11:55
    _rows("f1.jsonl", [
        {"ts": "2024-01-01T10:10:00", "v": 1.0},
        {"ts": "2024-01-01T10:20:00", "v": 1.0},
        {"ts": "2024-01-01T12:05:00", "v": 1.0},
    ])
    # batch 1: propagation batch (batch-0 watermark becomes effective next)
    _rows("f2.jsonl", [{"ts": "2024-01-01T12:10:00", "v": 1.0}])
    # batch 2: late event for the closed 10:00 window -> dropped
    _rows("f3.jsonl", [
        {"ts": "2024-01-01T10:30:00", "v": 100.0},
        {"ts": "2024-01-01T12:40:00", "v": 1.0},
    ])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = tumbling_window_agg(
        stream, "ts", "1 hour", [],
        [F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")],
        watermark_delay="10 minutes",
    )
    out = str(tmp_path / "wm_out")
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "wm_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["window_start"].isoformat(): (r["n"], r["total"])
        for r in spark.read.parquet(out).collect()
    }
    # late v=100 event NOT in the finalized 10:00 window
    assert got["2024-01-01T10:00:00"] == (2, 2.0)
    # watermark actually dropped rows (not just never emitted)
    drops = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p.get("stateOperators")
    )
    assert drops >= 1


def test_streaming_cdc_epoch(spark, tmp_path):
    """Two CDC micro-batches fold into the parquet state: upserts land,
    deletes remove, and the final state matches the batch cdc_apply of
    the full history."""
    from lakehouse_ingestion_spark.streaming.cdc import cdc_epoch
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    indir = tmp_path / "cdc_in"
    indir.mkdir()
    b1 = [
        {"id": 1, "seq": 100, "op": "c", "v": "a1"},
        {"id": 2, "seq": 110, "op": "c", "v": "b1"},
    ]
    b2 = [
        {"id": 1, "seq": 200, "op": "u", "v": "a2"},
        {"id": 2, "seq": 210, "op": "d", "v": None},
        {"id": 3, "seq": 220, "op": "c", "v": "c1"},
    ]
    _write_batch(indir, b1, "b1.jsonl")
    _write_batch(indir, b2, "b2.jsonl")

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("seq", LongType()),
            StructField("op", StringType()),
            StructField("v", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    state = str(tmp_path / "cdc_state")
    q = (
        stream.writeStream.foreachBatch(
            partial(cdc_epoch, state_path=state, key_columns=["id"],
                    order_by=["seq"])
        )
        .option("checkpointLocation", str(tmp_path / "cdc_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"]: r["v"] for r in spark.read.parquet(state).collect()}
    assert got == {1: "a2", 3: "c1"}  # id=2 deleted, id=1 updated


@pytest.mark.slow
def test_stream_stream_interval_join(spark, tmp_path):
    """Two watermarked file streams join on key within a time horizon;
    a right event outside the horizon finds no match."""
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.streaming.joins import interval_join
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(); rdir.mkdir()
    _write_batch(
        ldir,
        [
            {"k": 1, "ts": "2026-01-01T10:00:00", "imp": "i1"},
            {"k": 2, "ts": "2026-01-01T10:00:00", "imp": "i2"},
        ],
        "l1.jsonl",
    )
    _write_batch(
        rdir,
        [
            {"k": 1, "ts": "2026-01-01T10:00:30", "clk": "c1"},  # within 60s
            {"k": 2, "ts": "2026-01-01T10:05:00", "clk": "c2"},  # outside
        ],
        "r1.jsonl",
    )
    lschema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", TimestampType()),
            StructField("imp", StringType()),
        ]
    )
    rschema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", TimestampType()),
            StructField("clk", StringType()),
        ]
    )
    ls = spark.readStream.schema(lschema).json(str(ldir))
    rs = spark.readStream.schema(rschema).json(str(rdir))
    joined = interval_join(
        ls, rs, ["k"], "ts", "ts", "1 minute", "1 minute", 60.0
    )
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        (r["k"], r["imp"], r["clk"])
        for r in spark.read.parquet(out).collect()
    ]
    assert rows == [(1, "i1", "c1")]

    with pytest.raises(ConfigError, match="at least one"):
        interval_join(ls, rs, [], "ts", "ts", "1 minute", "1 minute", 60.0)
    with pytest.raises(ConfigError, match="positive"):
        interval_join(ls, rs, ["k"], "ts", "ts", "1 minute", "1 minute", 0)
    with pytest.raises(ConfigError, match="supports how"):
        interval_join(
            ls, rs, ["k"], "ts", "ts", "1 minute", "1 minute", 60.0, how="full"
        )


def test_cdc_crash_recovery_restores_backup(spark, tmp_path):
    """Crash window between the two snapshot renames: state_path is gone
    and only the __cdc_old_{epoch} backup holds the prior state. The
    foreachBatch fn must restore the backup before folding the batch —
    not rebuild state from the micro-batch alone (silent state loss)."""
    import shutil

    from lakehouse_ingestion_spark.streaming.cdc import cdc_epoch

    state = str(tmp_path / "state")
    fn = partial(cdc_epoch, state_path=state, key_columns=["id"],
                 order_by=["seq"])

    b1 = spark.createDataFrame(
        [(1, 100, "c", "a1"), (2, 110, "c", "b1")],
        "id long, seq long, op string, v string",
    )
    fn(b1, 0)
    assert {r["id"] for r in spark.read.parquet(state).collect()} == {1, 2}

    # simulate the crash: epoch-1 attempt moved state to the backup and
    # died before promoting the new snapshot
    shutil.move(state, state + "__cdc_old_1")

    b2 = spark.createDataFrame(
        [(3, 200, "c", "c1")], "id long, seq long, op string, v string"
    )
    fn(b2, 1)
    got = {r["id"]: r["v"] for r in spark.read.parquet(state).collect()}
    # ids 1 and 2 survived via the backup; id 3 folded on top
    assert got == {1: "a1", 2: "b1", 3: "c1"}
    import os

    assert not os.path.exists(state + "__cdc_old_1")


def test_interval_join_fractional_horizon_parses(spark):
    """A horizon whose float repr goes scientific (1e-06) must still build
    a valid interval expression (make_interval, not INTERVAL literal)."""
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.streaming.joins import interval_join

    l = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", "i1")], "k long, ts string, imp string"
    ).withColumn("ts", F.to_timestamp("ts"))
    r = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", "c1")], "k long, ts string, clk string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = interval_join(l, r, ["k"], "ts", "ts", "1 minute", "1 minute", 1e-06)
    assert out.count() == 1  # equal timestamps are inside [t, t+1e-6]


@pytest.mark.slow
def test_interval_join_left_outer_emits_after_watermark(spark, tmp_path):
    """Left-outer interval join: the null-padded row for an unmatched
    left event must NOT appear while the watermark could still admit a
    match, and MUST appear once the watermark passes left_ts + horizon.
    The second run restarts from the same checkpoint (replay path): the
    already-emitted inner match must not duplicate."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from lakehouse_ingestion_spark.streaming.joins import interval_join

    ldir, rdir = tmp_path / "l", tmp_path / "r"
    ldir.mkdir(); rdir.mkdir()
    _write_batch(
        ldir,
        [
            {"k": 1, "ts": "2026-01-01T10:00:00", "imp": "i1"},  # matches
            {"k": 3, "ts": "2026-01-01T10:00:10", "imp": "i3"},  # never matches
        ],
        "l1.jsonl",
    )
    _write_batch(
        rdir,
        [{"k": 1, "ts": "2026-01-01T10:00:30", "clk": "c1"}],
        "r1.jsonl",
    )
    lschema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", TimestampType()),
            StructField("imp", StringType()),
        ]
    )
    rschema = StructType(
        [
            StructField("k", LongType()),
            StructField("ts", TimestampType()),
            StructField("clk", StringType()),
        ]
    )

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def run():
        ls = spark.readStream.schema(lschema).json(str(ldir))
        rs = spark.readStream.schema(rschema).json(str(rdir))
        joined = interval_join(
            ls, rs, ["k"], "ts", "ts", "1 minute", "1 minute", 60.0,
            how="left",
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    rows1 = {
        (r["k"], r["imp"], r["clk"]) for r in spark.read.parquet(out).collect()
    }
    # watermark after run 1 is 09:59:30 — k=3 could still match, so only
    # the inner result may have emitted (premature null-padding would be
    # a wrong answer, not just a late one)
    assert (3, "i3", None) not in rows1
    assert rows1 <= {(1, "i1", "c1")}

    # advance event time well past left_ts + horizon + delay on both
    # sides, then RESTART from the same checkpoint
    _write_batch(
        ldir, [{"k": 9, "ts": "2026-01-01T10:30:00", "imp": "i9"}], "l2.jsonl"
    )
    _write_batch(
        rdir, [{"k": 9, "ts": "2026-01-01T10:30:10", "clk": "c9"}], "r2.jsonl"
    )
    run()
    rows2 = [
        (r["k"], r["imp"], r["clk"]) for r in spark.read.parquet(out).collect()
    ]
    assert sorted(rows2) == [
        (1, "i1", "c1"),   # exactly once across the restart
        (3, "i3", None),   # null-padded only after watermark passage
        (9, "i9", "c9"),
    ]


# ---------------------------------------------------------------------------
# checkpoint-restart for the applyInPandasWithState trio: every run below
# is a FRESH query instance resuming from the same checkpoint (the
# kill-and-resume shape) — state must restore, emissions must not replay
# ---------------------------------------------------------------------------


def _restart_runner(out_df, sink, cp):
    from pyspark.sql import functions as F

    def run(tag):
        q = (
            out_df.writeStream.foreachBatch(
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

    return run


def test_heavy_hitters_restart_restores_summary(spark, tmp_path):
    """After a restart, the Misra-Gries summary continues from the
    checkpointed counters (total_seen spans both lives) and the batch-1
    emission is not replayed."""
    from lakehouse_ingestion_spark.streaming.heavy_hitters import (
        streaming_heavy_hitters,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"g": "k", "item": it})
            for it in ["x"] * 10 + ["y"] * 5
        )
    )
    stream = (
        spark.readStream.schema("g string, item string")
        .format("json")
        .load(str(indir))
    )
    out = streaming_heavy_hitters(stream, "g", "item", capacity=8)
    sink, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    run = _restart_runner(out, sink, cp)

    run("r1")
    r1 = {
        r["item"]: (r["est_count"], r["total_seen"])
        for r in spark.read.parquet(sink).filter("tag = 'r1'").collect()
    }
    assert r1 == {"x": (10, 15), "y": (5, 15)}

    # new query instance, same checkpoint: counts must ACCUMULATE
    (indir / "b2.jsonl").write_text(
        "\n".join(json.dumps({"g": "k", "item": "y"}) for _ in range(7))
    )
    run("r2")
    r2 = {
        r["item"]: (r["est_count"], r["total_seen"])
        for r in spark.read.parquet(sink).filter("tag = 'r2'").collect()
    }
    assert r2 == {"x": (10, 22), "y": (12, 22)}

    # restart with NO new data: nothing replays
    run("r3")
    assert spark.read.parquet(sink).filter("tag = 'r3'").count() == 0


def test_streaming_funnel_restart_restores_stage_and_ts(spark, tmp_path):
    """Restart must restore BOTH state fields: the stage (batch-2 click
    advances 1 -> 2 only if stage survived) and last_ts (a click at an
    EARLIER timestamp than the restored match must NOT advance)."""
    from lakehouse_ingestion_spark.streaming.funnel import streaming_funnel

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"u": 1, "ts": "2026-01-01T10:00:00", "ev": "view"},
                {"u": 2, "ts": "2026-01-01T10:00:00", "ev": "view"},
            ]
        )
    )
    stream = (
        spark.readStream.schema("u long, ts timestamp, ev string")
        .format("json")
        .load(str(indir))
    )
    out = streaming_funnel(stream, "u", "ts", "ev", ["view", "click"])
    sink, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    run = _restart_runner(out, sink, cp)

    run("r1")
    r1 = {
        (r["u"], r["stage"])
        for r in spark.read.parquet(sink).filter("tag = 'r1'").collect()
    }
    assert r1 == {(1, 1), (2, 1)}

    # user 1: click AFTER the restored last_ts -> advances; user 2: click
    # BEFORE it -> the strict-order guard (restored last_ts) blocks it
    (indir / "b2.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"u": 1, "ts": "2026-01-01T10:01:00", "ev": "click"},
                {"u": 2, "ts": "2026-01-01T09:59:00", "ev": "click"},
            ]
        )
    )
    run("r2")
    r2 = {
        (r["u"], r["stage"])
        for r in spark.read.parquet(sink).filter("tag = 'r2'").collect()
    }
    assert r2 == {(1, 2)}  # u2 emits nothing: stage did not advance

    run("r3")  # no new data -> no replay of earlier advancements
    assert spark.read.parquet(sink).filter("tag = 'r3'").count() == 0


def test_streaming_zscore_restart_no_double_emission(spark, tmp_path):
    """The batch-2 outlier is flagged against RESTORED batch-1 stats and
    appears exactly once across restarts."""
    from lakehouse_ingestion_spark.streaming.anomaly import streaming_zscore

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
    run = _restart_runner(out, sink, cp)

    run("r1")
    assert spark.read.parquet(sink).count() == 0

    (indir / "b2.jsonl").write_text(json.dumps({"key": "a", "v": 50.0}))
    run("r2")  # fresh instance: stats restored from checkpoint
    r2 = spark.read.parquet(sink).filter("tag = 'r2'").collect()
    assert [(r["key"], r["value"]) for r in r2] == [("a", 50.0)]

    run("r3")
    run("r4")  # repeated restarts with no data: still exactly one flag
    assert spark.read.parquet(sink).count() == 1


@pytest.mark.slow
def test_streaming_near_dup_index_maintained(spark, tmp_path):
    """Two micro-batches through the index-maintaining near-dup filter:
    batch-2 near-dups of batch-1 survivors are dropped, survivors land
    in the sink, and the index holds exactly the survivors."""
    import json as _json

    from lakehouse_ingestion_spark.streaming.near_dup import (
        near_dup_epoch,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    indir = tmp_path / "nd_in"
    indir.mkdir()
    b1 = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "entirely different content about spark jobs"},
        # in-batch exact dup of doc 1 -> dropped inside batch 1
        {"doc_id": 3, "text": "the quick brown fox jumps over the lazy dog"},
    ]
    b2 = [
        # near-dup of the INDEXED doc 1 -> dropped cross-batch
        {"doc_id": 11, "text": "the quick brown fox jumps over the lazy cat"},
        {"doc_id": 12, "text": "fresh words never seen before in any batch"},
    ]
    (indir / "b1.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in b1) + "\n"
    )
    (indir / "b2.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in b2) + "\n"
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    out = str(tmp_path / "nd_out")
    dups = str(tmp_path / "nd_dups")
    bands_p = str(tmp_path / "nd_bands")
    hashes_p = str(tmp_path / "nd_hashes")

    fn = partial(
        near_dup_epoch,
        index_paths=(bands_p, hashes_p),
        threshold=0.3,
        sink=lambda df, _e: df.write.mode("append").parquet(out),
        dup_sink=lambda df, _e: df.write.mode("append").parquet(dups),
        num_hashes=8,
        num_bands=4,
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "nd_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 12}
    dup_rows = {
        r["doc_id"]: (r["dup_of"], r["jaccard"])
        for r in spark.read.parquet(dups).collect()
    }
    assert set(dup_rows) == {3, 11}
    assert dup_rows[3] == (1, 1.0)  # exact in-batch dup
    assert dup_rows[11][0] == 1  # cross-batch near-dup of indexed doc
    # index holds exactly the survivors (duplicates never poison it)
    assert {
        r["doc_id"] for r in spark.read.parquet(hashes_p).collect()
    } == {1, 2, 12}


@pytest.mark.slow
def test_streaming_sticky_split_across_batches(spark, tmp_path):
    """Streaming leakage-safe split (round 8, streaming/curation):
    near-dup docs in LATER batches inherit the cluster split assigned
    earlier, merges never move assigned docs, and a redelivered batch
    replays idempotently (same output, no index/assignment bloat)."""
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.streaming.curation import (
        sticky_split_epoch,
    )

    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = "completely different material that shares nothing at all here"
    t3 = "a third body of text with its very own unique words inside"
    state = str(tmp_path / "cur_state")
    out = str(tmp_path / "cur_out")
    audits = []
    fn = partial(
        sticky_split_epoch,
        state_dir=state,
        fractions={"train": 0.5, "test": 0.5},
        threshold=0.3,
        sink=lambda df, e: df.withColumn(
            "epoch", F.lit(e)
        ).write.mode("append").parquet(out),
        audit_sink=lambda df, e: audits.append((e, df.collect())),
        num_hashes=8,
        num_bands=4,
    )
    b1 = spark.createDataFrame(
        [(1, t1), (2, t1 + " tail"), (3, t2), (4, t3)],
        "doc_id long, text string",
    )
    fn(b1, 0)
    r1 = {
        r["doc_id"]: r
        for r in spark.read.parquet(out).where("epoch = 0").collect()
    }
    assert r1[1]["split"] == r1[2]["split"]  # near-dups split together
    assert r1[1]["rep"] == r1[2]["rep"] == 1

    # batch 2: doc 11 near-dups doc 1 (inherits its cluster/split),
    # doc 13 near-dups the SINGLETON doc 3 (a merge of a previously
    # hash-assigned singleton — doc 3's split must not move)
    b2 = spark.createDataFrame(
        [(11, t1 + " extra"), (13, t2 + " extra"), (14, "totally new words")],
        "doc_id long, text string",
    )
    fn(b2, 1)
    r2 = {
        r["doc_id"]: r
        for r in spark.read.parquet(out).where("epoch = 1").collect()
    }
    assert r2[11]["split"] == r1[1]["split"]  # inherited across batches
    assert r2[13]["split"] == r1[3]["split"]  # 3's assignment inherited
    assigned = {
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(f"{state}/assignments").collect()
    }
    assert {d for d, _ in assigned} == {1, 2, 3, 4, 11, 13, 14}

    # redelivery of batch 2: identical output, no state bloat
    n_hashes = spark.read.parquet(f"{state}/hashes").count()
    fn(b2, 1)
    r2b = [
        (r["doc_id"], r["split"], r["rep"])
        for r in spark.read.parquet(out).where("epoch = 1").collect()
    ]
    assert sorted(r2b) == sorted(
        [(d, r["split"], r["rep"]) for d, r in r2.items()] * 2
    )  # the sink appended twice (epoch-keyed sinks would overwrite)
    assert spark.read.parquet(f"{state}/hashes").count() == n_hashes
    assert {
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(f"{state}/assignments").collect()
    } == assigned
    # batch pipeline interop: the label table is the incremental-CC
    # shape leakage_safe_split's labels_path consumes
    state_labels = {
        r["node"]: r["cluster_id"]
        for r in spark.read.parquet(f"{state}/labels").collect()
    }
    assert state_labels[11] == 1 and state_labels[13] == 3


@pytest.mark.slow
def test_streaming_bloom_dedup_exact_forever(spark, tmp_path):
    """Three micro-batches through the Bloom-screened exact dedup:
    cross-batch duplicates drop no matter how far apart (no watermark
    horizon), false positives never drop new rows, the key store holds
    exactly the survivors, and the persisted filter screens every
    stored key as maybe-seen."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from lakehouse_ingestion_spark.operators.bloom import bloom_screen
    from lakehouse_ingestion_spark.streaming.bloom_dedup import (
        bloom_dedup_epoch,
    )

    indir = tmp_path / "bd_in"
    indir.mkdir()
    batches = [
        [
            {"doc_id": 1, "k": "alpha"},
            {"doc_id": 2, "k": "beta"},
            {"doc_id": 3, "k": "alpha"},  # in-batch repeat -> collapsed
        ],
        [
            {"doc_id": 11, "k": "alpha"},  # cross-batch dup -> routed
            {"doc_id": 12, "k": "gamma"},
        ],
        [
            {"doc_id": 21, "k": "beta"},  # dup of batch-1 survivor
            {"doc_id": 22, "k": "gamma"},  # dup of batch-2 survivor
            {"doc_id": 23, "k": None},  # NULL key: always survives
        ],
    ]
    for i, b in enumerate(batches):
        (indir / f"b{i}.jsonl").write_text(
            "\n".join(_json.dumps(r) for r in b) + "\n"
        )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("k", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    out = str(tmp_path / "bd_out")
    dups = str(tmp_path / "bd_dups")
    bloom_p = str(tmp_path / "bd_bloom")
    keys_p = str(tmp_path / "bd_keys")

    fn = partial(
        bloom_dedup_epoch,
        state_paths=(bloom_p, keys_p),
        sink=lambda df, _e: df.write.mode("append").parquet(out),
        key_col="k",
        expected_items=1000,
        fpp=0.01,
        dup_sink=lambda df, _e: df.write.mode("append").parquet(dups),
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "bd_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    kept = {r["k"] for r in spark.read.parquet(out).collect()}
    assert kept == {"alpha", "beta", "gamma", None}
    dup_keys = sorted(
        r["k"] for r in spark.read.parquet(dups).collect()
    )
    assert dup_keys == ["alpha", "beta", "gamma"]
    stored_keys = {r["k"] for r in spark.read.parquet(keys_p).collect()}
    assert stored_keys == {"alpha", "beta", "gamma"}  # no NULL, no dups
    # the persisted filter screens every stored key maybe-seen
    blm = spark.read.parquet(bloom_p)
    screened = bloom_screen(
        spark.read.parquet(keys_p), blm, "k"
    )
    assert screened.where(~F.col("maybe_seen")).count() == 0


@pytest.mark.slow
def test_streaming_bloom_dedup_redelivery_idempotent(spark, tmp_path):
    """A fully-committed batch redelivered after a checkpoint loss
    emits NOTHING the second time: the key store is consulted exactly,
    so redelivery self-deduplicates (the property the module docstring
    claims over fuzzy near-dup)."""
    from lakehouse_ingestion_spark.streaming.bloom_dedup import (
        bloom_dedup_epoch,
    )

    out = str(tmp_path / "rd_out")
    fn = partial(
        bloom_dedup_epoch,
        state_paths=(str(tmp_path / "rd_bloom"), str(tmp_path / "rd_keys")),
        sink=lambda df, _e: df.write.mode("append").parquet(out),
        key_col="k",
        expected_items=100,
    )
    batch = spark.createDataFrame([("x",), ("y",)], "k string")
    fn(batch, 0)
    assert spark.read.parquet(out).count() == 2
    fn(batch, 0)  # redelivered
    assert spark.read.parquet(out).count() == 2


def test_streaming_bloom_dedup_stale_keys_fail_safe(spark, tmp_path):
    """Crash-ordering rationale, exercised: if the bloom committed but
    the keys append did not (the crash window the sink->bloom->keys
    order leaves), a later batch's fp-screened rows verify against the
    key store and SURVIVE — cost, never a wrong drop. (The reverse
    order's stale-bloom window would silently pass duplicates.)"""
    from lakehouse_ingestion_spark.operators.bloom import bloom_build
    from lakehouse_ingestion_spark.streaming.bloom_dedup import (
        bloom_dedup_epoch,
    )

    bloom_p = str(tmp_path / "fs_bloom")
    keys_p = str(tmp_path / "fs_keys")
    out = str(tmp_path / "fs_out")

    # simulate the torn state: batch-1's keys are IN the bloom but NOT
    # in the key store (bloom write committed, keys append lost)
    b1 = spark.createDataFrame([("alpha",), ("beta",)], "k string")
    bloom_build(b1, "k", expected_items=100).write.parquet(bloom_p)
    spark.createDataFrame([], "k string").write.parquet(keys_p)

    fn = partial(
        bloom_dedup_epoch,
        state_paths=(bloom_p, keys_p),
        sink=lambda df, _e: df.write.mode("append").parquet(out),
        key_col="k",
        expected_items=100,
    )
    # redelivered batch-1: every key screens maybe-seen (bloom has
    # them), none is in the key store -> all survive and re-sink
    fn(b1, 1)
    assert {r.k for r in spark.read.parquet(out).collect()} == {
        "alpha", "beta",
    }
    # and the state heals: the keys append ran this time
    assert {r.k for r in spark.read.parquet(keys_p).collect()} == {
        "alpha", "beta",
    }


def test_streaming_bloom_dedup_raising_sink_releases_pins(spark, tmp_path):
    """A sink that raises still frees the batch's pinned frames (the
    screened filter row and the verified-dup keys): nothing stays in
    executor storage until ContextCleaner GC."""
    import time

    from lakehouse_ingestion_spark.operators.bloom import bloom_build
    from lakehouse_ingestion_spark.streaming.bloom_dedup import (
        bloom_dedup_epoch,
    )

    bloom_p = str(tmp_path / "rp_bloom")
    keys_p = str(tmp_path / "rp_keys")
    seen = spark.createDataFrame([("alpha",), ("beta",)], "k string")
    bloom_build(seen, "k", expected_items=100).write.parquet(bloom_p)
    seen.write.parquet(keys_p)

    def sink(_df, _e):
        raise RuntimeError("sink down")

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="sink down"):
        bloom_dedup_epoch(
            spark.createDataFrame([("alpha",), ("gamma",)], "k string"),
            1,
            state_paths=(bloom_p, keys_p),
            sink=sink,
            key_col="k",
            expected_items=100,
        )
    # unpersist is async; give the block manager a moment
    for _ in range(50):
        if jsc.getPersistentRDDs().size() <= before:
            break
        time.sleep(0.1)
    assert jsc.getPersistentRDDs().size() <= before


def test_multi_sink_exactly_once_fanout(spark, tmp_path):
    """Two differently-shaped sinks from one stream: all rows land in
    both, the ledger records every (epoch, sink), and a sink failure
    mid-epoch retries to exactly one copy everywhere (the reference's
    named open problem — exactly-once across sinks)."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        read_committed,
        write_epoch,
    )

    indir = tmp_path / "ms_in"
    indir.mkdir()
    for i in range(2):
        rows = [{"id": i * 10 + j, "v": f"x{j}"} for j in range(3)]
        (indir / f"b{i}.jsonl").write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )
    schema = StructType(
        [StructField("id", LongType()), StructField("v", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    bronze = str(tmp_path / "ms_bronze")
    silver = str(tmp_path / "ms_silver")
    ledger = str(tmp_path / "ms_ledger")
    fn = partial(
        write_epoch,
        sinks={
            "bronze": SinkSpec(bronze),
            "silver": SinkSpec(
                silver, transform=lambda df: df.select("id")
            ),
        },
        ledger_path=ledger,
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ms_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert spark.read.parquet(bronze).count() == 6
    assert set(spark.read.parquet(silver).columns) == {"id", "_epoch"}
    led = spark.read.parquet(ledger)
    assert led.select("epoch", "sink").distinct().count() == 4  # 2 epochs x 2
    rc = read_committed(spark, bronze, ledger, "bronze")
    assert rc.count() == 6


def test_multi_sink_retry_converges(spark, tmp_path):
    """Sink B fails on the first attempt AFTER sink A committed; the
    redelivered epoch overwrites A's partition (no double rows) and
    completes B — exactly one copy everywhere, ledger complete. A
    fully-ledgered epoch redelivers as a no-op."""
    import pytest as _pytest

    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        write_epoch,
    )

    a_path = str(tmp_path / "r_a")
    b_path = str(tmp_path / "r_b")
    ledger = str(tmp_path / "r_ledger")
    attempts = {"n": 0}

    def flaky(df):
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise RuntimeError("sink B transform died")
        return df

    fn = partial(
        write_epoch,
        sinks={"a": SinkSpec(a_path), "b": SinkSpec(b_path, transform=flaky)},
        ledger_path=ledger,
    )
    batch = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    with _pytest.raises(Exception, match="sink B"):
        fn(batch, 7)
    # A committed, B did not, nothing ledgered -> redelivery rewrites
    fn(batch, 7)
    assert spark.read.parquet(a_path).count() == 2  # overwritten, not 4
    assert spark.read.parquet(b_path).count() == 2
    led = spark.read.parquet(ledger)
    assert {r.sink for r in led.collect()} == {"a", "b"}
    # fully-ledgered epoch: redelivery is a no-op (transform not called)
    before = attempts["n"]
    fn(batch, 7)
    assert attempts["n"] == before


def test_multi_sink_read_committed_hides_inflight(spark, tmp_path):
    """An epoch partition on disk but absent from the ledger (a write
    in flight or torn) is invisible to read_committed."""
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        read_committed,
        write_epoch,
    )

    path = str(tmp_path / "ic_sink")
    ledger = str(tmp_path / "ic_ledger")
    fn = partial(write_epoch, sinks={"s": SinkSpec(path)}, ledger_path=ledger)
    fn(spark.createDataFrame([(1,)], "id long"), 0)
    # torn epoch: data present, no ledger row
    (
        spark.createDataFrame([(99,)], "id long")
        .withColumn("_epoch", F.lit(123))
        .write.mode("append")
        .partitionBy("_epoch")
        .parquet(path)
    )
    assert spark.read.parquet(path).count() == 2
    rc = read_committed(spark, path, ledger, "s")
    assert [r.id for r in rc.collect()] == [1]


@pytest.mark.slow
def test_streaming_bloom_dedup_null_keys_not_collapsed(spark, tmp_path):
    """Multiple NULL-key rows in ONE micro-batch all survive verbatim:
    dropDuplicates' null-safe equality must not collapse them (the
    'NULL keys always survive' contract), and none of them lands in
    the dup sink or the key store."""
    from lakehouse_ingestion_spark.streaming.bloom_dedup import (
        bloom_dedup_epoch,
    )

    out = str(tmp_path / "nk_out")
    dups = str(tmp_path / "nk_dups")
    fn = partial(
        bloom_dedup_epoch,
        state_paths=(str(tmp_path / "nk_bloom"), str(tmp_path / "nk_keys")),
        sink=lambda df, _e: df.write.mode("append").parquet(out),
        key_col="k",
        expected_items=100,
        dup_sink=lambda df, _e: df.write.mode("append").parquet(dups),
    )
    batch = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, None)],
        "doc_id long, k string",
    )
    fn(batch, 0)
    got = spark.read.parquet(out)
    assert got.count() == 4  # all three NULL-key rows + 'x'
    assert {r.doc_id for r in got.collect()} == {1, 2, 3, 4}
    assert not (tmp_path / "nk_dups").exists()  # nothing routed as dup
    stored = spark.read.parquet(str(tmp_path / "nk_keys"))
    assert [r.k for r in stored.collect()] == ["x"]  # no NULL stored
    # second batch: NULLs still survive alongside a true duplicate drop
    fn(
        spark.createDataFrame(
            [(11, None), (12, "x")], "doc_id long, k string"
        ),
        1,
    )
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {
        1, 2, 3, 4, 11,
    }
    assert {r.doc_id for r in spark.read.parquet(dups).collect()} == {12}


def test_multi_sink_ledger_rows_from_observe(spark, tmp_path):
    """The ledger's rows column reflects each sink's post-transform
    count, measured by observe() riding the write job itself (no
    second count job re-running the transform)."""
    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        write_epoch,
    )

    ledger = str(tmp_path / "lr_ledger")
    write_epoch(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "id long, g string"
        ),
        sinks={
            "all": SinkSpec(str(tmp_path / "lr_all")),
            "only_a": SinkSpec(
                str(tmp_path / "lr_a"),
                transform=lambda df: df.where("g = 'a'"),
            ),
        },
        ledger_path=ledger,
        epoch_id=0,
    )
    rows = {
        r.sink: r.rows for r in spark.read.parquet(ledger).collect()
    }
    assert rows == {"all": 3, "only_a": 2}


def test_multi_sink_read_committed_tolerates_missing_and_empty(
    spark, tmp_path
):
    """read_committed on a sink path that was never written (or whose
    only ledgered epochs wrote zero rows, leaving no parquet footer)
    returns an empty frame instead of raising."""
    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        read_committed,
        write_epoch,
    )

    ledger = str(tmp_path / "mt_ledger")
    missing = str(tmp_path / "mt_never_written")
    assert (
        read_committed(spark, missing, ledger, "ghost").count() == 0
    )
    # zero-row epoch: ledger row exists (rows=0), data dir has no
    # parquet footer to infer a schema from
    empty_path = str(tmp_path / "mt_empty")
    write_epoch(
        spark.createDataFrame([], "id long").where("id < 0"),
        sinks={"e": SinkSpec(empty_path)},
        ledger_path=ledger,
        epoch_id=0,
    )
    led = spark.read.parquet(ledger)
    assert [(r.sink, r.rows) for r in led.collect()] == [("e", 0)]
    assert read_committed(spark, empty_path, ledger, "e").count() == 0


@pytest.mark.slow
def test_multi_sink_forced_rerun_with_empty_input_clears_partition(
    spark, tmp_path
):
    """force=True promises the re-run REPLACES previous output — even
    when the new input (or a sink transform's output) is EMPTY. Dynamic
    partition overwrite alone only rewrites partitions present in the
    incoming data, so the forced path must delete the epoch directory
    AFTER a zero-row write; otherwise stale rows survive while a fresh
    ledger row records rows=0 and read_committed serves the stale
    data."""
    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        read_committed,
        write_epoch,
    )

    ledger = str(tmp_path / "fe_ledger")
    out = str(tmp_path / "fe_out")
    write_epoch(
        spark.createDataFrame([(1,), (2,)], "id long"),
        sinks={"s": SinkSpec(out)},
        ledger_path=ledger,
        epoch_id=7,
    )
    assert read_committed(spark, out, ledger, "s").count() == 2
    # deliberate re-run of epoch 7 with corrected (empty) input
    write_epoch(
        spark.createDataFrame([], "id long"),
        sinks={"s": SinkSpec(out)},
        ledger_path=ledger,
        epoch_id=7,
        force=True,
    )
    got = read_committed(spark, out, ledger, "s")
    assert got.count() == 0, "stale epoch rows served after forced re-run"
    # other epochs are untouched by the targeted delete
    write_epoch(
        spark.createDataFrame([(9,)], "id long"),
        sinks={"s": SinkSpec(out)},
        ledger_path=ledger,
        epoch_id=8,
    )
    write_epoch(
        spark.createDataFrame([(10,), (11,), (12,)], "id long"),
        sinks={"s": SinkSpec(out)},
        ledger_path=ledger,
        epoch_id=7,
        force=True,
    )
    assert {r.id for r in read_committed(spark, out, ledger, "s").collect()} == {
        9, 10, 11, 12,
    }


def test_multi_sink_forced_rerun_failure_keeps_prior_epoch(spark, tmp_path):
    """Round-8 advice: a forced re-run that dies mid-transform/write
    must leave the prior committed epoch INTACT (stale-but-consistent,
    retryable) — the old delete-up-front path left a committed-but-
    empty epoch that read_committed silently served."""
    import pytest

    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        read_committed,
        write_epoch,
    )

    ledger = str(tmp_path / "ff_ledger")
    out = str(tmp_path / "ff_out")
    write_epoch(
        spark.createDataFrame([(1,), (2,), (3,)], "id long"),
        sinks={"s": SinkSpec(out)},
        ledger_path=ledger,
        epoch_id=4,
    )

    def boom(df):
        raise RuntimeError("transform died mid-re-run")

    with pytest.raises(RuntimeError, match="died"):
        write_epoch(
            spark.createDataFrame([(9,)], "id long"),
            sinks={"s": SinkSpec(out, transform=boom)},
            ledger_path=ledger,
            epoch_id=4,
            force=True,
        )
    got = read_committed(spark, out, ledger, "s")
    assert {r.id for r in got.collect()} == {1, 2, 3}, (
        "prior epoch lost on failed forced re-run"
    )

    # a write-side failure (not just transform) also keeps the data:
    # the transform output schema is fine but the job fails at action
    # time via a poisoned UDF-free expression -> use raise_error
    from pyspark.sql import functions as F

    def poison(df):
        return df.withColumn("id", F.raise_error(F.lit("job-time failure")))

    with pytest.raises(Exception, match="job-time failure"):
        write_epoch(
            spark.createDataFrame([(9,)], "id long"),
            sinks={"s": SinkSpec(out, transform=poison)},
            ledger_path=ledger,
            epoch_id=4,
            force=True,
        )
    assert {r.id for r in read_committed(spark, out, ledger, "s").collect()} == {
        1, 2, 3,
    }


@pytest.mark.slow
def test_streaming_near_dup_posting_cap_passthrough(spark, tmp_path):
    """posting_cap flows through the foreachBatch wrapper: a viral
    boilerplate band key is dropped (metric emitted), unique near-dups
    still dedup."""
    from lakehouse_ingestion_spark.streaming.near_dup import (
        near_dup_epoch,
    )

    out, dups, metrics = [], [], []
    fn = partial(
        near_dup_epoch,
        index_paths=(str(tmp_path / "bands"), str(tmp_path / "hashes")),
        threshold=0.3,
        sink=lambda df, e: out.extend(df.collect()),
        dup_sink=lambda df, e: dups.extend(df.collect()),
        num_hashes=8,
        num_bands=4,
        posting_cap=5,
        on_cap_metric=metrics.append,
    )
    boiler = [(i, "shared boilerplate header repeated on every page of site")
              for i in range(12)]
    uniq = [
        (100, "a rare ecology treatise on alpine moss and lichen growth"),
        (101, "a rare ecology treatise on alpine moss and lichen decline"),
    ]
    b1 = spark.createDataFrame(boiler + uniq[:1], "doc_id long, text string")
    b2 = spark.createDataFrame(boiler[:0] + uniq[1:], "doc_id long, text string")
    fn(b1, 0)
    fn(b2, 1)
    # the unique near-dup pair still dedups across batches
    assert any(r["doc_id"] == 101 for r in dups)
    assert any(m.name == "incr_near_dup_capped_keys" and m.value >= 1
               for m in metrics)


def test_streaming_dq_drift_gate(spark):
    """DriftCheck rides the streaming DQ gate unchanged: a mean-shifted
    micro-batch fails fast under FAIL_FAST while an in-profile batch
    flows to the sink."""
    import pytest

    from lakehouse_ingestion_spark.dq.checks import DriftCheck
    from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet, OnFailPolicy
    from lakehouse_ingestion_spark.errors import DataQualityError
    from lakehouse_ingestion_spark.streaming.foreach_batch import dq_epoch

    rules = DQRuleSet([DriftCheck(column="value", ref_mean=100.0, ref_std=5.0)])
    seen = []
    fn = partial(dq_epoch, ruleset=rules, policy=OnFailPolicy.FAIL_FAST,
                 sink=lambda df, e: seen.extend(df.collect()))

    ok = spark.createDataFrame([(1, 99.0), (2, 101.0)], "id long, value double")
    fn(ok, 0)
    assert len(seen) == 2

    shifted = spark.createDataFrame([(3, 498.0), (4, 502.0)], "id long, value double")
    with pytest.raises(DataQualityError, match="drift"):
        fn(shifted, 1)
    assert len(seen) == 2  # nothing leaked past the gate


# ---- sticky leakage-safe split sink (streaming/curation.py) ----

T1 = "the quick brown fox jumps over the lazy dog again and again"
T2 = "completely different material that shares nothing at all here"


def _uniq(i: int) -> str:
    return f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h"


def _pick_seed(spark, fractions, reps, distinct_pairs):
    """A hash_split seed under which the given rep pairs land in
    DIFFERENT splits — makes inheritance assertions discriminate from
    hash-of-rep coincidence, deterministically at runtime."""
    probe_df = spark.createDataFrame([(r,) for r in reps], "rep long")
    for cand in ("split", "s1", "s2", "s3", "s4", "s5", "s6", "s7"):
        m = {
            r["rep"]: r["split"]
            for r in hash_split(probe_df, "rep", fractions, seed=cand).collect()
        }
        if all(m[a] != m[b] for a, b in distinct_pairs):
            return cand, m
    raise AssertionError("no discriminating seed found")


def test_streaming_sticky_inherits_history_when_rep_moves(spark, tmp_path):
    """The r8 ADVICE leakage finding: a later batch introduces a doc
    with a SMALLER id than an assigned cluster's rep (the rep moves).
    The new doc's cluster-mates are all in PRIOR batches, so a
    batch-membership majority sees nothing and would fall through to
    hash-of-new-rep — a different split than its near-duplicates. The
    history-derived majority must inherit the assigned split, and the
    assigned docs' state rows must re-key to the new rep."""
    from lakehouse_ingestion_spark.streaming.curation import (
        sticky_split_epoch,
    )

    fr = {"a": 0.5, "b": 0.5}
    # hash(rep 0) != hash(rep 1): the old-code outcome provably differs
    seed, m = _pick_seed(spark, fr, [0, 1], [(0, 1)])
    state = str(tmp_path / "st")
    out = str(tmp_path / "out")
    fn = partial(
        sticky_split_epoch, state_dir=state, fractions=fr,
        threshold=0.3,
        sink=lambda df, e: df.write.mode("append").parquet(out),
        seed=seed, num_hashes=8, num_bands=4,
    )
    fn(spark.createDataFrame([(1, T1), (2, T1 + " tail")],
                             "doc_id long, text string"), 0)
    r1 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r1[1]["split"] == r1[2]["split"] == m[1]

    # batch 2: ONLY doc 0 — near-dup of doc 1, smaller id, rep moves
    fn(spark.createDataFrame([(0, T1 + " extra")],
                             "doc_id long, text string"), 1)
    r2 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r2[0]["rep"] == 0  # the rep moved
    assert r2[0]["split"] == m[1] != m[0]  # inherited, NOT hash-of-rep-0
    # assigned docs' state rows re-keyed to the new rep, splits intact
    assign = spark.read.parquet(f"{state}/assignments")
    latest = {
        r["doc_id"]: r
        for r in assign.groupBy("doc_id").agg(
            F.max_by("split", "_epoch").alias("split"),
            F.max_by("rep", "_epoch").alias("rep"),
        ).collect()
    }
    assert latest[1]["rep"] == latest[2]["rep"] == 0
    assert latest[1]["split"] == latest[2]["split"] == m[1]


@pytest.mark.slow
def test_streaming_sticky_state_io_is_batch_sized(spark, tmp_path):
    """r8 verdict #2 done-criteria: a batch touching K components
    reads/writes O(K + batch) state rows, not O(corpus). Pinned by the
    per-epoch partition row counts of the label/assignment delta logs:
    a 1-doc batch writes 1-row deltas into a 21-doc corpus, and a
    merge epoch writes exactly (touched members + batch) rows."""
    from lakehouse_ingestion_spark.streaming.curation import (
        current_labels,
        sticky_split_epoch,
    )

    state = str(tmp_path / "st")
    sunk = []
    fn = partial(
        sticky_split_epoch, state_dir=state,
        fractions={"train": 0.5, "test": 0.5}, threshold=0.3,
        sink=lambda df, e: sunk.append(df.collect()),
        num_hashes=8, num_bands=4,
    )
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    fn(mk([(1, T1), (2, T1 + " tail")] + [(i, _uniq(i)) for i in range(3, 11)]), 0)
    fn(mk([(i, _uniq(i)) for i in range(11, 21)]), 1)
    fn(mk([(100, T1 + " extra")]), 2)  # joins cluster {1,2}; rep stays 1
    fn(mk([(0, T1 + " more")]), 3)  # merge + rep move 1 -> 0

    def per_epoch(path):
        return {
            r["_epoch"]: r["n"]
            for r in spark.read.parquet(path)
            .groupBy("_epoch").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    # labels: only the delta ever lands — epoch 1 (no pairs) writes
    # nothing, epoch 2 writes the one new member, the merge epoch
    # writes the 3 relabeled members + the 1 new node
    assert per_epoch(f"{state}/labels") == {0: 2, 2: 1, 3: 4}
    # assignments: batch-sized appends + the merge's 3 re-keyed rows
    assert per_epoch(f"{state}/assignments") == {0: 10, 1: 10, 2: 1, 3: 4}
    # resolved state is coherent: the merged cluster points at rep 0
    lab = {
        r["node"]: r["cluster_id"]
        for r in current_labels(spark.read.parquet(f"{state}/labels")).collect()
    }
    assert lab == {1: 0, 2: 0, 100: 0, 0: 0}
    # and nobody's split moved across the re-keys
    assign = spark.read.parquet(f"{state}/assignments")
    latest = {
        r["doc_id"]: r["split"]
        for r in assign.groupBy("doc_id")
        .agg(F.max_by("split", "_epoch").alias("split")).collect()
    }
    first = {r["doc_id"]: r["split"] for r in sunk[0]}
    assert latest[1] == first[1] and latest[2] == first[2]
    assert latest[0] == latest[100] == first[1]  # inherited


@pytest.mark.slow
def test_sticky_split_sink_legacy_bootstrap_conflict_quarantine(
    spark, tmp_path
):
    """r8 verdict #6 + #3 (sink side): a legacy, non-cluster-aware
    assignment table (flat id/split rows, the shape the batch pipeline
    wrote before r9 and q_sticky_split simulates) bootstraps through
    the SINK path; the first batch that clusters two
    differently-assigned docs lands cluster_conflict rows at
    audit_path, and under conflict_action=quarantine_eval the cluster
    is forced into the first (train) split — which persists, so the
    next batch's member inherits train and the conflict melts."""
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    state = str(tmp_path / "st")
    out = str(tmp_path / "out")
    audit_p = str(tmp_path / "audit")
    # legacy state: docs 1/2 split apart by a cluster-blind assigner
    spark.createDataFrame(
        [(1, "train"), (2, "test")], "doc_id long, split string"
    ).write.parquet(f"{state}/assignments")
    opts = WriteOptions(
        path=out,
        options={
            "state_dir": state,
            "threshold": 0.3,
            "fractions": {"train": 0.5, "test": 0.5},
            "audit_path": audit_p,
            "conflict_action": "quarantine_eval",
            "num_hashes": 8,
            "num_bands": 4,
        },
    )
    w = get_writer("sticky_split")
    w.write_epoch_batch(
        spark.createDataFrame(
            [(1, T1), (2, T1 + " tail"), (3, T2)],
            "doc_id long, text string",
        ),
        opts,
        0,
    )
    r0 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r0[1]["split"] == r0[2]["split"] == "train"  # quarantined
    audit = spark.read.parquet(audit_p).collect()
    conf = {r["doc_id"] for r in audit if r["reason"] == "cluster_conflict"}
    assert conf == {1, 2}
    # legacy table migrated to the rep-keyed epoch layout
    assign = spark.read.parquet(f"{state}/assignments")
    assert "rep" in assign.columns and "_epoch" in assign.columns

    # next batch: a new member inherits the persisted quarantine split
    w.write_epoch_batch(
        spark.createDataFrame([(11, T1 + " extra")], "doc_id long, text string"),
        opts,
        1,
    )
    r1 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r1[11]["split"] == "train"


@pytest.mark.slow
def test_compact_split_state_folds_and_preserves(spark, tmp_path):
    """Cadence compaction: after folding, each state table is a single
    snapshot partition, resolved contents are unchanged, un-ledgered
    (crashed-partial) partitions are dropped, and the stream keeps
    working on top — new epochs append, ledgered replays still replay."""
    from lakehouse_ingestion_spark.streaming.curation import (
        compact_split_state,
        current_labels,
        sticky_split_epoch,
    )

    state = str(tmp_path / "st")
    out = str(tmp_path / "out")
    fn = partial(
        sticky_split_epoch, state_dir=state,
        fractions={"train": 0.5, "test": 0.5}, threshold=0.3,
        sink=lambda df, e: df.write.mode("append").parquet(out),
        num_hashes=8, num_bands=4,
    )
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    fn(mk([(1, T1), (2, T1 + " tail"), (3, T2)]), 0)
    fn(mk([(11, T1 + " extra")]), 1)
    before_lab = {
        r["node"]: r["cluster_id"]
        for r in current_labels(spark.read.parquet(f"{state}/labels")).collect()
    }
    before_assign = {
        r["doc_id"]: (r["split"], r["rep"])
        for r in spark.read.parquet(f"{state}/assignments")
        .groupBy("doc_id").agg(
            F.max_by("split", "_epoch").alias("split"),
            F.max_by("rep", "_epoch").alias("rep"),
        ).collect()
    }
    # plant a crashed-partial partition the ledger never committed
    spark.createDataFrame(
        [(999, "poison", 999)], "doc_id long, split string, rep long"
    ).withColumn("_epoch", F.lit(99)).write.mode("append").partitionBy(
        "_epoch"
    ).parquet(f"{state}/assignments")

    compact_split_state(spark, state)

    for name in ("labels", "assignments", "hashes", "bands"):
        eps = {
            r["_epoch"]
            for r in spark.read.parquet(f"{state}/{name}")
            .select("_epoch").distinct().collect()
        }
        assert eps == {1}, (name, eps)  # one snapshot at max ledgered epoch
    after_assign = {
        r["doc_id"]: (r["split"], r["rep"])
        for r in spark.read.parquet(f"{state}/assignments").collect()
    }
    assert after_assign == before_assign  # poison row dropped, rest intact
    assert {
        r["node"]: r["cluster_id"]
        for r in spark.read.parquet(f"{state}/labels").collect()
    } == before_lab

    # the stream continues on the snapshot: inheritance + replay intact
    fn(mk([(12, T1 + " more")]), 2)
    r = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r[12]["split"] == r[1]["split"]
    n_out = spark.read.parquet(out).count()
    n_hashes = spark.read.parquet(f"{state}/hashes").count()
    fn(mk([(12, T1 + " more")]), 2)  # ledgered replay re-emits only
    assert spark.read.parquet(out).count() == n_out + 1
    # replay touched no state: same index rows as before
    assert spark.read.parquet(f"{state}/hashes").count() == n_hashes


@pytest.mark.slow
def test_streaming_hot_key_state_matches_census(spark, tmp_path):
    """With posting_cap, the sink maintains running (band, key) totals
    and a pre-filtered hot set instead of re-scanning stored postings
    per trigger. Equivalence pin: the resulting cluster state matches
    batch-by-batch census-mode incremental_near_dup + label folding
    exactly (hot keys drop the same candidates), the hot set is
    populated, and the maintained totals equal a direct recount of the
    stored postings. compact_every folds everything into one snapshot
    partition at the final ledgered epoch."""
    from lakehouse_ingestion_spark.operators.graph import (
        incremental_components,
    )
    from lakehouse_ingestion_spark.operators.incremental_dedup import (
        MinHashIndexFrames,
        incremental_near_dup,
    )
    from lakehouse_ingestion_spark.streaming.curation import (
        current_labels,
        sticky_split_epoch,
    )

    dup = "same boilerplate text repeated in every copy of this form"
    cap = 3
    batches = [
        # 4 exact dupes blow past the cap in epoch 0; 6/7 pair normally
        [(1, dup), (2, dup), (3, dup), (4, dup),
         (6, _uniq(6) + " shared tail words here"),
         (7, _uniq(6) + " shared tail words here also")],
        # more dup copies (keys already hot) + a fresh normal pair
        [(11, dup), (12, dup),
         (16, _uniq(16) + " other shared tail"),
         (17, _uniq(16) + " other shared tail too")],
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

    state = str(tmp_path / "st")
    fn = partial(
        sticky_split_epoch, state_dir=state,
        fractions={"train": 0.5, "test": 0.5}, threshold=0.3,
        sink=lambda df, e: None,
        num_hashes=8, num_bands=4, posting_cap=cap, compact_every=2,
    )
    for e, rows in enumerate(batches):
        fn(mk(rows), e)

    # census-mode reference: same batches, per-trigger postings census
    idx = None
    ref_labels = None
    for rows in batches:
        pairs, d = incremental_near_dup(
            mk(rows), idx, 0.3,
            num_hashes=8, num_bands=4, posting_cap=cap,
        )
        pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
        ref_labels = incremental_components(
            ref_labels, pairs, "doc_a", "doc_b"
        ).localCheckpoint(eager=True)
        if idx is None:
            idx = MinHashIndexFrames(
                bands=d.bands.localCheckpoint(eager=True),
                hashes=d.hashes.localCheckpoint(eager=True),
            )
        else:
            idx = MinHashIndexFrames(
                bands=idx.bands.unionByName(d.bands).localCheckpoint(
                    eager=True
                ),
                hashes=idx.hashes.unionByName(d.hashes).localCheckpoint(
                    eager=True
                ),
            )
    want = {
        r["node"]: r["cluster_id"] for r in ref_labels.collect()
    }
    got = {
        r["node"]: r["cluster_id"]
        for r in current_labels(
            spark.read.parquet(f"{state}/labels")
        ).collect()
    }
    assert got == want
    assert want[7] == 6 and want[17] == 16  # normal pairs still formed
    assert 1 not in want  # hot-capped dupes never clustered

    # hot set populated; totals equal a recount of the stored postings
    hot = spark.read.parquet(f"{state}/hot_keys")
    assert hot.count() > 0
    recount = {
        (r["band"], r["key"]): r["n"]
        for r in spark.read.parquet(f"{state}/bands")
        .groupBy("band", "key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    counts_raw = spark.read.parquet(f"{state}/posting_counts")
    totals = {
        (r["band"], r["key"]): r["n"]
        for r in counts_raw.groupBy("band", "key")
        .agg(F.max_by("n", "_epoch").alias("n")).collect()
    }
    assert totals == recount
    # every hot key really is over the cap
    for r in hot.collect():
        assert recount[(r["band"], r["key"])] > cap

    # compact_every=2 ran after epoch 1: every table is one snapshot
    for name in (
        "labels", "assignments", "hashes", "bands",
        "posting_counts", "hot_keys",
    ):
        eps = {
            r["_epoch"]
            for r in spark.read.parquet(f"{state}/{name}")
            .select("_epoch").distinct().collect()
        }
        assert eps == {1}, (name, eps)


def test_streaming_drop_cluster_replay_stays_dropped(spark, tmp_path):
    """drop_cluster through the sink: conflicted-cluster members are
    withheld from the output but keep deterministic assignments; a
    ledgered replay re-derives the drop from state, so dropped docs are
    never re-emitted."""
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    state = str(tmp_path / "st")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [(1, "train"), (2, "test")], "doc_id long, split string"
    ).write.parquet(f"{state}/assignments")
    opts = WriteOptions(
        path=out,
        options={
            "state_dir": state,
            "threshold": 0.3,
            "fractions": {"train": 0.5, "test": 0.5},
            "conflict_action": "drop_cluster",
            "num_hashes": 8,
            "num_bands": 4,
        },
    )
    w = get_writer("sticky_split")
    batch = spark.createDataFrame(
        [(1, T1), (2, T1 + " tail"), (3, T2)], "doc_id long, text string"
    )
    w.write_epoch_batch(batch, opts, 0)
    emitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert emitted == {3}  # conflicted cluster withheld
    # state still assigns the dropped docs (splits unchanged)
    assign = spark.read.parquet(f"{state}/assignments")
    latest = {
        r["doc_id"]: r["split"]
        for r in assign.groupBy("doc_id")
        .agg(F.max_by("split", "_epoch").alias("split")).collect()
    }
    assert latest[1] == "train" and latest[2] == "test" and 3 in latest

    w.write_epoch_batch(batch, opts, 0)  # ledgered replay
    rows = spark.read.parquet(out).collect()
    assert {r["doc_id"] for r in rows} == {3}  # still withheld
    assert len(rows) == 2  # re-emitted once more (append sink)
