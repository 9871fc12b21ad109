"""Round-9 curation tests: history-derived streaming inheritance (the
r8 ADVICE leakage finding), batch-sized state I/O (r8 verdict #2),
legacy bootstrap + conflict policy through the sink (verdict #6/#3),
the incremental-CC delta broadcast gate (verdict #5), and
pipeline-level partial-run stickiness (r8 ADVICE) / conflict
quarantine (verdict #3)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.operators.sampling import hash_split

T1 = "the quick brown fox jumps over the lazy dog again and again"
T2 = "completely different material that shares nothing at all here"


def _doc_config(source_file, out_dir, transforms):
    return {
        "env": "test",
        "jobs": [
            {
                "name": "curate-docs",
                "layer": "silver",
                "source_system": "unit-test",
                "source": {
                    "type": "json",
                    "options": {"path": source_file, "format": "json"},
                },
                "transforms": transforms,
                "target": {
                    "format": "parquet",
                    "options": {"path": out_dir, "mode": "overwrite"},
                },
            }
        ],
    }


@pytest.fixture()
def registry(tmp_path):
    from lakehouse_ingestion_spark.schema_registry import SchemaRegistry

    return SchemaRegistry(tmp_path / "schemas")


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
        sticky_split_foreach_batch,
    )

    fr = {"a": 0.5, "b": 0.5}
    # hash(rep 0) != hash(rep 1): the old-code outcome provably differs
    seed, m = _pick_seed(spark, fr, [0, 1], [(0, 1)])
    state = str(tmp_path / "st")
    out = str(tmp_path / "out")
    fn = sticky_split_foreach_batch(
        state, fr, threshold=0.3,
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
        sticky_split_foreach_batch,
    )

    state = str(tmp_path / "st")
    sunk = []
    fn = sticky_split_foreach_batch(
        state, {"train": 0.5, "test": 0.5}, threshold=0.3,
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


def test_incremental_delta_broadcast_gate_both_directions(
    spark, monkeypatch
):
    """r8 verdict #5: the incremental_components relabel-delta
    broadcast gate, pinned in both directions with a monkeypatched cap
    (BROADCAST_DELTA_MAX_ROWS is a module constant since r9): under
    the cap the join broadcasts even with the session auto-threshold
    off; over it the hint is withheld and the plan degrades to a
    sort-merge join instead of an unbounded broadcast."""
    import lakehouse_ingestion_spark.operators.graph as graph
    from lakehouse_ingestion_spark.plans import audit

    labels = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], "node long, cluster_id long"
    )
    edges = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a_open = audit(graph.incremental_components(labels, edges))
        assert a_open.joins.get("BroadcastHashJoin", 0) >= 1, a_open.summary()

        monkeypatch.setattr(graph, "BROADCAST_DELTA_MAX_ROWS", 0)
        a_closed = audit(graph.incremental_components(labels, edges))
        assert a_closed.joins.get("BroadcastHashJoin", 0) == 0, (
            a_closed.summary()
        )
        assert a_closed.joins.get("SortMergeJoin", 0) >= 1, a_closed.summary()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")


def test_incremental_components_delta_matches_full_recompute(spark):
    """Folding every epoch's label_delta into a latest-wins log yields
    the same labels as one CC over the union of all edge batches —
    including forced merges and a singleton-absorbing batch."""
    from lakehouse_ingestion_spark.operators.graph import (
        connected_components,
        incremental_components_delta,
    )
    from lakehouse_ingestion_spark.streaming.curation import current_labels

    batches = [
        [(1, 2), (3, 4)],
        [(5, 6)],
        [(2, 3), (6, 10)],  # merges {1,2}+{3,4}; extends {5,6}
        [(0, 4)],  # rep of the big component moves to 0
    ]
    log = None
    for e, b in enumerate(batches):
        edges = spark.createDataFrame(b, "src long, dst long")
        cd = incremental_components_delta(log, edges, epoch_col="_epoch")
        delta = cd.label_delta.withColumn("_epoch", F.lit(e))
        log = delta if log is None else log.unionByName(delta)
        log = log.localCheckpoint(eager=True)
    got = {
        r["node"]: r["cluster_id"] for r in current_labels(log).collect()
    }
    all_edges = spark.createDataFrame(
        [p for b in batches for p in b], "src long, dst long"
    )
    want = {
        r["node"]: r["cluster_id"]
        for r in connected_components(all_edges).collect()
    }
    assert got == want


def test_pipeline_sticky_partial_run_keeps_absent_assignments(
    spark, registry, tmp_path
):
    """r8 ADVICE: a partial-corpus sticky run must not discard prior
    assignments of absent docs (union on write), and the new doc must
    inherit from cluster-mates that are only in HISTORY (history-wide
    majority); the audit log APPENDS across runs."""
    from lakehouse_ingestion_spark.config import parse_config
    from lakehouse_ingestion_spark.pipeline import Pipeline

    fr = {"a": 0.5, "b": 0.5}
    # discriminating seed: hash(0) != hash(1) and hash(-1) != hash(1)
    seed, m = _pick_seed(spark, fr, [-1, 0, 1], [(0, 1), (-1, 1)])
    state = str(tmp_path / "assigns")
    audit_p = str(tmp_path / "audit")

    def run(doc_rows, pair_rows, tag):
        src = tmp_path / f"{tag}.jsonl"
        src.write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": "x"}) for d in doc_rows
            )
        )
        pp = str(tmp_path / f"pairs_{tag}")
        spark.createDataFrame(
            pair_rows, "doc_a long, doc_b long"
        ).write.parquet(pp)
        out = str(tmp_path / f"out_{tag}")
        stage = {
            "op": "leakage_safe_split",
            "fractions": fr,
            "pairs_path": pp,
            "assignments_path": state,
            "audit_path": audit_p,
            "seed": seed,
        }
        cfg = parse_config(_doc_config(str(src), out, [stage]), registry)
        Pipeline(spark, cfg, registry=registry).run()
        return {r["doc_id"]: r for r in spark.read.parquet(out).collect()}

    r1 = run([1, 2, 5], [(1, 2)], "r1")
    assert r1[1]["split"] == r1[2]["split"] == m[1]

    # run 2: df contains ONLY doc 0 — its cluster-mates are history-only
    r2 = run([0], [(0, 1)], "r2")
    assert r2[0]["split"] == m[1] != m[0]  # inherited, not hash-of-rep-0
    saved = {
        r["doc_id"]: r["split"] for r in spark.read.parquet(state).collect()
    }
    assert set(saved) == {0, 1, 2, 5}  # absent docs kept
    assert saved[1] == saved[2] == m[1]
    c2 = spark.read.parquet(audit_p).count()
    assert c2 >= 1  # doc 0's inherited row

    # run 3: another partial slice; the audit log grows, never resets
    r3 = run([-1], [(-1, 0)], "r3")
    assert r3[-1]["split"] == m[1]
    assert spark.read.parquet(audit_p).count() > c2
    assert set(
        r["doc_id"] for r in spark.read.parquet(state).collect()
    ) == {-1, 0, 1, 2, 5}


def test_pipeline_conflict_quarantine_and_drop(spark, registry, tmp_path):
    """r8 verdict #3 done-criteria: a merged pre-straddled cluster
    lands train-only under conflict_action=quarantine_eval (and the
    forced split persists); under drop_cluster its members are withheld
    from the output while the state keeps them deterministic."""
    from lakehouse_ingestion_spark.config import parse_config
    from lakehouse_ingestion_spark.pipeline import Pipeline

    def run(action, tag):
        state = str(tmp_path / f"assigns_{tag}")
        spark.createDataFrame(
            [(1, "train"), (2, "test")], "doc_id long, split string"
        ).write.parquet(state)
        src = tmp_path / f"{tag}.jsonl"
        src.write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": "x"}) for d in (1, 2, 3)
            )
        )
        pp = str(tmp_path / f"pairs_{tag}")
        spark.createDataFrame([(1, 2)], "doc_a long, doc_b long").write.parquet(pp)
        out = str(tmp_path / f"out_{tag}")
        stage = {
            "op": "leakage_safe_split",
            "fractions": {"train": 0.5, "test": 0.5},
            "pairs_path": pp,
            "assignments_path": state,
            "audit_path": str(tmp_path / f"audit_{tag}"),
            "conflict_action": action,
        }
        cfg = parse_config(_doc_config(str(src), out, [stage]), registry)
        Pipeline(spark, cfg, registry=registry).run()
        got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        saved = {
            r["doc_id"]: r["split"]
            for r in spark.read.parquet(state).collect()
        }
        aud = spark.read.parquet(str(tmp_path / f"audit_{tag}")).collect()
        return got, saved, aud

    got, saved, aud = run("quarantine_eval", "q")
    assert got[1]["split"] == got[2]["split"] == "train"  # train-only
    assert saved[1] == saved[2] == "train"  # persisted: conflict melts
    assert {r["doc_id"] for r in aud if r["reason"] == "cluster_conflict"} \
        >= {1, 2}

    got, saved, aud = run("drop_cluster", "d")
    assert 1 not in got and 2 not in got  # withheld from output
    assert 3 in got
    assert saved[1] == "train" and saved[2] == "test"  # state deterministic
    assert any(r["reason"] == "cluster_conflict" for r in aud)


@pytest.mark.slow
def test_compact_split_state_folds_and_preserves(spark, tmp_path):
    """Cadence compaction: after folding, each state table is a single
    snapshot partition, resolved contents are unchanged, un-ledgered
    (crashed-partial) partitions are dropped, and the stream keeps
    working on top — new epochs append, ledgered replays still replay."""
    from lakehouse_ingestion_spark.streaming.curation import (
        compact_split_state,
        current_labels,
        sticky_split_foreach_batch,
    )

    state = str(tmp_path / "st")
    out = str(tmp_path / "out")
    fn = sticky_split_foreach_batch(
        state, {"train": 0.5, "test": 0.5}, threshold=0.3,
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
        sticky_split_foreach_batch,
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
    fn = sticky_split_foreach_batch(
        state, {"train": 0.5, "test": 0.5}, threshold=0.3,
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


def test_pipeline_rejects_unknown_conflict_action(spark, registry, tmp_path):
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.operators.split_guard import (
        apply_conflict_policy,
    )

    df = spark.createDataFrame([(1, "a", 1)], "doc_id long, split string, rep long")
    with pytest.raises(ConfigError, match="conflict_action"):
        apply_conflict_policy(df, df, "explode", {"a": 1.0})
