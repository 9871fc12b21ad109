import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.operators import (
    add_audit_columns,
    cdc_apply,
    cdc_latest,
    dedup_exact,
    dedup_latest_by_key,
    enrich,
    scd1_apply,
    scd2_from_history,
    upsert,
)
from lakehouse_ingestion_spark.operators.cdc import cdc_apply_incremental
from lakehouse_ingestion_spark.operators.enrich import Enrichment
from lakehouse_ingestion_spark.operators.gold import AggSpec, aggregate, rollup


def test_audit_columns(spark):
    df = spark.createDataFrame([(1,)], "id long")
    out = add_audit_columns(
        df, "test-src", ingestion_time=F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    row = out.collect()[0]
    assert row._source_system == "test-src"
    assert str(row._ingestion_time).startswith("2024-01-01")


def test_dedup_exact(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "id long, v string")
    assert dedup_exact(df).count() == 2
    assert dedup_exact(df, ["id"]).count() == 2


def test_dedup_latest_by_key(spark):
    df = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")],
        "id long, ts long, v string",
    )
    out = dedup_latest_by_key(df, ["id"], [F.col("ts").desc()])
    got = {r.id: r.v for r in out.collect()}
    assert got == {1: "new", 2: "only"}


def test_cdc_latest_and_apply(spark):
    events = spark.createDataFrame(
        [
            (1, 100, "c", "v1"),
            (1, 200, "u", "v2"),
            (2, 100, "c", "x1"),
            (2, 300, "d", None),
            (3, 50, "u", "y1"),
        ],
        "id long, ts long, op string, payload string",
    )
    latest = cdc_latest(events, ["id"], ["ts"])
    assert {r.id: r.op for r in latest.collect()} == {1: "u", 2: "d", 3: "u"}
    state = cdc_apply(events, ["id"], ["ts"])
    got = {r.id: r.payload for r in state.collect()}
    assert got == {1: "v2", 3: "y1"}  # id=2 deleted


def test_cdc_apply_idempotent_replay(spark):
    events = spark.createDataFrame(
        [(1, 100, "c", "v1"), (1, 200, "u", "v2")],
        "id long, ts long, op string, payload string",
    )
    replayed = events.unionByName(events)  # duplicate delivery
    state = cdc_apply(replayed, ["id"], [F.col("ts").desc()])
    assert state.count() == 1
    assert state.collect()[0].payload == "v2"


def test_cdc_apply_incremental_matches_full(spark):
    rows = [
        (1, 100, "c", "a1"),
        (1, 150, "u", "a2"),
        (2, 120, "c", "b1"),
        (2, 400, "d", None),
        (3, 500, "c", "c1"),
    ]
    events = spark.createDataFrame(rows, "id long, ts long, op string, payload string")
    full = cdc_apply(events, ["id"], [F.col("ts").desc()])
    snap = cdc_apply(
        events.filter(F.col("ts") < 300), ["id"], [F.col("ts").desc()]
    ).drop("op")
    batch = events.filter(F.col("ts") >= 300)
    inc = cdc_apply_incremental(snap, batch, ["id"], ["ts"])
    assert sorted((r.id, r.payload) for r in inc.collect()) == sorted(
        (r.id, r.payload) for r in full.drop("op").collect()
    )


def test_scd2_from_history(spark):
    df = spark.createDataFrame(
        [
            (1, 100, "bronze"),
            (1, 200, "bronze"),  # unchanged -> collapsed
            (1, 300, "silver"),
            (2, 100, "gold"),
        ],
        "id long, ts long, tier string",
    )
    out = scd2_from_history(df, ["id"], "ts", ["tier"]).collect()
    rows = {(r.id, r.tier): (r.valid_from, r.valid_to, r.is_current) for r in out}
    assert len(out) == 3
    assert rows[(1, "bronze")] == (100, 300, False)
    assert rows[(1, "silver")] == (300, None, True)
    assert rows[(2, "gold")] == (100, None, True)


def test_scd1_apply(spark):
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    out = {r.id: r.v for r in scd1_apply(dim, updates, ["id"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c"}


def test_upsert_with_delete(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    source = spark.createDataFrame([(2, "B"), (3, "DEL"), (4, "d")], "id long, v string")
    out = upsert(target, source, ["id"], delete_condition=F.col("v") == "DEL")
    got = {r.id: r.v for r in out.collect()}
    assert got == {1: "a", 2: "B", 4: "d"}


def test_enrich_broadcast_join(spark):
    fact = spark.createDataFrame([(1, 10), (2, 20), (3, 99)], "id long, dim_id long")
    dim = spark.createDataFrame([(10, "x"), (20, "y")], "d_id long, label string")
    out = enrich(fact, Enrichment(dim=dim, on=[("dim_id", "d_id")], select=["label"]))
    got = {r.id: r.label for r in out.collect()}
    assert got == {1: "x", 2: "y", 3: None}
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_aggregate_and_rollup(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)], "g string, h string, v double"
    )
    agg = aggregate(df, ["g"], [AggSpec("sum", "v", "total")])
    assert {r.g: r.total for r in agg.collect()} == {"a": 3.0, "b": 3.0}
    ru = rollup(df, ["g", "h"], [AggSpec("count", "*", "n")])
    # 3 leaf + 2 subtotal + 1 grand total
    assert ru.count() == 6


def test_hash_split_deterministic_and_stable(spark):
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["k"]: r["split"] for r in hash_split(df, "k", fr).collect()}
    b = {r["k"]: r["split"] for r in hash_split(df, "k", fr).collect()}
    assert a == b  # same keys always land in the same split
    # roughly proportional (hash-uniform, 2000 keys)
    from collections import Counter

    c = Counter(a.values())
    assert 0.7 < c["train"] / 2000 < 0.9
    assert c["train"] + c["val"] + c["test"] == 2000
    # growth stability: assignments of existing keys never change when
    # the corpus doubles
    grown = spark.range(0, 4000).withColumnRenamed("id", "k")
    g = {r["k"]: r["split"] for r in hash_split(grown, "k", fr).collect()}
    assert all(g[k] == v for k, v in a.items())
    # a different seed decorrelates
    s2 = {r["k"]: r["split"] for r in hash_split(df, "k", fr, seed="x").collect()}
    assert s2 != a

    import pytest

    with pytest.raises(ConfigError):
        hash_split(df, "k", {"a": 0.5, "b": 0.6})

    kept = set(r["k"] for r in hash_sample(df, "k", 0.3).collect())
    kept_grown = set(r["k"] for r in hash_sample(grown, "k", 0.3).collect())
    assert kept <= kept_grown  # kept keys stay kept as data grows
    assert 0.2 < len(kept) / 2000 < 0.4


def test_stratified_sample_independent_strata(spark):
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.operators.sampling import stratified_sample

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("s")
    )
    base = stratified_sample(df, "s", {"0": 0.2, "1": 1.0}, "k",
                             default_fraction=0.5)
    rows = {r["k"] for r in base.collect()}
    per = {
        r["s"]: r["n"]
        for r in base.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per["1"] == 1000            # rate 1.0 keeps every row
    assert 100 < per["0"] < 300        # ~0.2 of 1000
    assert 400 < per["2"] < 600        # default 0.5
    # changing one stratum's rate must not perturb another's sample
    changed = stratified_sample(df, "s", {"0": 0.9, "1": 1.0}, "k",
                                default_fraction=0.5)
    changed_s2 = {r["k"] for r in changed.filter(F.col("s") == "2").collect()}
    assert changed_s2 == {k for k in rows if k % 3 == 2}


def test_sampling_null_keys_fail_loudly(spark):
    import pytest
    from pyspark.errors import PySparkException

    from lakehouse_ingestion_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "k long, v string"
    )
    with pytest.raises(PySparkException, match="NULL"):
        hash_split(df, "k", {"train": 0.5, "test": 0.5}).collect()
    with pytest.raises(PySparkException, match="NULL"):
        hash_sample(df, "k", 0.5).collect()


def test_connected_components_chain_and_clusters(spark):
    import pytest

    from lakehouse_ingestion_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    # two components: a 4-chain (1-2-3-4, where 1-4 never pair directly)
    # and a triangle (10,11,12); direction of input pairs is arbitrary
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (12, 10), (11, 12)],
        "doc_a long, doc_b long",
    )
    cc = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    stats = {
        r["cluster_id"]: (r["n_members"], r["members_sum"])
        for r in dedup_clusters(edges).collect()
    }
    assert stats == {1: (4, 10), 10: (3, 33)}

    # a long chain must refuse to return half-propagated labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, "doc_a", "doc_b", max_iterations=2)
    full = connected_components(chain, "doc_a", "doc_b")
    assert {r["cluster_id"] for r in full.collect()} == {0}


def test_connected_components_null_edge_raises(spark):
    import pytest

    from lakehouse_ingestion_spark.operators.graph import connected_components
    from pyspark.errors import PySparkException

    edges = spark.createDataFrame(
        [(1, 2), (3, None)], "doc_a long, doc_b long"
    )
    with pytest.raises(PySparkException, match="must not be NULL"):
        connected_components(edges, "doc_a", "doc_b").collect()


def test_ensure_parallelism_estimates_and_fans_out(spark, tmp_path):
    from lakehouse_ingestion_spark.util import (
        _byte_string,
        _estimated_scan_partitions,
        ensure_parallelism,
    )

    assert _byte_string("128m") == 128 << 20
    assert _byte_string("134217728b") == 134217728
    assert _byte_string("1g") == 1 << 30
    assert _byte_string("garbage") == 134217728

    p = str(tmp_path / "one")
    spark.range(0, 1000, 1, 1).write.parquet(p)
    df = spark.read.parquet(p)
    assert _estimated_scan_partitions(df) == 1
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    # non-file frames fall back to the exact probe (and stay untouched
    # when already wide enough)
    wide = spark.range(0, 64, 1, 64)
    assert ensure_parallelism(wide).rdd.getNumPartitions() == 64


def _union_find_labels(edges):
    """Driver-side union-find: node -> minimum node id of its component,
    the labeling connected_components must reproduce."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    """Labels must equal a driver-side union-find's — random graphs,
    cliques, and chains."""
    import numpy as np

    from lakehouse_ingestion_spark.operators.graph import connected_components

    rng = np.random.default_rng(5)
    pairs = set()
    # 3 random blobs + one clique + one chain, node spaces disjoint
    for base in (0, 100, 200):
        nodes = list(range(base, base + 30))
        for _ in range(25):
            a, b = rng.choice(nodes, 2, replace=False)
            pairs.add((int(a), int(b)))
    pairs |= {(300 + i, 300 + j) for i in range(6) for j in range(i + 1, 6)}
    pairs |= {(400 + i, 400 + i + 1) for i in range(15)}
    edges = spark.createDataFrame(
        sorted(pairs), "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    assert got == _union_find_labels(pairs)


def test_incremental_components_equals_full_recompute(spark):
    """Folding edge batches through incremental_components must land on
    the same labels as one connected_components run over the union —
    random graphs split into 3 arbitrary batches, including batches
    that MERGE previously separate components and batches that only add
    members or only touch existing clusters. Self-loops of fresh nodes
    label those nodes as their own clusters, also in a batch holding
    nothing else."""
    import numpy as np

    from lakehouse_ingestion_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    rng = np.random.default_rng(11)
    pairs = set()
    for base in (0, 100, 200):
        nodes = list(range(base, base + 30))
        for _ in range(25):
            a, b = rng.choice(nodes, 2, replace=False)
            pairs.add((int(a), int(b)))
    # a chain whose halves arrive in different batches (forced merge)
    pairs |= {(300 + i, 300 + i + 1) for i in range(12)}
    # self-loops of fresh nodes: one inside a random batch, one alone
    pairs |= {(500, 500), (501, 501)}
    all_pairs = sorted(pairs - {(501, 501)})
    rng.shuffle(all_pairs)
    thirds = [all_pairs[i::3] for i in range(3)]
    labels = None
    for batch in thirds + [[(501, 501)]]:
        edges = spark.createDataFrame(batch, "doc_a long, doc_b long")
        labels = incremental_components(labels, edges, "doc_a", "doc_b")
        # keep the state bounded like a real caller would (and pin it:
        # the next increment reads it twice)
        labels = labels.localCheckpoint(eager=True)
    got = {r["node"]: r["cluster_id"] for r in labels.collect()}
    want = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            spark.createDataFrame(sorted(pairs), "doc_a long, doc_b long"),
            "doc_a",
            "doc_b",
        ).collect()
    }
    assert got == want


def test_incremental_components_intra_cluster_batch_is_noop(spark):
    """A batch whose edges all fall inside existing clusters leaves the
    label table unchanged (the contracted graph is empty — no CC rounds
    run at all)."""
    from lakehouse_ingestion_spark.operators.graph import (
        incremental_components,
    )

    first = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    labels = incremental_components(None, first, "doc_a", "doc_b")
    # a self-loop of a KNOWN node is intra-cluster too
    redundant = spark.createDataFrame(
        [(1, 3), (3, 2), (11, 10), (2, 2)], "doc_a long, doc_b long"
    )
    same = incremental_components(labels, redundant, "doc_a", "doc_b")
    assert same is labels  # the no-op fast path returns the input state
    import pytest

    with pytest.raises(ValueError, match="labels frame lacks"):
        incremental_components(labels.drop("cluster_id"), redundant, "doc_a", "doc_b")


def test_connected_components_jump_survives_long_chain(spark):
    """A 200-link chain — 8x the default round budget under plain
    propagation (rounds = diameter) — converges inside it under pointer
    jumping (rounds ~ log diameter)."""
    from lakehouse_ingestion_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    got = connected_components(chain, "doc_a", "doc_b", max_iterations=25)
    assert {r["cluster_id"] for r in got.collect()} == {0}


def test_dedup_by_content_hash_fns(spark):
    """All three hash_fn choices agree on survivors (min-id per
    normalized content), and the winner is deterministic."""
    from lakehouse_ingestion_spark.operators.dedup import dedup_by_content

    df = spark.createDataFrame(
        [
            (3, "Hello   World"),
            (1, "hello world"),   # same normalized content, lower id wins
            (2, "something else"),
            (4, ""),
            (5, "   "),           # normalizes equal to ""
        ],
        "doc_id long, text string",
    )
    for fn in ("xxhash64", "md5", "rolling"):
        got = {r.doc_id for r in dedup_by_content(df, hash_fn=fn).collect()}
        assert got == {1, 2, 4}, fn

    with_fp = dedup_by_content(df, keep_fingerprint=True)
    assert "fingerprint" in with_fp.columns
    assert with_fp.filter(F.col("fingerprint").isNull()).count() == 0

    import pytest

    with pytest.raises(ValueError, match="hash_fn"):
        dedup_by_content(df, hash_fn="sha999")


def test_dedup_by_content_partial_agg_plan(spark):
    """The min_by form must partial-aggregate (two HashAggregate levels
    around one exchange) — the property that keeps a corpus-hot
    fingerprint off a single reducer."""
    from lakehouse_ingestion_spark.operators.dedup import dedup_by_content

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    plan = dedup_by_content(df)._jdf.queryExecution().executedPlan().toString()
    # struct-valued min_by plans as SortAggregate; the partial level
    # (map-side combine before the exchange) is what matters
    assert "partial_min_by" in plan
    assert plan.count("Aggregate") >= 2


def test_release_local_checkpoint(spark):
    """Blocks free immediately; released frames fail loudly (lineage is
    gone — fail-safe, never silent recompute); plain frames no-op."""
    from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    df = spark.range(100).selectExpr("id", "id * 2 as v").localCheckpoint()
    df.count()
    assert sc._jsc.getPersistentRDDs().size() == before + 1
    assert release_local_checkpoint(df) == 1
    assert sc._jsc.getPersistentRDDs().size() == before

    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError):
        df.count()

    # derived frames release through projections; non-checkpointed no-op
    d2 = spark.range(10).localCheckpoint().selectExpr("id + 1 as j")
    assert release_local_checkpoint(d2) == 1
    assert release_local_checkpoint(spark.range(5)) == 0


def test_connected_components_releases_round_blocks(spark):
    """The CC loops free round N-1's checkpoint when round N lands:
    persistent RDD count must not grow with iteration count."""
    from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint
    from lakehouse_ingestion_spark.operators.graph import connected_components

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    # a 60-chain needs many jump rounds — without per-round release the
    # persistent map would hold one RDD per round
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    got = connected_components(chain, "doc_a", "doc_b", max_iterations=30)
    assert {r["cluster_id"] for r in got.collect()} == {0}
    after_rdds = sc._jsc.getPersistentRDDs().size()
    # only the final round's label frame (returned) may remain pinned
    assert after_rdds <= before + 1
    release_local_checkpoint(got)
    assert sc._jsc.getPersistentRDDs().size() <= before


@pytest.mark.slow
def test_cc_deferred_hop_matches_bruteforce_labels(spark):
    """The r12 round shape (join-free first round, tagged-self-row
    aggregation, hop deferred past the warmup) must land on the same
    min-label fixpoint as a driver-side union-find on assorted graph
    shapes — including one deep enough that the deferred hop is what
    converges it."""
    from lakehouse_ingestion_spark.operators.graph import connected_components

    edges = (
        [(i, i + 1) for i in range(40)]  # deep chain: the hop converges it
        + [(100, 101), (101, 102), (100, 102)]  # triangle
        + [(200, 200)]  # self-loop-only node
        + [(300, 301)]  # single edge
    )
    want = _union_find_labels(edges)

    df = spark.createDataFrame(edges, "a long, b long")
    # the hop engages after the 2-round warmup, so the 40-chain must
    # converge within the default 25 steps
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(df, "a", "b").collect()
    }
    assert got == want


def test_cc_fused_first_action_budget_counts_steps(spark):
    """The fused first action (steps 1+2 in one checkpoint+count) must
    keep ``max_iterations`` a budget on STEPS: a star needs 2 steps
    (1 effective + 1 detection) — it converges with max_iterations=2 and
    RAISES with max_iterations=1, exactly like the unfused shape. Input
    self-loop edges must be absorbed by the self-loop view (not create
    phantom labels)."""
    from lakehouse_ingestion_spark.operators.graph import connected_components

    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (7, 7)], "a long, b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            star, "a", "b", max_iterations=2
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7}
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(star, "a", "b", max_iterations=1)


def test_cc_single_checkpoint_rdd_per_round_released(spark):
    """One lazy checkpoint per round, previous round released: after the
    final collect + explicit release, no label RDD stays pinned."""
    from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint
    from lakehouse_ingestion_spark.operators.graph import connected_components

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a long, b long"
    )
    got = connected_components(chain, "a", "b")
    assert {r["cluster_id"] for r in got.collect()} == {0}
    release_local_checkpoint(got)
    assert sc._jsc.getPersistentRDDs().size() <= before


def test_profile_table_exact_vs_approx_paths(spark):
    """Exact mode (melted side pass, no Expand) and approx mode agree
    on everything but the distinct estimator; NULL handling matches
    SQL COUNT(DISTINCT) (NULLs excluded, counted in n_null)."""
    from lakehouse_ingestion_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None), (3, "b")],
        "k long, v string",
    )
    ex = {r["col_name"]: r for r in
          profile_table(df, exact_distinct=True).collect()}
    assert ex["k"]["n_rows"] == 4 and ex["k"]["n_distinct"] == 3
    assert ex["v"]["n_distinct"] == 2 and ex["v"]["n_null"] == 1
    assert ex["k"]["min_str"] == "1" and ex["k"]["max_str"] == "3"

    ap = {r["col_name"]: r for r in profile_table(df).collect()}
    for c in ("k", "v"):
        for f in ("n_rows", "n_null", "min_str", "max_str", "avg_len"):
            assert ap[c][f] == ex[c][f], (c, f)
    # tiny input: HLL is exact here too
    assert ap["k"]["n_distinct"] == 3

    # no Expand in the exact plan (the whole point)
    plan = profile_table(df, exact_distinct=True)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Expand" not in plan


def test_dedup_by_priority(spark):
    """Cross-source canonicalization: highest-priority source wins per
    content fingerprint, ties to smallest id, provenance attached."""
    from lakehouse_ingestion_spark.operators.dedup import dedup_by_priority

    df = spark.createDataFrame(
        [
            (1, "same text", "crawl"),
            (2, "same text", "curated"),
            (3, "same text", "crawl"),
            (4, "unique text", "crawl"),
            (5, "other  text", "unknown_src"),
            (6, "other text", "unknown_src"),  # same after normalization
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_by_priority(
            df, {"curated": 10, "crawl": 1}, hash_fn="md5"
        ).collect()
    }
    assert set(out) == {2, 4, 5}
    assert out[2]["source"] == "curated"
    assert out[2]["n_copies"] == 3 and out[2]["n_sources"] == 2
    assert out[4]["n_copies"] == 1
    # unknown sources fall to default_priority; min-id tie-break
    assert out[5]["n_copies"] == 2 and out[5]["n_sources"] == 1

    # higher default than mapped rank flips the winner
    flipped = dedup_by_priority(
        df, {"curated": -5}, default_priority=0, hash_fn="md5"
    )
    winners = {r["doc_id"] for r in flipped.collect()}
    assert 1 in winners and 2 not in winners

    import pytest

    with pytest.raises(ValueError, match="hash_fn"):
        dedup_by_priority(df, {}, hash_fn="nope")

    # provenance=False returns the bare input schema
    bare = dedup_by_priority(df, {"curated": 10}, provenance=False)
    assert bare.columns == ["doc_id", "text", "source"]


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
    including forced merges, a singleton-absorbing batch, and
    self-loops of fresh nodes (beside other edges and alone)."""
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
        [(7, 8), (9, 9)],  # a fresh node's self-loop beside a new pair
        [(11, 11)],  # a batch holding only a fresh node's self-loop
    ]
    log = None
    for e, b in enumerate(batches):
        edges = spark.createDataFrame(b, "src long, dst long")
        cd = incremental_components_delta(log, edges)
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
