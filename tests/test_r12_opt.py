"""Round-12 optimization pins: each test locks the EQUIVALENCE of an
optimized internal form against its straightforward counterpart, so a
future refactor that changes results (not just speed) fails loudly.
"""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- CC ----
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

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "a long, b long")
    # propagate needs diameter rounds by design — it gets the raised
    # budget; jump (hop engages after the 2-round warmup) and star must
    # converge the 40-chain within the default 25.
    for alg, kw in (
        ("propagate", {"max_iterations": 60}),
        ("jump", {}),
        ("star", {}),
    ):
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                df, "a", "b", algorithm=alg, **kw
            ).collect()
        }
        assert got == want, alg


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
    for alg in ("propagate", "jump"):
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                star, "a", "b", algorithm=alg, max_iterations=2
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7}, alg
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(
                star, "a", "b", algorithm=alg, max_iterations=1
            )


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


# ------------------------------------------------------------- spans ----
def test_duplicated_spans_pin_matches_lazy(spark):
    """pin=True (eager checkpoint + call-scoped shingle cache) returns
    the identical span rows as the lazy default."""
    from lakehouse_ingestion_spark.operators.substr_dedup import (
        duplicated_spans,
    )

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, body + " one two three"),
            (2, body + " four five six"),
            (3, "unique words only here nothing repeats at all today ok"),
        ],
        "doc_id long, text string",
    )
    lazy = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df, k=4).collect()
    }
    pinned = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df, k=4, pin=True).collect()
    }
    assert pinned == lazy and lazy  # non-degenerate: spans exist


# --------------------------------------------------------------- cms ----
def test_cms_vocab_weighted_build_bit_identical(spark):
    """Building the sketch from (token, count) with counts as weights is
    bit-identical to building it from raw occurrences — the algebra the
    optimized cms_topk relies on."""
    from lakehouse_ingestion_spark.operators.cms import cms_build

    toks = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("c",), ("a",), ("b",)], "token string"
    )
    occ = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in cms_build(toks, "token", depth=3, width=8).collect()
    }
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    wtd = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in cms_build(
            vocab, "token", depth=3, width=8, weight_col="n"
        ).collect()
    }
    assert wtd == occ


# ------------------------------------------------------- percentiles ----
def test_robust_scale_fused_percentile_matches_scalar_edges(spark):
    """percentile(col, array(lo, hi)) must interpolate the same edges as
    two scalar percentile() aggregates (the r12 buffer fusion)."""
    rows = [(i % 3, float(v)) for i, v in enumerate([5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 0, 11])]
    df = spark.createDataFrame(rows, "g int, v double")
    fused = (
        df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.05, 0.95))").alias("pq"))
        .select("g", F.col("pq")[0].alias("lo"), F.col("pq")[1].alias("hi"))
    )
    scalar = df.groupBy("g").agg(
        F.expr("percentile(v, 0.05)").alias("lo"),
        F.expr("percentile(v, 0.95)").alias("hi"),
    )
    f = {r["g"]: (r["lo"], r["hi"]) for r in fused.collect()}
    s = {r["g"]: (r["lo"], r["hi"]) for r in scalar.collect()}
    assert f == s


# ---------------------------------------------------- share admission ----
def test_share_admission_single_pass_contracts(spark, tmp_path):
    """The fused-ledger / single-materialization admit_epoch_share keeps
    its contracts: coverage (admitted >= p * seen) after every epoch,
    ledgered-epoch redelivery is a no-op, and negative scores still
    raise before anything is written."""
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    out, led = str(tmp_path / "out"), str(tmp_path / "led")
    batches = [
        [(1, 10.0), (2, 30.0), (3, 20.0)],
        [(4, 40.0), (5, 5.0)],
        [(6, 1.0)],
    ]
    for e, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, score double")
        admit_epoch_share(df, e, out_path=out, ledger_path=led,
                          score_col="score", p=0.5, key_col="doc_id")
        ledger = spark.read.parquet(led).orderBy("epoch").collect()
        assert ledger[-1]["admitted_after"] >= 0.5 * ledger[-1]["seen_after"]

    n_before = spark.read.parquet(out).count()
    # redelivery of a ledgered epoch: no new rows, no new ledger entries
    admit_epoch_share(
        spark.createDataFrame(batches[1], "doc_id long, score double"),
        1, out_path=out, ledger_path=led, score_col="score", p=0.5,
        key_col="doc_id",
    )
    assert spark.read.parquet(out).count() == n_before
    assert spark.read.parquet(led).count() == 3

    with pytest.raises(ConfigError, match="non-negative"):
        admit_epoch_share(
            spark.createDataFrame([(9, -1.0)], "doc_id long, score double"),
            7, out_path=out, ledger_path=led, score_col="score", p=0.5,
            key_col="doc_id",
        )
    assert spark.read.parquet(led).count() == 3  # nothing ledgered
