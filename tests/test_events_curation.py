"""Tests for the round-4 operator batch: exact Jaccard join
(operators/jaccard.py), repetition signals (operators/repetition.py),
funnel/retention (operators/funnel.py), per-group caps
(operators/sampling.group_cap), cluster representatives
(operators/graph.cluster_representatives)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.functions.similarity import ngram_jaccard, shingles
from lakehouse_ingestion_spark.operators.funnel import (
    funnel_counts,
    funnel_stages,
    retention,
)
from lakehouse_ingestion_spark.operators.graph import cluster_representatives
from lakehouse_ingestion_spark.operators.jaccard import jaccard_join
from lakehouse_ingestion_spark.operators.repetition import repetition_signals
from lakehouse_ingestion_spark.operators.sampling import group_cap


# ---------------------------------------------------------------------------
# jaccard_join
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("order", ["hash", "frequency"])
def test_jaccard_join_matches_bruteforce(spark, order):
    """Prefix filtering must be lossless: identical output to the O(n^2)
    all-pairs comparison, for both prefix orders."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    got = sorted(
        map(
            tuple,
            jaccard_join(
                d, "doc_id", "text", n=3, threshold=0.2, order=order
            ).collect(),
        )
    )
    s = d.select(
        "doc_id", F.array_sort(shingles(F.col("text"), 3)).alias("g")
    ).filter(F.size("g") > 0)
    a = s.select(F.col("doc_id").alias("id_a"), F.col("g").alias("ga"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("g").alias("gb"))
    want = sorted(
        map(
            tuple,
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                # raw jaccard since the round-7 rounding audit: the
                # same-integer division is IEEE-exact cross-engine
                ngram_jaccard(F.col("ga"), F.col("gb")).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= 0.2)
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0  # fixture actually contains near-dups


def test_jaccard_join_empty_and_identical(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # identical -> J=1.0
            (3, ""),  # empty: no shingles, no pairs
            (4, "zeta eta theta iota kappa"),  # disjoint
        ],
        "doc_id long, text string",
    )
    rows = jaccard_join(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_jaccard_join_validates_threshold(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        jaccard_join(df, "doc_id", "text", threshold=0.0)
    with pytest.raises(ValueError, match="order"):
        jaccard_join(df, "doc_id", "text", threshold=0.5, order="nope")


# ---------------------------------------------------------------------------
# repetition_signals
# ---------------------------------------------------------------------------

def test_repetition_signals_exact_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # top token 'a' x3
            (2, "x y x y x y"),      # bigrams: 'x y' x3, 'y x' x2
            (3, ""),                 # empty: all zeros
            (4, "unique words only here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(df, "text").collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 4
    assert r1["distinct_ratio"] == 0.5
    assert r1["top_token_frac"] == 0.75
    r2 = out[2]
    # bigrams of 6 tokens = 5; 'x y' occurs 3x -> 0.6; dups = 5-2 = 3 -> 0.6
    assert r2["top_bigram_frac"] == 0.6
    assert r2["dup_bigram_frac"] == 0.6
    r3 = out[3]
    assert r3["n_tokens"] == 0 and r3["top_token_frac"] == 0.0
    r4 = out[4]
    assert r4["distinct_ratio"] == 1.0 and r4["dup_bigram_frac"] == 0.0


def test_repetition_signals_map_only_plan(spark):
    from lakehouse_ingestion_spark.plans import audit

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = audit(repetition_signals(d, "text"))
    assert a.shuffle_exchanges == 0
    assert a.joins == {}
    assert not a.python_in_plan


# ---------------------------------------------------------------------------
# funnel / retention
# ---------------------------------------------------------------------------

def _events(spark, rows):
    from datetime import datetime

    parsed = [
        (u, datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"), e) for u, ts, e in rows
    ]
    return spark.createDataFrame(
        parsed, "user_id long, ts timestamp, event_type string"
    )


def test_funnel_requires_strict_order(spark):
    ev = _events(
        spark,
        [
            # u1 completes view -> click -> purchase in order
            (1, "2024-01-01 10:00:00", "view"),
            (1, "2024-01-01 10:01:00", "click"),
            (1, "2024-01-01 10:02:00", "purchase"),
            # u2 clicks BEFORE viewing: click can't count, stops at view
            (2, "2024-01-01 09:00:00", "click"),
            (2, "2024-01-01 10:00:00", "view"),
            # u3 view+click at the SAME timestamp: not strictly after
            (3, "2024-01-01 10:00:00", "view"),
            (3, "2024-01-01 10:00:00", "click"),
            # u4 never views
            (4, "2024-01-01 10:00:00", "purchase"),
        ],
    )
    steps = ["view", "click", "purchase"]
    got = {
        r["user"]: r["stage"]
        for r in funnel_stages(ev, "user_id", "ts", "event_type", steps).collect()
    }
    assert got == {1: 3, 2: 1, 3: 1, 4: 0}

    counts = {
        (r["stage"], r["step"]): r["n_users"]
        for r in funnel_counts(ev, "user_id", "ts", "event_type", steps).collect()
    }
    assert counts == {(1, "view"): 3, (2, "click"): 1, (3, "purchase"): 1}


def test_funnel_later_retry_completes(spark):
    """A failed early attempt must not poison a later complete pass."""
    ev = _events(
        spark,
        [
            (1, "2024-01-01 10:00:00", "click"),  # pre-view click ignored
            (1, "2024-01-01 11:00:00", "view"),
            (1, "2024-01-01 12:00:00", "click"),
        ],
    )
    got = funnel_stages(ev, "user_id", "ts", "event_type", ["view", "click"]).collect()
    assert got[0]["stage"] == 2


def test_funnel_empty_steps_raises(spark):
    ev = _events(spark, [(1, "2024-01-01 10:00:00", "view")])
    with pytest.raises(ValueError, match="steps"):
        funnel_stages(ev, "user_id", "ts", "event_type", [])


def test_retention_cohort_offsets(spark):
    ev = _events(
        spark,
        [
            # u1 first active week 0, returns week 1 (and twice in week 0)
            (1, "2024-01-01 10:00:00", "view"),
            (1, "2024-01-02 10:00:00", "view"),
            (1, "2024-01-08 10:00:00", "view"),
            # u2 same cohort week, never returns
            (2, "2024-01-03 10:00:00", "view"),
            # u3 later cohort
            (3, "2024-01-09 10:00:00", "view"),
        ],
    )
    out = retention(ev, "user_id", "ts", period_days=7)
    got = {
        (str(r["cohort_start"]), r["period_offset"]): r["n_users"]
        for r in out.collect()
    }
    # epoch-anchored 7-day buckets: 2024-01-01..2024-01-03 fall in the
    # bucket starting 2023-12-28; 2024-01-08/09 in the one starting 2024-01-04
    assert got[("2023-12-28", 0)] == 2
    assert got[("2023-12-28", 1)] == 1
    assert got[("2024-01-04", 0)] == 1
    assert len(got) == 3


# ---------------------------------------------------------------------------
# group_cap
# ---------------------------------------------------------------------------

def test_group_cap_keeps_best_by_score(spark):
    df = spark.createDataFrame(
        [("d1", 1, 0.9), ("d1", 2, 0.5), ("d1", 3, 0.7), ("d2", 4, 0.1)],
        "domain string, doc_id long, score double",
    )
    out = group_cap(df, "domain", "doc_id", cap=2, order_by="score")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3, 4]  # d1 keeps its two best, d2 untouched


def test_group_cap_hash_fallback_deterministic(spark):
    df = spark.createDataFrame(
        [("d", i) for i in range(20)], "domain string, doc_id long"
    )
    a = sorted(r["doc_id"] for r in group_cap(df, "domain", "doc_id", 5).collect())
    b = sorted(r["doc_id"] for r in group_cap(df, "domain", "doc_id", 5).collect())
    assert a == b and len(a) == 5


def test_group_cap_validates(spark):
    df = spark.createDataFrame([("d", 1)], "domain string, doc_id long")
    with pytest.raises(ConfigError, match="cap"):
        group_cap(df, "domain", "doc_id", 0)


# ---------------------------------------------------------------------------
# cluster_representatives
# ---------------------------------------------------------------------------

def test_cluster_representatives_best_per_component(spark):
    docs = spark.createDataFrame(
        [(1, 0.3), (2, 0.9), (3, 0.5), (4, 0.2), (5, 0.7)],
        "doc_id long, score double",
    )
    # component {1,2,3} via 1-2, 2-3; {4} and {5} singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = {
        r["cluster_id"]: (r["rep_id"], r["rep_score"], r["n_members"])
        for r in cluster_representatives(docs, pairs, "doc_id", "score").collect()
    }
    assert out[1] == (2, 0.9, 3)  # best scorer of the component wins
    assert out[4] == (4, 0.2, 1)  # singletons survive untouched
    assert out[5] == (5, 0.7, 1)
    assert len(out) == 3


def test_cluster_representatives_tie_breaks_min_id(spark):
    docs = spark.createDataFrame(
        [(10, 1.0), (11, 1.0)], "doc_id long, score double"
    )
    pairs = spark.createDataFrame([(10, 11)], "doc_a long, doc_b long")
    rows = cluster_representatives(docs, pairs, "doc_id", "score").collect()
    assert rows[0]["rep_id"] == 10


# ---------------------------------------------------------------------------
# zscore_outliers
# ---------------------------------------------------------------------------

def test_zscore_outliers_flags_extremes(spark):
    from lakehouse_ingestion_spark.operators.anomaly import zscore_outliers

    rows = [("a", float(v)) for v in [10, 10, 10, 10, 10, 10, 10, 10, 10, 100]]
    rows += [("b", 5.0)]  # singleton group: never anomalous
    rows += [("c", 7.0), ("c", 7.0)]  # zero-variance group: never anomalous
    df = spark.createDataFrame(rows, "grp string, v double")
    out = zscore_outliers(df, ["grp"], "v", z=2.0)
    got = [(r["grp"], r["v"]) for r in out.collect()]
    assert got == [("a", 100.0)]
    z = out.collect()[0]["zscore"]
    assert z > 2.0


def test_zscore_outliers_validates_z(spark):
    import pytest as _pytest

    from lakehouse_ingestion_spark.operators.anomaly import zscore_outliers

    df = spark.createDataFrame([("a", 1.0)], "grp string, v double")
    with _pytest.raises(ValueError, match="z must be"):
        zscore_outliers(df, ["grp"], "v", z=0)


# ---------------------------------------------------------------------------
# incremental aggregate maintenance
# ---------------------------------------------------------------------------

def test_incremental_merge_equals_full_recompute(spark):
    from lakehouse_ingestion_spark.operators.gold import AggSpec
    from lakehouse_ingestion_spark.operators.incremental import (
        finalize_aggregate,
        merge_aggregate_state,
        partial_aggregate,
    )

    rows = [("a", float(v)) for v in (1, 2, 3, 4)] + [("b", 10.0), ("b", -5.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    aggs = [
        AggSpec("count", "*", "n"),
        AggSpec("sum", "v", "s"),
        AggSpec("min", "v", "mn"),
        AggSpec("max", "v", "mx"),
    ]
    full = {r["k"]: r for r in partial_aggregate(df, ["k"], aggs).collect()}

    # fold in three uneven deltas, incl. an empty one and a new-key one
    d1 = df.limit(0)
    d2 = df.filter("v <= 2")
    d3 = df.filter("v > 2")
    state = merge_aggregate_state(None, d1, ["k"], aggs)
    state = merge_aggregate_state(state, d2, ["k"], aggs)
    state = merge_aggregate_state(state, d3, ["k"], aggs)
    got = {r["k"]: r for r in state.collect()}
    assert set(got) == set(full)
    for k in full:
        for c in ("n", "s", "mn", "mx"):
            assert got[k][c] == full[k][c], (k, c)

    fin = {
        r["k"]: r["avg"]
        for r in finalize_aggregate(
            state, avg_pairs=[("s", "n", "avg")], round_to=6
        ).collect()
    }
    assert fin["a"] == 2.5 and fin["b"] == 2.5


def test_incremental_rejects_non_mergeable(spark):
    from lakehouse_ingestion_spark.operators.gold import AggSpec
    from lakehouse_ingestion_spark.operators.incremental import partial_aggregate

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError, match="not incrementally mergeable"):
        partial_aggregate(df, ["k"], [AggSpec("avg", "v", "a")])


# ---------------------------------------------------------------------------
# HLL distinct sketches
# ---------------------------------------------------------------------------

def test_sketch_rollup_lossless_union(spark):
    """Rolled-up, directly built and incrementally merged sketches all
    estimate the exact distinct count within HLL error, without double
    counting values shared by the fine groups."""
    from lakehouse_ingestion_spark.operators.sketches import (
        distinct_sketches,
        estimate,
        merge_sketch_state,
        rollup_sketches,
    )

    rows = [("g1", "s1", i) for i in range(200)]
    rows += [("g1", "s2", i) for i in range(100, 400)]  # overlaps s1
    rows += [("g2", "s3", i) for i in range(50)]
    df = spark.createDataFrame(rows, "g string, sub string, v long")

    fine = distinct_sketches(df, ["g", "sub"], "v")
    rolled = estimate(rollup_sketches(fine, ["g"]))
    direct = estimate(distinct_sketches(df, ["g"], "v"))
    got_r = {r["g"]: r["estimate"] for r in rolled.collect()}
    got_d = {r["g"]: r["estimate"] for r in direct.collect()}
    # overlap NOT double counted: g1 exact distinct = 400 (not 500)
    assert abs(got_r["g1"] - 400) <= 400 * 0.05
    assert got_r["g2"] == 50  # small cardinalities are exact in HLL

    # incremental merge vs rebuild
    d1 = df.filter("v < 150")
    d2 = df.filter("v >= 150")
    state = merge_sketch_state(None, distinct_sketches(d1, ["g"], "v"), ["g"])
    state = merge_sketch_state(state, distinct_sketches(d2, ["g"], "v"), ["g"])
    got_m = {r["g"]: r["estimate"] for r in estimate(state).collect()}

    # DataSketches unions are not bit-identical across merge layouts
    # (partition count decides the union order), so the three estimates
    # may differ from each other by a count or two; each must lie within
    # 3 relative standard errors (1.04 / sqrt(2^lgConfigK)) of the exact
    # distinct count
    rse = 1.04 / (2 ** 12) ** 0.5
    exact = {"g1": 400, "g2": 50}
    for got in (got_r, got_d, got_m):
        assert set(got) == set(exact)
        for g, n in exact.items():
            assert abs(got[g] - n) <= 3 * rse * n, (g, got[g])


# ---------------------------------------------------------------------------
# pit_join
# ---------------------------------------------------------------------------

def test_pit_join_picks_version_valid_at_fact_time(spark):
    from datetime import datetime as _dt

    from lakehouse_ingestion_spark.operators.scd import pit_join

    t = lambda s: _dt.strptime(s, "%Y-%m-%d")  # noqa: E731
    dim = spark.createDataFrame(
        [
            (1, "bronze", t("2024-01-01"), t("2024-02-01")),
            (1, "silver", t("2024-02-01"), t("2024-03-01")),
            (1, "gold", t("2024-03-01"), None),  # open version
            (2, "bronze", t("2024-06-01"), None),
        ],
        "cust long, tier string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, t("2024-01-15")),  # bronze
            (101, 1, t("2024-02-01")),  # boundary: valid_from inclusive -> silver
            (102, 1, t("2024-09-01")),  # open version -> gold
            (103, 2, t("2024-01-01")),  # predates first version
        ],
        "fid long, cust long, ts timestamp",
    )
    inner = {
        r["fid"]: r["tier"]
        for r in pit_join(facts, dim, ["cust"], "ts").collect()
    }
    assert inner == {100: "bronze", 101: "silver", 102: "gold"}

    left = {
        r["fid"]: r["tier"]
        for r in pit_join(facts, dim, ["cust"], "ts", how="left").collect()
    }
    assert left[103] is None and len(left) == 4

    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner/left"):
        pit_join(facts, dim, ["cust"], "ts", how="full")


def test_pit_join_at_most_one_match(spark):
    """Non-overlapping SCD2 intervals must yield exactly one row per
    matched fact — no fan-out."""
    from lakehouse_ingestion_spark.operators.scd import (
        pit_join,
        scd2_from_history,
    )

    import __spark_entry__ as em

    e = em._events(spark, "/root/testdata/sf0.001")
    dim = scd2_from_history(
        e, ["user_id"], "ts", attr_columns=["event_type"], tiebreakers=["event_id"]
    ).select("user_id", "event_type", "valid_from", "valid_to")
    facts = e.select("event_id", "user_id", "ts").limit(500)
    joined = pit_join(facts, dim, ["user_id"], "ts")
    assert joined.count() == joined.select("event_id").distinct().count()


def test_funnel_counts_empty_input_all_zero(spark):
    from lakehouse_ingestion_spark.operators.funnel import funnel_counts

    ev = spark.createDataFrame(
        [], "user_id long, ts timestamp, event_type string"
    )
    got = {
        r["step"]: r["n_users"]
        for r in funnel_counts(ev, "user_id", "ts", "event_type", ["a", "b"]).collect()
    }
    assert got == {"a": 0, "b": 0}


def test_retention_drops_null_timestamps(spark):
    from datetime import datetime

    from lakehouse_ingestion_spark.operators.funnel import retention

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (1, None), (2, None)],
        "user_id long, ts timestamp",
    )
    rows = retention(ev, "user_id", "ts", period_days=7).collect()
    # u2 (all-null) contributes nothing; no NULL cohort row appears
    assert len(rows) == 1 and rows[0]["n_users"] == 1
    assert rows[0]["cohort_start"] is not None


def test_edit_join_null_and_empty_texts(spark):
    from lakehouse_ingestion_spark.operators.editdist import edit_distance_join

    df = spark.createDataFrame(
        [(1, "abc"), (2, None), (3, ""), (4, "a"), (5, "abd")],
        "id long, s string",
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["distance"])
        for r in edit_distance_join(df, "id", "s", k=1).collect()
    )
    # null joins nothing; "" pairs with "a" (lev 1) and nothing longer;
    # abc~abd at distance 1
    assert got == [(1, 5, 1), (3, 4, 1)]


def test_funnel_drops_null_timestamps(spark):
    """A null-ts event must not advance the funnel: before the fix a
    stage-0 match with null ts advanced AND left last_ts null, letting
    every later matching event advance regardless of order."""
    from datetime import datetime

    from lakehouse_ingestion_spark.operators.funnel import funnel_stages

    ev = spark.createDataFrame(
        [
            # u1: null-ts view, then a click BEFORE any valid view -> must
            # not reach stage 1 (the null view can't anchor the funnel)
            (1, None, "view"),
            (1, datetime(2024, 1, 1, 10, 0), "click"),
            # u2: the control — valid view then click completes
            (2, datetime(2024, 1, 1, 9, 0), "view"),
            (2, datetime(2024, 1, 1, 10, 0), "click"),
        ],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        r["user"]: r["stage"]
        for r in funnel_stages(ev, "user_id", "ts", "event_type", ["view", "click"]).collect()
    }
    assert got == {1: 0, 2: 2}
