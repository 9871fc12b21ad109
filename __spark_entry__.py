"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pricing-summary query at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data-pipeline extensions); each callable (spark, sf_dir) -> DF.
``oracle_sql()`` — matching ANSI SQL for DuckDB over the same tables.

Column-name and value conventions (driver hashes sorted-by-name columns):
- every computed column is aliased identically in Spark and SQL;
- floating aggregates are rounded (2 dp for money sums, 6 dp for ratios)
  to absorb summation-order differences between engines;
- timestamps are emitted as formatted strings.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lakehouse_ingestion_spark.dq.checks import (
    NotNullCheck,
    RangeCheck,
    SetMembershipCheck,
    UniqueKeyCheck,
)
from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet
from lakehouse_ingestion_spark.functions.similarity import (
    MERSENNE_P,
    minhash_bands,
    minhash_coeffs,
    minhash_from_hashes,
    minhash_min,
    ngram_jaccard,
    random_hyperplanes,
    shingle_hashes,
    shingles,
    simhash64,
)
from lakehouse_ingestion_spark.functions.text import (
    LANG_MARKERS,
    fingerprint_md5,
    language_id,
    quality_score,
    token_count,
    tokens,
)
from lakehouse_ingestion_spark.functions.timeutil import epoch_micros, epoch_seconds
from lakehouse_ingestion_spark.operators.cdc import cdc_apply, cdc_apply_incremental
from lakehouse_ingestion_spark.operators.dedup import dedup_latest_by_key
from lakehouse_ingestion_spark.operators.enrich import Enrichment, enrich
from lakehouse_ingestion_spark.operators.gold import AggSpec, aggregate, cube, rollup
from lakehouse_ingestion_spark.operators.merge import upsert
from lakehouse_ingestion_spark.operators.scd import scd2_from_history
from lakehouse_ingestion_spark.util import ensure_parallelism

REPO = Path(__file__).resolve().parent

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"

# shared constants for cross-engine MinHash (k=8 keeps oracle SQL tractable;
# the library default is 64)
MH_K = 8
MH_BANDS = 4
MH_ROWS = 2
MH_COEFFS = minhash_coeffs(MH_K, seed=42)
NEAR_DUP_THRESHOLD = 0.3
QUALITY_STOPWORDS = LANG_MARKERS["en"]
SIMHASH_BITS = 60
COSINE_DUP_THRESHOLD = 0.4
LSH_DIM = 64
LSH_N_PLANES = 8
LSH_PLANES = random_hyperplanes(LSH_DIM, LSH_N_PLANES, seed=7)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events.parquet with a normalized TIMESTAMP ``ts`` column,
    whatever physical flavor the fixture was written with:

    - TIMESTAMP(NANOS): Spark has no nanos type — read ns-as-long and
      convert to a microsecond timestamp (DuckDB truncates ns->us too).
    - plain-microsecond (no isAdjustedToUTC): Spark 4 decodes it as
      TIMESTAMP_NTZ, which rejects ``unix_micros``/``cast("double")`` —
      pin the session tz to UTC and cast to TIMESTAMP so the wall clock
      becomes the same UTC instant DuckDB's naive read produces.

    Either way both engines see identical ordering, epoch values, and
    rendering."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ===========================================================================
# Spark queries
# ===========================================================================

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style Gold aggregate (SURVEY.md D11).

    Money aggregates run in DECIMAL: the fixture money columns are exact
    2-decimal values, so the decimal sums are exact in both engines,
    where a double sum can land on a .xx5 cent boundary differently per
    engine (summation-order ulps) and flip the rounding. Quantities are
    integral doubles — their sums are already exact."""
    l = _t(spark, sf_dir, "lineitem")
    ext = F.col("l_extendedprice").cast("decimal(14,2)")
    disc_f = F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    tax_f = F.lit(1).cast("decimal(4,2)") + F.col("l_tax").cast("decimal(4,2)")
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(ext), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(ext * disc_f), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(ext * disc_f * tax_f), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.sum(ext).cast("double") / n, 6).alias("avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(4,2)")).cast("double") / n,
                6,
            ).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 fingerprint (D5 + text fingerprinting).

    No ensure_parallelism here: lower/regexp/md5 are whole-stage-codegen
    JVM work, and shuffling full text bodies to fan the scan out costs
    3x more than the single-task pass (measured at sf1) — the fan-out
    guard is only for interpreted/Python per-row pipelines."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(fingerprint_md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic latest-per-key dedup (D5): single-window
    formulation (codegen'd sort; measured faster than the max_by-agg
    form on local[32] — the agg form in operators/dedup.py is the
    network-bound-cluster alternative, equality-tested against this)."""
    e = _t(spark, sf_dir, "events")
    out = dedup_latest_by_key(
        e, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.date_format("ts", TS_FMT).alias("ts_str"),
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (D7): events as a change stream keyed by user_id; the
    'error' type acts as the tombstone op."""
    e = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", F.lit("d")).otherwise(F.lit("u"))
    )
    state = cdc_apply(e, ["user_id"], ["ts", "event_id"], op_column="op")
    return state.select(
        "user_id", "event_id", "event_type", F.round("value", 2).alias("value")
    )


def q_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC merge (D6/D7): snapshot from the first 20 days,
    merge the remaining events; must equal the full-history apply."""
    e = _t(spark, sf_dir, "events").withColumn(
        "op", F.when(F.col("event_type") == "error", F.lit("d")).otherwise(F.lit("u"))
    )
    cutoff = F.lit("2024-01-21 00:00:00").cast("timestamp")
    snapshot = cdc_apply(
        e.filter(F.col("ts") < cutoff), ["user_id"], ["ts", "event_id"], op_column="op"
    ).drop("op")
    batch = e.filter(F.col("ts") >= cutoff)
    state = cdc_apply_incremental(
        snapshot, batch, ["user_id"], ["ts", "event_id"], op_column="op"
    )
    return state.select(
        "user_id", "event_id", "event_type", F.round("value", 2).alias("value")
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension rebuilt from history (D8): one window pass, collapse
    unchanged consecutive attribute values."""
    e = _t(spark, sf_dir, "events")
    out = scd2_from_history(
        e, ["user_id"], "ts", attr_columns=["event_type"], tiebreakers=["event_id"]
    )
    return out.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", TS_FMT).alias("valid_from"),
        F.date_format("valid_to", TS_FMT).alias("valid_to"),
        "is_current",
    )


def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/merge semantics (D6) incl. whenMatchedDelete: source rows
    with original status 'F' delete the key."""
    o = _t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    source = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.lit("1-UPDATED").alias("o_orderpriority"),
        )
    )
    merged = upsert(
        target, source, ["o_orderkey"], delete_condition=(F.col("o_orderstatus") == "F")
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority",
    )


def q_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 1 overwrite-in-place (D9) — update-all/insert-all."""
    from lakehouse_ingestion_spark.operators.scd import scd1_apply

    c = _t(spark, sf_dir, "customer")
    dim = c.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    updates = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.lit("UPDATED").alias("c_mktsegment"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        )
    )
    out = scd1_apply(dim, updates, ["c_custkey"])
    return out.select(
        "c_custkey", "c_name", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal")
    )


def q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrichment join chain with broadcast dims (D10)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    out = enrich(
        o,
        Enrichment(dim=c, on=[("o_custkey", "c_custkey")], select=["c_name", "c_nationkey"]),
        Enrichment(dim=n, on=[("c_nationkey", "n_nationkey")], select=["n_name", "n_regionkey"]),
        Enrichment(dim=r, on=[("n_regionkey", "r_regionkey")], select=["r_name"]),
    )
    return out.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "c_name",
        "n_name",
        "r_name",
    )


def q_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold wide-table denormalization (D12): lineitem * part * supplier."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_name", "p_brand"
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    from lakehouse_ingestion_spark.operators.gold import denormalize

    wide = denormalize(l, [(p, ["l_partkey"]), (s, ["l_suppkey"])])
    # keyed on (orderkey, linenumber); project a stable subset
    return wide.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
        "p_name",
        "p_brand",
        "s_name",
    )


def q_gold_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold daily roll-up (D11/D18 derived date column)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("order_date", F.date_format("o_orderdate", "yyyy-MM-dd"))
        .groupBy("order_date", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
    )


def q_gold_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical roll-up with subtotals (D11)."""
    o = _t(spark, sf_dir, "orders")
    return rollup(
        o,
        ["o_orderpriority", "o_orderstatus"],
        [
            AggSpec("count", "*", "n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ],
    )


def q_gold_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube over two dimensions (D11)."""
    e = _t(spark, sf_dir, "events")
    e = e.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    return cube(
        e,
        ["event_date", "event_type"],
        [AggSpec("count", "*", "n_events"), F.round(F.sum("value"), 2).alias("total_value")],
    )


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (window function surface)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rk"
        )
    )


def q_dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused single-pass DQ metrics (A7-A11 + D16) — N checks, ONE scan."""
    e = _t(spark, sf_dir, "events")
    nn = NotNullCheck(column="user_id")
    rg = RangeCheck(column="value", min_value=0.0, max_value=400.0)
    st = SetMembershipCheck(
        column="event_type", allowed_values=["click", "view", "purchase", "signup"]
    )
    uk = UniqueKeyCheck(key_columns=["event_id"])
    rs = DQRuleSet([nn, rg, st, uk])
    m = rs.metrics_df(e)
    # aliases are per-instance (see DQCheck._alias) — ask the checks
    return m.select(
        F.col(f"`{nn._alias('total')}`").alias("total_rows"),
        F.col(f"`{nn._alias('violations')}`").alias("user_id_nulls"),
        F.col(f"`{rg._alias('violations')}`").alias("value_out_of_range"),
        F.col(f"`{st._alias('violations')}`").alias("event_type_invalid"),
        F.col(f"`{uk._alias('distinct')}`").alias("event_id_distinct"),
    )



def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/split_guard):
    near-dup clusters from the verified LSH pairs move as ONE unit —
    every member hashes the cluster REPRESENTATIVE into the same
    interval, so no near-duplicate pair ever straddles a split boundary
    (the train/eval contamination mode plain hash_split permits)."""
    from lakehouse_ingestion_spark.operators.split_guard import (
        leakage_safe_split,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = q_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    out = leakage_safe_split(d, pairs, SPLIT_FRACTIONS, seed="split")
    return out.select("doc_id", "rep", "split")


def q_incr_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components (round 8,
    operators/graph.incremental_components): the verified near-dup
    pair set arrives as two batches (split by endpoint-sum parity, so
    many components need a cross-batch MERGE); batch 2 folds into
    batch 1's persisted labels by contracting new edges onto current
    reps — the iterative CC runs on the batch-sized contracted graph,
    never the corpus. Oracle: one full CC over the union (the operator
    contract is exact equality with a full recompute)."""
    from lakehouse_ingestion_spark.operators.graph import (
        incremental_components,
    )

    # pin: both batches and the state derive from the expensive LSH
    # pipeline / prior labels, each consumed by several plan branches
    pairs = q_near_dup(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint(
        eager=True
    )
    parity = (F.col("doc_a") + F.col("doc_b")) % 2
    lab1 = incremental_components(
        None, pairs.filter(parity == 0), "doc_a", "doc_b"
    ).localCheckpoint(eager=True)
    lab2 = incremental_components(
        lab1, pairs.filter(parity == 1), "doc_a", "doc_b"
    )
    return lab2.select("node", "cluster_id")


def q_sticky_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sticky leakage-safe split (round 8, operators/split_guard
    sticky_split): a simulated legacy epoch assigned every EVEN doc_id
    by plain hash (seed 'legacy' — deliberately not cluster-aware);
    the sticky pass must keep those verbatim, give odd docs in
    assigned clusters the cluster's majority split (ties toward the
    earlier SPLIT_FRACTIONS entry), hash wholly-new clusters by rep,
    and tag the audit reason — cluster_conflict where the legacy
    epoch already straddled a cluster, kept_prev where pure rep
    hashing would have moved an assigned doc, inherited where the
    majority differs from the rep hash."""
    from lakehouse_ingestion_spark.operators.sampling import hash_split
    from lakehouse_ingestion_spark.operators.split_guard import sticky_split

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = q_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    prev = hash_split(
        d.filter(F.col("doc_id") % 2 == 0), "doc_id", SPLIT_FRACTIONS,
        seed="legacy",
    )
    out, audit = sticky_split(
        d, pairs, SPLIT_FRACTIONS, assignments=prev, seed="split"
    )
    return out.join(audit.select("doc_id", "reason"), "doc_id", "left").select(
        "doc_id", "rep", "split", "reason"
    )


def q_split_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conflict policy over the sticky split (round 9,
    operators/split_guard.apply_conflict_policy): same simulated legacy
    scenario as q_sticky_split, but conflict_action=quarantine_eval —
    every member of a cluster whose legacy assignments already straddle
    splits is forced into the FIRST fractions split (train), removing
    the pre-existing leakage from val/test; everyone else keeps the
    sticky outcome. Emits the quarantined flag per doc."""
    from lakehouse_ingestion_spark.operators.sampling import hash_split
    from lakehouse_ingestion_spark.operators.split_guard import (
        apply_conflict_policy,
        sticky_split,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = q_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    prev = hash_split(
        d.filter(F.col("doc_id") % 2 == 0), "doc_id", SPLIT_FRACTIONS,
        seed="legacy",
    )
    out, audit = sticky_split(
        d, pairs, SPLIT_FRACTIONS, assignments=prev, seed="split"
    )
    out = apply_conflict_policy(out, audit, "quarantine_eval", SPLIT_FRACTIONS)
    conflicted = (
        audit.filter(F.col("reason") == "cluster_conflict")
        .select(F.col("rep").alias("__cr"))
        .distinct()
    )
    return (
        out.join(F.broadcast(conflicted), out["rep"] == F.col("__cr"), "left")
        .select(
            "doc_id",
            "rep",
            "split",
            F.col("__cr").isNotNull().alias("quarantined"),
        )
    )


def q_dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DriftCheck end-to-end (D17): profile a reference slice (the
    'view' events), then gate two batches through the check's fused
    single-pass aggregate — a steady batch ('click', PASSes: its mean
    sits ~0.05 sigma from the reference) and a deliberately unit-shifted
    + null-injected batch (value*4+100, 20% nulls — FAILs both the
    mean-drift and null-fraction guards). Floats round(4): ref/batch
    means are fold-order-drifting aggregates (PLANS.md r7 rounding
    audit); null_fraction is an exact integer ratio, emitted raw."""
    from lakehouse_ingestion_spark.dq.checks import DriftCheck
    from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet

    e = _events(spark, sf_dir)
    ref = (
        e.where(F.col("event_type") == "view")
        .agg(F.avg("value").alias("m"), F.stddev_pop("value").alias("s"))
        .first()
    )
    check = DriftCheck(
        column="value",
        ref_mean=float(ref["m"]),
        ref_std=float(ref["s"]),
        max_sigmas=3.0,
        ref_null_fraction=0.0,
        max_null_fraction_delta=0.1,
    )
    steady = e.where(F.col("event_type") == "click")
    drifted = e.where(F.col("event_type") == "purchase").withColumn(
        "value",
        F.when(
            F.col("event_id") % 5 == 0, F.lit(None).cast("double")
        ).otherwise(F.col("value") * 4 + 100.0),
    )
    rows = []
    for label, batch in (("click_steady", steady), ("purchase_drifted", drifted)):
        # ONE fused aggregate row per batch (the DQ contract), evaluated
        # by the same code path the streaming gate uses
        metrics_row = DQRuleSet([check]).metrics_df(batch).first().asDict()
        res = check.evaluate(metrics_row)
        m = res.metrics
        if int(m["total_rows"]) == 0:
            # the oracle's GROUP BY drops empty slices; DriftCheck
            # returns only total_rows for them — skip, don't KeyError
            continue
        # all-null batches carry no batch_mean/mean_delta (the check
        # omits them); mirror the oracle: NULL mean/delta, bound still
        # emitted (it depends only on the reference profile)
        bm = m.get("batch_mean")
        delta = m.get("mean_delta")
        rows.append(
            (
                label,
                int(m["total_rows"]),
                None if bm is None else round(float(bm), 4),
                None if delta is None else round(float(delta), 4),
                round(float(m.get("mean_bound", check.max_sigmas * check.ref_std)), 4),
                float(m["null_fraction"]),
                res.status.value,
            )
        )
    return spark.createDataFrame(
        rows,
        "batch string, total_rows long, batch_mean double, mean_delta double,"
        " mean_bound double, null_fraction double, status string",
    )


def q_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored drift-reference profile (round 8,
    operators/profile.numeric_profile): one fused aggregate pass over
    events emitting per-column moments — the parquet-persisted half of
    the profile -> config-driven DriftCheck loop (pipeline
    ``profile_path``). A 20%-null projection of value exercises the
    null_fraction side. mean/std round(4) in both engines (fold-order-
    drifting aggregates, same rule as dq_drift); null_fraction is an
    exact integer ratio, emitted raw."""
    from lakehouse_ingestion_spark.operators.profile import numeric_profile

    e = _events(spark, sf_dir).select(
        "event_id",
        "value",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value_gappy"),
    )
    p = numeric_profile(e, ["event_id", "value", "value_gappy"])
    return p.select(
        "col_name",
        "n_rows",
        "n_null",
        "null_fraction",
        F.round("mean", 4).alias("mean"),
        F.round("std", 4).alias("std"),
    )


def q_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine routing (D14): bad rows tagged with the checks they
    violate (comma-joined for cross-engine comparison)."""
    e = _t(spark, sf_dir, "events")
    rs = DQRuleSet(
        [
            RangeCheck(column="value", min_value=0.0, max_value=400.0),
            SetMembershipCheck(
                column="event_type",
                allowed_values=["click", "view", "purchase", "signup"],
            ),
        ]
    )
    good, bad = rs.split(e)
    return bad.select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.array_join("_dq_failures", ",").alias("dq_failures"),
    )


def q_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity DQ (D15): orphan fraction of orders->customer."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c.select(F.col("c_custkey").alias("__pk"))),
        on=F.col("o_custkey") == F.col("__pk"),
        how="left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col("__pk").isNull().cast("long")).alias("orphans"),
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis (token counting + quality scoring), pure SQL exprs."""
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        quality_score("text", stopwords=QUALITY_STOPWORDS).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID heuristic."""
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", language_id("text").alias("pred_lang"))


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over word-3-gram shingles; md5-based hashing is
    bit-identical across Spark and DuckDB. Staged projections keep the
    shingle-hash array materialized once (HOFs are interpreted; Catalyst
    won't CSE across sibling expressions)."""
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    hs = d.select("doc_id", shingle_hashes(shingles("text", 3, "word")).alias("hs"))
    return hs.select(
        "doc_id",
        *[
            minhash_min(F.col("hs"), a, b).alias(f"m{i}")
            for i, (a, b) in enumerate(MH_COEFFS)
        ],
    )


def q_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (band/bucket join) verified by
    n-gram Jaccard — the scale path for fuzzy dedup."""
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    # persist the HASHED shingle sets: they are read 3x (both sides of
    # the LSH self-join + the Jaccard verification) and recomputing the
    # interpreted HOF pipeline dominates otherwise. Verification runs on
    # the 60-bit hashes, not the shingle strings — intersect/union on
    # longs ships ~4x fewer bytes through the two verify joins and
    # compares integers; identical Jaccard up to md5 collisions
    # (~2^-31/pair), and the DuckDB oracle hashes with the same md5, so
    # the engines agree exactly even when a collision happens.
    sh = d.select("doc_id", shingles("text", 3, "word").alias("sh"))
    hs = sh.select(
        "doc_id", F.array_distinct(shingle_hashes(F.col("sh"))).alias("hs")
    ).persist()
    sig = hs.select(
        "doc_id", minhash_from_hashes(F.col("hs"), MH_K, seed=42).alias("sig")
    )
    bands = (
        sig.select(
            "doc_id", F.explode(minhash_bands(F.col("sig"), MH_BANDS, MH_ROWS)).alias("b")
        )
        .select("doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
        .persist()
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, on=["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    hs_a = hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    hs_b = hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    verified = (
        cand.join(hs_a, "doc_a")
        .join(hs_b, "doc_b")
        # raw jaccard (integer-ratio -> IEEE-exact both engines); round()
        # can tie at odd/2^7 midpoints where Spark/DuckDB disagree
        .withColumn("jaccard", ngram_jaccard(F.col("hs_a"), F.col("hs_b")))
        .filter(F.col("jaccard") >= NEAR_DUP_THRESHOLD)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the verified LSH pairs from q_near_dup resolved
    into transitive groups by iterative min-label connected components
    (operators/graph.py), each summarized as (canonical doc = min id,
    member count, membership checksum). Pairs alone under-dedup: A~B and
    B~C must collapse even when A-C never shared a bucket."""
    from lakehouse_ingestion_spark.operators.graph import dedup_clusters

    pairs = q_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_clusters(pairs)


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search over embeddings (the
    exact baseline; LSH-bucketed variant is the scale path). Scoring is
    the broadcast-queries + per-partition BLAS matmul operator — one
    Arrow batch per matmul, local top-k before any shuffle — replacing
    the round-1 crossJoin + interpreted higher-order-function dot
    (77x DuckDB; the worst compute ratio in BASELINE.md).

    No ensure_parallelism here: the matmul path wants big Arrow batches,
    not a pre-shuffle — at scale the corpus arrives pre-split by
    maxPartitionBytes, and locally one batch IS the fastest shape."""
    import pyarrow.parquet as pq

    from lakehouse_ingestion_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # the 5 query vectors are a driver-side request: read them with a
    # pyarrow row-group-pushdown scan instead of a dedicated Spark job
    qpd = pq.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", 5)],
    ).to_pandas()
    qpd["v"] = qpd["embedding"]
    return brute_force_topk(
        corpus=emb.filter(F.col("vec_id") >= 5),
        queries=qpd,
        k=10,
    ).select("q_id", "neighbor_id", "cos_sim", "rk")


def q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: multi-join + filter + agg + top-k by revenue."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp_ntz")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp_ntz")
    )
    # SIZE-GATED broadcast on c (plans/hints.py): customer scales with
    # SF so an unconditional hint would bypass the 8 GB limit at
    # cluster scale, but the filter's static estimate is conservative
    # (no column stats) so the planner won't broadcast a mid-sized
    # segment slice on its own. Gate on the accurate scan estimate:
    # hint under the cap, shuffle join beyond it.
    from lakehouse_ingestion_spark.plans.hints import (
        broadcast_if_under,
        scan_estimate_bytes,
    )

    c = broadcast_if_under(c, scan_estimate_bytes(c))
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
    )
    # decimal-exact revenue: see q_pricing_summary docstring
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: six-table join, nation-local supplier revenue."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    # decimal-exact revenue: see q_pricing_summary docstring
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue")
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT / EXCEPT over customer activity years."""
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = y95.intersect(y96).select(F.lit("both").alias("bucket"), "o_custkey")
    only95 = y95.exceptAll(y96).select(F.lit("only_1995").alias("bucket"), "o_custkey")
    only96 = y96.exceptAll(y95).select(F.lit("only_1996").alias("bucket"), "o_custkey")
    return both.unionByName(only95).unionByName(only96)


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: total sort with deterministic tiebreak + limit."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface: math / string / date functions with
    identical cross-engine semantics."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("abs_diff"),
        F.round(F.sqrt("o_totalprice"), 6).alias("sqrt_price"),
        F.round(F.log("o_totalprice"), 6).alias("ln_price"),
        F.upper("o_orderstatus").alias("status_upper"),
        F.lower("o_orderpriority").alias("prio_lower"),
        F.substring("o_orderpriority", 1, 3).alias("prio_prefix"),
        F.length("o_orderpriority").alias("prio_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.regexp_replace("o_orderpriority", "-", "_").alias("prio_underscore"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_format(F.date_add("o_orderdate", 30), "yyyy-MM-dd").alias("due_date"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (near-dup detection path #2); md5-based token
    hashes keep it bit-identical across engines."""
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", simhash64("text", nbits=SIMHASH_BITS).alias("simhash"))


def q_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs, blocked):
    block-pair fan-out + one BLAS matmul per block via applyInPandas —
    ~10x the interpreted HOF-dot-product cross join it replaces."""
    from lakehouse_ingestion_spark.operators.similarity_join import (
        cosine_allpairs_blocked,
    )

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings"))
    return cosine_allpairs_blocked(
        emb, "vec_id", "embedding", COSINE_DUP_THRESHOLD, num_blocks=8
    ).select("id_a", "id_b", "cos_sim")


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the scale path): random-hyperplane sign buckets,
    then exact cosine only within the query's bucket — fused single
    corpus pass (operators/ann.lsh_topk; the bucket convention matches
    functions/similarity.lsh_bucket, which the DuckDB oracle mirrors).
    The 20-query side is a serving request: read it with a pyarrow
    pushdown scan, not a Spark job. No corpus fan-out — the BLAS pass
    wants big Arrow batches (same rationale as q_ann_cosine)."""
    import pyarrow.parquet as pq

    from lakehouse_ingestion_spark.operators.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qpd = pq.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", 20)],
    ).to_pandas()
    qpd["v"] = qpd["embedding"]
    return lsh_topk(
        corpus=emb.filter(F.col("vec_id") >= 20),
        queries=qpd[["vec_id", "v"]],
        planes=LSH_PLANES,
        k=3,
    ).select("q_id", "neighbor_id", "cos_sim", "rk")


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary content column -> mapInPandas feature
    extraction (stub decoder) + frame sampling. The md5-seeded embedding
    stays internal (not DuckDB-reproducible); every emitted column is
    byte arithmetic, so the DuckDB oracle reproduces the full output by
    hex-expanding the UTF-8 blob."""
    from lakehouse_ingestion_spark.functions.multimodal import (
        extract_media_features,
        sample_frames,
    )

    # modest partition count: each partition spins a Python worker, and at
    # this row count worker startup dominates over per-row decode
    d = ensure_parallelism(_t(spark, sf_dir, "documents"), min_partitions=8)
    media = d.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("content")
    )
    feats = extract_media_features(media, "content", "media_id")
    frames = sample_frames(media, "content", "media_id", every_n_bytes=64, max_frames=8)
    return feats.join(frames.select("media_id", "n_frames"), "media_id").select(
        "media_id",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        F.round("byte_std", 6).alias("byte_std"),
        "n_frames",
        "decoder",
    )


def q_kafka_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka ingest decode chain (SURVEY.md A3+A4) end-to-end: events are
    serialized into the exact frame spark-sql-kafka delivers — key bytes,
    JSON value bytes (Debezium-style epoch-micros timestamp), topic,
    partition, offset, timestamp — then decoded by the production
    ``decode_json_value`` (CAST -> from_json(schema) -> flatten) with
    Kafka metadata retained. The oracle is the identity formulation:
    decode(encode(row)) == row, plus the derived metadata columns.

    == reference ``io/KafkaReader.scala:40-53`` (decode chain) against a
    broker-free raw frame, closing the no-broker-in-container test gap."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lakehouse_ingestion_spark.sources.kafka import decode_json_value

    # to_json + from_json are per-row CPU; a single-row-group fixture file
    # must fan out first (no-op on an already-split source)
    e = ensure_parallelism(_t(spark, sf_dir, "events"))
    payload = F.to_json(
        F.struct(
            "event_id",
            "user_id",
            "event_type",
            "value",
            epoch_micros("ts").alias("event_ts_us"),
        )
    )
    raw = e.select(
        F.encode(F.col("user_id").cast("string"), "UTF-8").alias("key"),
        F.encode(payload, "UTF-8").alias("value"),
        F.lit("events").alias("topic"),
        F.pmod("user_id", F.lit(4)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("event_ts_us", LongType()),
        ]
    )
    flat = decode_json_value(raw, schema, keep_kafka_meta=True)
    return flat.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.date_format(F.timestamp_micros("event_ts_us"), TS_FMT).alias("event_ts"),
        "topic",
        "partition",
        "offset",
        F.date_format("timestamp", TS_FMT).alias("kafka_ts"),
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (beyond rollup/cube: arbitrary grouping combinations)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group — one
    array-argument percentile aggregate (a single sort per group), not
    four separate sort-based aggregates."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr(
                "percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.99))"
            ).alias("ps")
        )
        .select(
            "o_orderstatus",
            F.round(F.col("ps")[0], 4).alias("p25"),
            F.round(F.col("ps")[1], 4).alias("p50"),
            F.round(F.col("ps")[2], 4).alias("p75"),
            F.round(F.col("ps")[3], 4).alias("p99"),
        )
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage salted aggregation — oracled against the plain
    single-stage form (same result, skew-resistant plan)."""
    from lakehouse_ingestion_spark.operators.skew import salted_aggregate

    l = _t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        l,
        ["l_returnflag"],
        [("sum", "l_quantity", "sum_qty"), ("count", "l_quantity", "n"),
         ("max", "l_extendedprice", "max_price")],
        num_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 2).alias("sum_qty"),
        "n",
        F.round("max_price", 2).alias("max_price"),
    )


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: running totals and moving averages (ROWS BETWEEN)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_mov = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_total"),
        F.round(F.avg("o_totalprice").over(w_mov), 4).alias("moving_avg3"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
            )
        )
        .alias("seq"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via session_window (30-min inactivity gap) —
    the same operator runs on streams with a watermark."""
    from lakehouse_ingestion_spark.streaming.windows import session_window_agg

    e = _t(spark, sf_dir, "events")
    out = session_window_agg(
        e,
        "ts",
        "30 minutes",
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")],
    )
    return out.select(
        "user_id",
        F.date_format("session_start", TS_FMT).alias("session_start"),
        F.date_format("session_end", TS_FMT).alias("session_end"),
        "n_events",
        "total_value",
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join: each purchase event matched to the user's
    most recent click at-or-before it. Single-shuffle union+window
    formulation (operators/asof.py); oracle is DuckDB's native ASOF JOIN."""
    from lakehouse_ingestion_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    out = asof_join(
        purchases, clicks, by=["user_id"], left_on="ts", right_on="ts",
        value_columns=["click_id"],
    )
    return out.select(
        "user_id",
        "purchase_id",
        F.round("value", 2).alias("purchase_value"),
        "click_id",
        F.round(
            epoch_seconds("ts") - epoch_seconds("_asof_matched_time"), 6
        ).alias("secs_since_click"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 of normalized text) + per-fingerprint
    duplicate counts — exact-dup detection at scale is a count over the
    16-byte fingerprint, never over the document text. Count-over-window
    (not groupBy + join-back): the join form re-reads and re-hashes the
    corpus for the second branch — two md5 passes and two shuffles; the
    window form hashes once and shuffles once on the compact fp key. No
    ensure_parallelism: md5/regexp are whole-stage-codegen JVM work (see
    q_dedup_exact)."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", fingerprint_md5("text").alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select(
        "doc_id", "fp", F.count(F.lit(1)).over(w).alias("n_same")
    )


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type — the batch form
    of streaming/windows.tumbling_window_agg (same F.window expression)."""
    from lakehouse_ingestion_spark.streaming.windows import tumbling_window_agg

    e = _t(spark, sf_dir, "events")
    out = tumbling_window_agg(
        e, "ts", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")],
    )
    return out.select(
        F.date_format("window_start", TS_FMT).alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): each event lands in two
    overlapping windows."""
    from lakehouse_ingestion_spark.streaming.windows import sliding_window_agg

    e = _t(spark, sf_dir, "events")
    out = sliding_window_agg(
        e, "ts", "1 hour", "30 minutes", ["event_type"],
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")],
    )
    return out.select(
        F.date_format("window_start", TS_FMT).alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates: approx_count_distinct (HLL++) per order status,
    with relative-error bound asserted against the exact count. HLL
    implementations differ across engines, so the oracle checks the
    *deviation bound* (a deterministic boolean) rather than the raw sketch
    value: within_5pct must be true for every group in both engines."""
    o = _t(spark, sf_dir, "orders")
    # separate aggregations joined on the tiny group key: fusing them makes
    # Spark carry one HLL sketch per (status, custkey) pair through the
    # count-distinct expand — 100x the state for no benefit
    approx = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_cust")
    )
    exact = o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_cust")
    )
    return exact.join(F.broadcast(approx), "o_orderstatus").select(
        "o_orderstatus",
        "exact_cust",
        (
            F.abs(F.col("approx_cust") - F.col("exact_cust")) / F.col("exact_cust")
            <= 0.05
        ).alias("within_5pct"),
    )


def q_text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting + Rabin-Karp rolling-hash document
    fingerprint (both lookahead-free / HOF-fold so the identical
    computation runs on the DuckDB oracle)."""
    from lakehouse_ingestion_spark.functions.text import (
        bpe_token_count,
        fingerprint_rolling,
    )

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        bpe_token_count("text").alias("bpe_tokens"),
        fingerprint_rolling("text").alias("rolling_fp"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-proximity range join: clicks within ±5 min of each error event,
    via bucketed equi-join (operators/range_join.py) instead of the
    broadcast-nested-loop a raw BETWEEN join would plan."""
    from lakehouse_ingestion_spark.operators.range_join import range_join

    e = _t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    # err_id is a real PK -> anti-join left formulation (no dedup-window
    # sort of the 9M-row joined output; see range_join docstring)
    j = range_join(
        errors, clicks, "ts", "click_ts", -300.0, 300.0,
        how="left", left_row_key="err_id",
    )
    return j.groupBy("err_id").agg(F.count("click_id").alias("n_clicks"))


def _ivf_parts(spark: SparkSession, sf_dir: str):
    """Corpus as a distributed frame; centroid seeds + query set as
    driver-side pandas (they are a serving request, 8+10 rows — read
    with a pyarrow row-group-pushdown scan instead of Spark jobs that
    would each repay the corpus fan-out shuffle).

    No ensure_parallelism on the corpus: the fused IVF pass is one BLAS
    matmul per Arrow batch, which wants big batches, not a pre-shuffle —
    at scale the scan arrives pre-split by maxPartitionBytes, and
    locally one batch IS the fastest shape (same rationale as
    q_ann_cosine)."""
    import pyarrow.parquet as pq

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    head = pq.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", 18)],
    ).to_pandas()
    head["v"] = head["embedding"]
    seeds = head[head["vec_id"] < 8].rename(
        columns={"vec_id": "cid", "v": "cv"}
    )[["cid", "cv"]]
    queries = head[head["vec_id"] >= 8][["vec_id", "v"]]
    vectors = emb.filter(F.col("vec_id") >= 18)
    return vectors, queries, seeds


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse-quantization scale path #2): assign vectors to
    nearest-centroid cells, probe nprobe=2 cells per query, exact cosine
    only within probed cells — one fused corpus pass (operators/ann.py)."""
    from lakehouse_ingestion_spark.operators.ann import ivf_topk

    vectors, queries, seeds = _ivf_parts(spark, sf_dir)
    return ivf_topk(vectors, queries, seeds, k=3, nprobe=2)


EMB_DIM = 64  # testdata embeddings dimension (shared with the oracle mirror)


def q_ann_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with one Lloyd k-means refinement pass over the sampled seed
    centroids (kmeans_refine: assignment by broadcast join, per-dim avg
    aggregates, one shuffle on cell id), then the same probed top-k
    search as ann_ivf. Centroid components are rounded to 6 dp so the
    DuckDB mirror reproduces the refined centroids exactly."""
    from lakehouse_ingestion_spark.operators.ann import ivf_topk, kmeans_refine

    vectors, queries, seeds = _ivf_parts(spark, sf_dir)
    refined = kmeans_refine(vectors, seeds, dim=EMB_DIM, iterations=1)
    return ivf_topk(vectors, queries, refined, k=3, nprobe=2)


_IVF_IDX_PATH = "/tmp/spark_graft_ivf_idx"
_ivf_idx_built_for: str | None = None


def ivf_index_build(spark: SparkSession, sf_dir: str) -> None:
    """Build phase of q_incr_ann: ingest the corpus into the maintained
    IVF index in three modulo-split batches — each append is one
    map-only matmul pass over ITS batch (operators/incremental_ann),
    the postings land partitioned by cell. Billed separately by the
    bench (the incr_build / bloom_setup precedent): the probe then
    measures what a serving query actually pays against a maintained
    index — a partition-pruned read of ~nprobe/K of the corpus."""
    global _ivf_idx_built_for
    import shutil

    from lakehouse_ingestion_spark.operators.incremental_ann import (
        append_postings,
    )

    vectors, _queries, seeds = _ivf_parts(spark, sf_dir)
    corpus = vectors.where(F.col("vec_id") >= 18)
    shutil.rmtree(_IVF_IDX_PATH, ignore_errors=True)
    for i in range(3):
        append_postings(
            corpus.where(F.col("vec_id") % 3 == i), seeds, _IVF_IDX_PATH
        )
    _ivf_idx_built_for = sf_dir


def q_incr_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a MAINTAINED IVF index (round 9,
    operators/incremental_ann): the corpus was ingested incrementally
    (ivf_index_build, three batch appends — never a corpus rescan), and
    the search reads ONLY the probed cells' partitions (cell IN (...)
    prunes at the parquet directory level) before the fused local-top-k
    scoring kernel. Same answer contract as q_ann_ivf restricted to the
    indexed corpus: fixed centroids => incremental assignment ==
    one-shot assignment (append-order invariance property-tested)."""
    from lakehouse_ingestion_spark.operators.incremental_ann import (
        read_postings,
        search_postings,
    )

    if _ivf_idx_built_for != sf_dir:
        ivf_index_build(spark, sf_dir)
    postings = read_postings(spark, _IVF_IDX_PATH)
    _vectors, queries, seeds = _ivf_parts(spark, sf_dir)
    return search_postings(postings, queries, seeds, k=3, nprobe=2)


_bucketed_built_for: str | None = None


def bucketed_build(spark: SparkSession, sf_dir: str) -> None:
    """Build phase of q_bucketed_join: write both sides as bucketed
    catalog tables. Separated from the probe so the bench can bill the
    one-time ingest investment apart from the join it pays for."""
    global _bucketed_built_for
    from lakehouse_ingestion_spark.sinks.bucketed import write_bucketed

    # explicit location: independent of the session's warehouse dir / cwd;
    # drop stale table locations (fresh sessions have fresh catalogs, but
    # the managed-table dirs persist in /tmp)
    import shutil

    spark.sql(
        "CREATE DATABASE IF NOT EXISTS __bt LOCATION '/tmp/spark_graft_bucketed_db'"
    )
    for t in ("orders", "customer"):
        spark.sql(f"DROP TABLE IF EXISTS __bt.{t}")
        shutil.rmtree(f"/tmp/spark_graft_bucketed_db/{t}", ignore_errors=True)
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    write_bucketed(o, "__bt.orders", ["o_custkey"], 8, sort_columns=["o_custkey"])
    write_bucketed(c, "__bt.customer", ["c_custkey"], 8, sort_columns=["c_custkey"])
    _bucketed_built_for = sf_dir


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed catalog tables: both sides bucketed
    on the join key with a shared bucket count, so the join plans with
    no exchange on either side at scale (broadcast may still win at
    tiny SF). Standalone calls (driver/oracle) build the tables first;
    a bench that already ran bucketed_build for this sf_dir measures
    just the probe — bucketing is an ingest-time investment amortized
    over every later join."""
    if _bucketed_built_for != sf_dir:
        bucketed_build(spark, sf_dir)
    joined = spark.table("__bt.orders").join(
        spark.table("__bt.customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


PACK_BUDGET = 2048  # tokens per packed training sequence
PACK_SHARDS = 8  # deterministic doc_id-range shards; scale with cluster size


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded sequence packing for training data: doc_id space is cut
    into PACK_SHARDS contiguous ranges (width = ceil((max_id+1)/shards),
    deterministic, so the DuckDB oracle reproduces it), and each shard
    packs its own docs in doc_id order into fixed-token-budget bins —
    pack_id = shard-local tokens-before-this-doc div budget.

    The cumulative-sum window is PARTITION BY shard, so the work spreads
    across PACK_SHARDS tasks instead of serializing onto one (the round-1
    unpartitioned window was the only WindowExec-warning plan in the
    repo). Pack ids are shard-local, which training loaders don't care
    about; at real scale set PACK_SHARDS ~ executor count."""
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", token_count("text").alias("n_tokens"))
    width = toks.agg(
        F.ceil((F.max("doc_id") + 1) / F.lit(float(PACK_SHARDS)))
        .cast("long")
        .alias("__w")
    )
    sharded = (
        toks.crossJoin(F.broadcast(width))
        .withColumn("shard", F.floor(F.col("doc_id") / F.col("__w")).cast("long"))
        .drop("__w")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sharded.withColumn(
        "pack_id",
        (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / PACK_BUDGET).cast("long"),
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture curation: cap each language's contribution
    (top-N docs per lang by quality, tie-broken by doc_id) — the
    dataset-mixing step of a training pipeline, as pure window ops."""
    caps = {"en": 100, "de": 50, "es": 50, "fr": 25}
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "lang",
        quality_score("text", stopwords=QUALITY_STOPWORDS).alias("q"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("q").desc(), F.col("doc_id").asc())
    cap_expr = F.create_map(
        *[x for k, v in caps.items() for x in (F.lit(k), F.lit(v))]
    )
    ranked = scored.withColumn("rk", F.row_number().over(w)).withColumn(
        "cap", F.coalesce(cap_expr[F.col("lang")], F.lit(0))
    )
    picked = ranked.filter(F.col("rk") <= F.col("cap"))
    return picked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.min("doc_id").alias("min_doc"),
    )


SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
STRATA_RATES = {"en": 0.25, "zh": 1.0}  # cap dominant lang, keep all zh
STRATA_DEFAULT = 0.5


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-hash of the
    document key (operators/sampling.hash_split): a pure projection —
    no shuffle, no RNG — so re-runs, backfills, and corpus growth never
    migrate a document across splits. Summarized per (split, lang)."""
    from lakehouse_ingestion_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    s = hash_split(d, "doc_id", SPLIT_FRACTIONS, seed="split")
    return s.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling
    (operators/sampling.stratified_sample): rebalance a skewed training
    mixture in one shuffle-free filter pass. id_sum pins the exact
    sampled membership for the oracle, not just the counts."""
    from lakehouse_ingestion_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    s = stratified_sample(
        d, "lang", STRATA_RATES, "doc_id", seed="strat",
        default_fraction=STRATA_DEFAULT,
    )
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day event counts spread across event_type columns
    (explicit value list — Spark then skips the extra distinct-values
    job and the plan is one aggregation)."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        e.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            *[F.col(t).alias(f"n_{t}") for t in types],
        )
    )


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit semi/anti joins: per market segment, customers WITH at
    least one urgent order (left_semi) and customers with NO orders at
    all (left_anti)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # distinct the probe sides first: existence joins only care about
    # key presence, and the map-side partial dedup collapses the 10x
    # orders fan-in to ~one row per customer BEFORE the join shuffle
    # (often small enough that AQE then broadcasts it). Measured at
    # sf10: 7.6 s -> 3.1 s median, same semi/anti plan shapes.
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    with_urgent = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_urgent"))
    )
    any_cust = o.select("o_custkey").distinct()
    no_orders = (
        c.join(any_cust, c.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_no_orders"))
    )
    return with_urgent.join(no_orders, "c_mktsegment", "outer").na.fill(0)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


def bench_setups() -> dict[str, Callable[[SparkSession, str], None]]:
    """Per-query one-time build phases the bench should time separately
    (reported as ``<name>_build``). The query itself then measures only
    the steady-state probe, which is what the ingest investment buys."""
    return {
        "bucketed_join": bucketed_build,
        "pit_join": pit_build,
        "incr_near_dup": incr_build,
        "incr_ann": ivf_index_build,
        "bloom_dedup": bloom_setup,
        "bloom_dedup_sharded": bloom_sharded_setup,
    }


# --------------------------------------------------------------------------
# round-10 additions: multi-query BM25 retrieval, per-eval-example
# contamination audit, time-window event dedup
# --------------------------------------------------------------------------

#: config-sized retrieval query set for q_bm25_topk (terms drawn from the
#: synthetic corpus vocabulary; shared with the oracle VALUES list)
BM25_QUERY_SET = [
    (1, "spark table"),
    (2, "hash join merge"),
    (3, "stream window batch"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 top-10 retrieval (operators/retrieval.py): ONE
    corpus pass scores the whole query set — query terms collected once
    (size-gated), corpus tokens pruned to the query vocabulary inside
    the explode generator, (query_id, term) broadcast-joined, per-query
    rank window. Scores round to 6dp BEFORE ranking so the rank order
    is cross-engine stable (same tolerance the bm25 query proves)."""
    from lakehouse_ingestion_spark.operators.retrieval import bm25_search

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    q = spark.createDataFrame(BM25_QUERY_SET, "query_id long, query string")
    return bm25_search(d, q, k=10)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-example contamination audit (operators/decontaminate.py
    contamination_report): the GPT-3-style report from the BENCHMARK
    side — for every eval example (doc_id % 53 = 0, the decontaminate
    query's split), how many training docs collide, how many cross the
    dirty threshold, and the worst single-doc overlap. Broadcast
    eval-side n-grams, ONE corpus explode, collision-bounded aggregate."""
    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    ev = d.filter("doc_id % 53 = 0").select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    train = d.filter("doc_id % 53 <> 0")
    return contamination_report(train, ev)


def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window event dedup (operators/dedup.py event_window_dedup):
    drop events repeating their (user, type) key within 600 s of the
    previous occurrence — retry/double-fire suppression. Lag-based
    (predecessor in (ts, event_id) order), ONE hash exchange on the key,
    no global window."""
    from lakehouse_ingestion_spark.operators.dedup import event_window_dedup

    e = ensure_parallelism(_t(spark, sf_dir, "events"))
    out = event_window_dedup(
        e, ["user_id", "event_type"], "ts", 600, tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "event_type")


def q_quantile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency bucketing via the AGGREGATION path
    (operators/stats.py quantile_buckets_agg) — the scale companion the
    quantile_buckets gate routes to: per-lang quartile edges from ONE
    exact-percentile aggregate (sort-based partials, distributed),
    broadcast back, bucket assignment as a comparison projection. No
    partitionless window anywhere; n_chars is integer-valued so the
    interpolated edges agree bit-for-bit with the oracle's
    quantile_cont."""
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets_agg

    # no ensure_parallelism: both passes are scan-bound aggregates/joins
    # that fan out on their own (A/B: 1.05 vs 1.23 s at sf10)
    d = _t(spark, sf_dir, "documents")
    out = quantile_buckets_agg(d, "n_chars", 4, partition_by=["lang"])
    return out.select("doc_id", "lang", "n_chars", "q_bucket")


def q_top_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum nucleus (top-p) selection (operators/selection.py
    top_p_select): keep each lang's largest docs until they cover half
    the lang's total n_chars mass — the share-based sibling of
    domain_budget. ONE hash exchange on lang; both window frames share
    the per-stratum sort; integer scores keep the mass boundary exact
    cross-engine."""
    from lakehouse_ingestion_spark.operators.selection import top_p_select

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return top_p_select(d, "lang", "n_chars", 0.5, "doc_id")


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training + encoding (operators/bpe.py): merges are
    learned from the word-frequency HISTOGRAM (one distributed agg —
    the only corpus-sized pass; the driver never sees the corpus), then
    applied in an Arrow-batched encode with a per-batch word cache.
    Iterative algorithm — genuinely non-SQL-expressible, so this is a
    BENCH-ONLY entry (``bench_extra_queries``); the SQL-expressible half
    of training is driver-hashed as ``bpe_histogram``, and end-to-end
    determinism / reference equivalence are pinned by tests/test_bpe.py
    (Sennrich worked example + hypothesis equivalence + partitioning
    invariance)."""
    from lakehouse_ingestion_spark.operators.bpe import bpe_encode, bpe_train

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    merges = bpe_train(d, num_merges=30, min_freq=2)
    out = bpe_encode(d, merges)
    return out.select(
        "doc_id",
        F.col("n_bpe_tokens"),
        F.element_at("bpe_tokens", 1).alias("first_token"),
    )


def q_bpe_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized pass of BPE training (operators/bpe.py
    word_histogram): ONE map-side-combined word-count aggregate with
    min_freq pruning — the exact frame bpe_train collects (gated by
    max_words) before the driver-side merge loop.  Driver-hashing this
    half gives the BPE pipeline oracle evidence (VERDICT r10 "What's
    wrong #2"); the iterative merge loop stays rows-only in bench +
    tests/test_bpe.py."""
    from lakehouse_ingestion_spark.operators.bpe import word_histogram

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return word_histogram(d, min_freq=2).select("word", "freq")


def q_top_p_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus selection over a FRACTIONAL score column — pins the r11
    fix for the r10 judge finding (fractional scores used to truncate
    to long and return an empty frame).  The score n_chars/64.0 is
    exactly representable in double (6 binary fraction digits), so the
    running double sums are exact in BOTH engines and membership is
    deterministic; cum_score (a running-sum artifact) is dropped from
    the output so the hash compares per-row values only."""
    from lakehouse_ingestion_spark.operators.selection import top_p_select

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", (F.col("n_chars") / F.lit(64.0)).alias("score"))
    )
    return top_p_select(d, "lang", "score", 0.5, "doc_id").select(
        "doc_id", "lang", "score"
    )


def bench_extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bench-only rows: measured by bench.py alongside queries() but NOT
    part of the driver's oracle registry (no SQL formulation exists).
    Correctness evidence lives in tests instead (see each docstring)."""
    return {"bpe_tokenize": q_bpe_tokenize}


def load_hash_history(repo: Path = REPO) -> dict[str, tuple[int, bool]]:
    """name -> (last round whose correctness sweep included it, was it
    green there), from every ``CORRECTNESS_r*.json`` under ``repo``.

    Green = rows/schema/hash all true and no err. A query appearing in
    multiple rounds keeps the LATEST round's verdict.
    """
    history: dict[str, tuple[int, bool]] = {}
    for path in sorted(repo.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                # hash_match None = weaker rows-only check (no oracle SQL);
                # treat as green — re-running it cannot upgrade the evidence.
                and row.get("hash_match") in (True, None)
                and not row.get("err")
            )
            prev = history.get(name)
            if prev is None or rnd >= prev[0]:
                history[name] = (rnd, green)
    return history


def priority_order(
    registry_order: list[str], history: dict[str, tuple[int, bool]]
) -> list[str]:
    """Stable sort: never-hashed & latest-red first (tier 0), then by
    last-hashed round ascending; ties keep registry order."""
    pos = {name: i for i, name in enumerate(registry_order)}

    def key(name: str) -> tuple[int, int]:
        entry = history.get(name)
        if entry is None or not entry[1]:
            return (0, pos[name])
        return (entry[0], pos[name])

    return sorted(registry_order, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query, in driver-window priority order.

    A correctness sweep hashes only the first 50 entries, so the order
    is computed at call time from the committed ``CORRECTNESS_r*.json``
    history: RED and never-hashed queries first, then the
    least-recently-hashed. With no history the order is the dict order
    below. ``tools/rotate_registry.py`` prints the window."""
    registry = {
        "quantile_agg": q_quantile_agg,
        "top_p": q_top_p,
        "text_tokenize": q_text_tokenize,
        "range_join": q_range_join,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_refined": q_ann_ivf_refined,
        "bucketed_join": q_bucketed_join,
        "seq_pack": q_seq_pack,
        "mixture": q_mixture,
        "pivot": q_pivot,
        "semi_anti": q_semi_anti,
        "sample_split": q_sample_split,
        "stratified_sample": q_stratified_sample,
        "dedup_clusters": q_dedup_clusters,
        "quality_filter": q_quality_filter,
        "ngram_topk": q_ngram_topk,
        "tfidf": q_tfidf,
        "bm25": q_bm25,
        "embed_quant": q_embed_quant,
        "q10_returned_items": q10_returned_items,
        "q4_priority_returns": q4_priority_returns,
        "q14_promo_revenue": q14_promo_revenue,
        "q19_brand_quantity": q19_brand_quantity,
        "q6_forecast": q6_forecast_revenue,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q13_custdist": q13_customer_distribution,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity": q17_small_quantity,
        "q18_large_orders": q18_large_orders,
        "q22_sales_opportunity": q22_global_sales_opportunity,
        "q2_min_supplier": q2_min_acctbal_supplier,
        "q11_important_parts": q11_important_parts,
        "q12_shipping_delay": q12_shipping_delay,
        "q16_supplier_counts": q16_supplier_counts,
        "sticky_split": q_sticky_split,
        "numeric_profile": q_numeric_profile,
        "incr_clusters": q_incr_clusters,
        "q20_promotion_suppliers": q20_promotion_suppliers,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "jaccard_pairs": q_jaccard_pairs,
        "doc_repetition": q_doc_repetition,
        "funnel": q_funnel,
        "retention": q_retention,
        "domain_cap": q_domain_cap,
        "bpe_histogram": q_bpe_histogram,
        "top_p_frac": q_top_p_frac,
        "cluster_rep": q_cluster_rep,
        "anomaly": q_anomaly,
        "unpivot": q_unpivot,
        "incr_gold": q_incr_gold,
        "sketch_rollup": q_sketch_rollup,
        "pit_join": q_pit_join,
        "edit_join": q_edit_join,
        "rolling_window": q_rolling_window,
        "decontaminate": q_decontaminate,
        "chunk_docs": q_chunk_docs,
        "vocab_build": q_vocab_build,
        "token_ids": q_token_ids,
        "quantile_sketch": q_quantile_sketch,
        "quantile_sketch_merge": q_quantile_sketch_merge,
        "topk_sketch": q_topk_sketch,
        "weighted_sample": q_weighted_sample,
        "pii_scrub": q_pii_scrub,
        "line_dedup": q_line_dedup,
        "lm_perplexity": q_lm_perplexity,
        "semantic_dedup": q_semantic_dedup,
        "exact_substr": q_exact_substr,
        "ngram_novelty": q_ngram_novelty,
        "incr_near_dup": q_incr_near_dup,
        "resample": q_resample,
        "resample_interp": q_resample_interp,
        "snapshot_diff": q_snapshot_diff,
        "histogram": q_histogram,
        "quantile_buckets": q_quantile_buckets,
        "table_profile": q_table_profile,
        "bloom_dedup": q_bloom_dedup,
        "bloom_dedup_sharded": q_bloom_dedup_sharded,
        "dedup_content": q_dedup_content,
        "strip_spans": q_strip_spans,
        "blocklist_filter": q_blocklist_filter,
        "random_proj": q_random_proj,
        "source_report": q_source_report,
        "pricing_summary": q_pricing_summary,
        "dedup_exact": q_dedup_exact,
        "dedup_latest": q_dedup_latest,
        "split_conflicts": q_split_conflicts,
        "incr_ann": q_incr_ann,
        "token_budget": q_token_budget,
        "domain_budget": q_domain_budget,
        "shard_export": q_shard_export,
        "html_extract": q_html_extract,
        "semantic_decon": q_semantic_decon,
        "source_canonical": q_source_canonical,
        "share_admission": q_share_admission,
        "cms_topk": q_cms_topk,
        "winnow_overlap": q_winnow_overlap,
        "er_clusters": q_er_clusters,
        "robust_scale": q_robust_scale,
        "cdc_apply": q_cdc_apply,
        "cdc_incremental": q_cdc_incremental,
        "scd2": q_scd2,
        "scd1": q_scd1,
        "upsert": q_upsert,
        "enrich": q_enrich,
        "denormalize": q_denormalize,
        "gold_daily": q_gold_daily,
        "gold_rollup": q_gold_rollup,
        "gold_cube": q_gold_cube,
        "window_topk": q_window_topk,
        "dq_summary": q_dq_summary,
        "quarantine": q_quarantine,
        "ref_integrity": q_ref_integrity,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "minhash": q_minhash,
        "near_dup": q_near_dup,
        "ann_cosine": q_ann_cosine,
        "q3_shipping": q3_shipping,
        "q5_local_supplier": q5_local_supplier,
        "set_ops": q_set_ops,
        "sort_limit": q_sort_limit,
        "scalar_funcs": q_scalar_funcs,
        "simhash": q_simhash,
        "cosine_dup": q_cosine_dup,
        "corr_panel": q_corr_panel,
        "dq_drift": q_dq_drift,
        "cluster_split": q_cluster_split,
        "ann_lsh": q_ann_lsh,
        "multimodal": q_multimodal,
        "kafka_decode": q_kafka_decode,
        "grouping_sets": q_grouping_sets,
        "percentiles": q_percentiles,
        "salted_agg": q_salted_agg,
        "window_frames": q_window_frames,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "fingerprint": q_fingerprint,
        "tumbling_window": q_tumbling_window,
        "sliding_window": q_sliding_window,
        "approx_distinct": q_approx_distinct,
        "bm25_topk": q_bm25_topk,
        "contamination": q_contamination,
        "event_dedup": q_event_dedup,
    }
    order = priority_order(list(registry), load_hash_history())
    return {name: registry[name] for name in order}


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality rule chain (operators/quality.py): five
    named rules in one fused projection; each doc carries its failed-rule
    list so curation can keep / quarantine / re-weight."""
    from lakehouse_ingestion_spark.operators.quality import (
        apply_quality_rules,
        default_quality_rules,
    )

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    out = apply_quality_rules(d, default_quality_rules())
    return out.select(
        "doc_id",
        F.array_join("failed_rules", ",").alias("failed"),
        "keep",
    )


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language (operators/text_ranking.py):
    explode n-grams, partial-agg count, rank over the aggregated vocab."""
    from lakehouse_ingestion_spark.operators.text_ranking import ngram_topk

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return ngram_topk(d, n=2, k=5, group_cols=["lang"]).select(
        "lang", "ngram", "n_occur", "rk"
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/text_ranking.py).
    Deterministic tie-break: (tfidf desc, term asc)."""
    from lakehouse_ingestion_spark.operators.text_ranking import tfidf

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    scored = tfidf(d)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


BM25_QUERY = ["spark", "table", "join"]  # shared with the DuckDB mirror


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a fixed query-term bag
    (operators/text_ranking.py); query terms prune the exploded token
    stream before any aggregation."""
    from lakehouse_ingestion_spark.operators.text_ranking import bm25

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    scored = bm25(d, BM25_QUERY)
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", "score")
    )


def q_embed_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column
    (operators/quantization.py): per-vector affine codes with explicit
    floor(+0.5) half-up so codes are bit-identical cross-engine; emits
    summary stats (codes checksum, max code, reconstruction MSE)."""
    from lakehouse_ingestion_spark.operators.quantization import (
        quantize_embeddings,
    )

    # modest fan-out: the affine map is ~10ms of numpy per million
    # values, so at bench scale the cost is python-worker spin-up per
    # partition — 8 workers saturate it; at real scale the scan arrives
    # already split and ensure_parallelism is a no-op
    e = ensure_parallelism(_t(spark, sf_dir, "embeddings"), min_partitions=8)
    q = quantize_embeddings(e)
    return q.select(
        "vec_id",
        # qmin/scale are raw: min/max of the SAME float32 values and one
        # exact subtraction/division — byte-identical in both engines,
        # while round() can tie on dyadic float32 values (PLANS.md r7
        # rounding audit). recon_mse keeps its round: numpy's pairwise
        # summation drifts from DuckDB's sequential list_sum.
        "qmin",
        "scale",
        "codes_sum",
        "code_max",
        F.round("recon_mse", 6).alias("recon_mse"),
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: revenue from returned items per customer over a
    quarter; three-way join + broadcast nation dim + top-20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    joined = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    # decimal arithmetic: a double sum lands on .xx5 cent boundaries
    # differently per engine (summation-order ulps); decimal is exact in
    # both, and the final cast back to double carries the exact cents
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            "revenue",
        )
    )


def q4_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style EXISTS: orders per priority (one quarter) having at
    least one returned lineitem — EXISTS plans as a left-semi join, so
    the lineitem side never materializes into the output."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-04-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    hit = o.join(
        l, o["o_orderkey"] == l["l_orderkey"], "left_semi"
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style conditional aggregation: share of one month's
    revenue from PROMO parts. Decimal-exact sums; the final ratio is a
    double division of exact numerators (identical cross-engine)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
            F.lit(0).cast("decimal(20,4)")
        )).alias("__promo"),
        F.sum(rev).alias("__total"),
    )
    return agg.select(
        F.round(
            F.lit(100.0) * F.col("__promo").cast("double")
            / F.col("__total").cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


def q19_brand_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive predicates: revenue from three
    (brand, size range, quantity range) clauses OR-ed together over the
    lineitem-part join — the OR must not break the equi-join (no
    nested-loop) and the clause predicates filter each side."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    q = F.col("l_quantity")
    sz = F.col("p_size")
    clause = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#13") & sz.between(10, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#25") & sz.between(20, 50) & q.between(20, 40))
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return joined.filter(clause).agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-table filter + one aggregate. All three
    predicates push to the parquet scan; the agg is a map-side partial +
    one 1-row exchange — the cheapest plan shape Spark has."""
    l = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * F.col(
        "l_discount"
    ).cast("decimal(18,4)")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: trade volume between two nations per ship year.
    Both nation lookups resolve through broadcast joins onto the two
    small sides (supplier, customer) BEFORE touching the fact tables, so
    the only big shuffle is lineitem<->orders."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    supp_nat = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    )
    cust_nat = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
        .filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    # BOTH fact inputs shrink to the two relevant nations (~2/25 of
    # rows) BEFORE the lineitem<->orders shuffle — the customer join
    # used to sit above it, shuffling all of orders for an 8% survival
    # rate. The broadcast hint on cust_nat matters doubly: unhinted,
    # Spark's static estimate had it LARGER than pruned orders and
    # broadcast the 15M-row orders side instead (BuildLeft) — fine at
    # bench scale, catastrophic at real scale. With the hint the build
    # side is the nation-filtered customer slice; where even that
    # outgrows broadcast, drop the hint for a pre-filtered SMJ.
    o_nat = o.join(
        F.broadcast(cust_nat), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        l.join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o_nat, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: NATION_5's share of ECONOMY-part volume sold into
    the ASIA market per order year. share = decimal-exact conditional
    sum over total (both sums exact, so the double division and 6-dp
    round agree cross-engine)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    asia_cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    supp_nat = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    # orders shrink ~5x through the ASIA-customer semi filter BEFORE they
    # meet lineitem, and the surviving (o_orderkey, o_year) projection is
    # 2 narrow columns — broadcasting it keeps the 60M-row lineitem side
    # from shuffling at all (sf10: 9.4 s un-hinted vs 4.4 s, because the
    # static join-output estimate is garbage without column stats and
    # AQE's runtime conversion fires only after the fact exchange ran).
    # But asia_orders/asia_cust GROW with SF, so the hint is SIZE-GATED
    # (plans/hints.py): keyed on the accurate narrow-scan estimates
    # scaled by the 1-of-5-regions fraction — under the cap it
    # broadcasts, past it (the 100-TB regime) the hint is withheld and
    # the planner degrades to a shuffle join instead of OOMing. Same
    # gate for supp_nat and the part projection; only the fixed-size
    # nation/region joins above keep unconditional hints.
    from lakehouse_ingestion_spark.plans.hints import (
        broadcast_if_under,
        scan_estimate_bytes,
    )

    cust_sz = scan_estimate_bytes(
        _t(spark, sf_dir, "customer").select("c_custkey")
    )
    orders_sz = scan_estimate_bytes(o.select("o_orderkey", "o_orderdate"))
    asia_orders = (
        o.join(
            broadcast_if_under(asia_cust, cust_sz // 5),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    )
    asia_orders = broadcast_if_under(asia_orders, orders_sz // 5)
    supp_sz = scan_estimate_bytes(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    part_sz = scan_estimate_bytes(p.select("p_partkey"))
    vol = (
        l.join(
            broadcast_if_under(p.select("p_partkey"), part_sz),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            broadcast_if_under(supp_nat, supp_sz),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(asia_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_year"),
            rev.alias("volume"),
            F.col("supp_nation"),
        )
    )
    zero = F.lit(0).cast("decimal(19,4)")
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style (adapted: no partsupp table in the fixture, so
    supply cost = 60% of the part's retail price): profit on widget
    parts per supplier nation per order year. Part + supplier resolve by
    broadcast; decimal arithmetic end-to-end."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp_nat = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(6,2)")
        * F.lit("0.6").cast("decimal(2,1)")
    )
    return (
        l.join(
            F.broadcast(p.select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(rev - cost), 2).cast("double").alias("profit"))
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of order counts per customer (non-urgent
    orders only). Aggregate orders down to per-customer counts FIRST,
    then outer-join customers — the join input shrinks 10x before it
    shuffles, and the second aggregation is over one row per customer.

    An FK-based join-elimination rewrite (zero bucket = |customer| -
    |ordering customers|) was measured at sf10 in round 7 and REJECTED:
    2.23 -> 2.60 s — the zero-bucket branch re-executes the orders
    aggregation (no exchange reuse across the union), costing more than
    the (broadcastable, pre-aggregated) customer join it removes, and it
    silently depends on the orders->customer FK. BASELINE.md r7 notes."""
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c_count"))
    )
    return (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce("c_count", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The
    max is a 1-row broadcast joined back on equality of the 2-dp
    DECIMAL-rounded revenue (exact, so ties and cross-engine agreement
    are well-defined)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    per_supp = l.groupBy("l_suppkey").agg(
        F.round(F.sum(rev), 2).alias("total_revenue")
    )
    top = per_supp.agg(F.max("total_revenue").alias("__m"))
    s = _t(spark, sf_dir, "supplier")
    return (
        per_supp.join(F.broadcast(top), F.col("total_revenue") == F.col("__m"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style (container -> size filter): yearly revenue lost
    to small-quantity orders of Brand#13 parts. The per-part average is
    the classic correlated subquery; here it's one extra aggregate over
    the already-part-filtered lineitem slice, joined back on partkey.
    The avg comparison is algebraic (qty * n * 5 < sum) in DECIMAL — no
    double division whose ulps could flip boundary rows per engine."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 10)
    )
    l = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    per_part = l.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__sum_qty"),
        F.count(F.lit(1)).cast("decimal(12,0)").alias("__n"),
    )
    small = l.join(
        F.broadcast(per_part), F.col("l_partkey") == F.col("__pk")
    ).filter(
        F.col("l_quantity").cast("decimal(12,2)")
        * F.col("__n")
        * F.lit(5).cast("decimal(1,0)")
        < F.col("__sum_qty")
    )
    return small.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / 7.0,
            2,
        ).alias("avg_yearly")
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 250, with their
    customers, top-100 by order value. The HAVING filter runs on the
    grouped lineitem BEFORE the joins, so only qualifying orderkeys
    (a tiny set) reach the orders/customer side — broadcast from there.
    Quantities are integral doubles, so the sum is exact regardless of
    summation order."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", TS_FMT).alias("o_orderdate_str"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style (no phone column -> grouped by nation): customers
    richer than the positive-balance average with no recent orders. The
    average comparison is algebraic (acctbal * n > sum) in DECIMAL; the
    'no recent orders' is a broadcast anti-join on the filtered order
    slice."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("__s"),
        F.count(F.lit(1)).cast("decimal(12,0)").alias("__n"),
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    rich = (
        c.join(F.broadcast(stats))
        .filter(F.col("c_acctbal").cast("decimal(18,2)") * F.col("__n") > F.col("__s"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
    )
    return (
        rich.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )


def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style (no partsupp table -> the distinct
    (l_partkey, l_suppkey) projection of lineitem bridges part and
    supplier; min ps_supplycost -> min s_acctbal): for STANDARD parts of
    size <= 5, the lowest-balance EUROPE-region supplier that actually
    shipped the part. The correlated min is a groupBy over the bridged
    pairs joined back on (part, min); part/supplier/nation/region all
    broadcast — only the pair-distinct shuffles, and it shuffles 16
    bytes/row regardless of fact width."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 5)
    )
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # semi-filter the bridge BEFORE the pair-distinct: the part filter
    # keeps ~1% of partkeys and EUROPE ~20% of suppliers, so the distinct
    # shuffles ~0.2% of the pair volume instead of all of lineitem
    lp = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            F.broadcast(eu.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .distinct()
    )
    pairs = lp.join(
        F.broadcast(p.select("p_partkey", "p_name")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
    min_bal = pairs.groupBy(F.col("p_partkey").alias("__pk")).agg(
        F.min("s_acctbal").alias("__min_bal")
    )
    return (
        pairs.join(
            F.broadcast(min_bal),
            (F.col("p_partkey") == F.col("__pk"))
            & (F.col("s_acctbal") == F.col("__min_bal")),
        )
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "s_suppkey",
        )
        .orderBy(F.desc("s_acctbal"), "s_suppkey", "p_partkey")
        .limit(100)
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style (no partsupp -> shipped value from lineitem):
    per-part shipped value from NATION_7's suppliers, keeping parts
    whose value exceeds 0.1% of the nation total. The global threshold
    is a 1-row broadcast scalar; the comparison is decimal-exact on both
    engines (sum > total * 0.001 with an exact decimal literal), so no
    double-rounding can flip boundary parts."""
    s7 = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    l = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(s7), F.col("l_suppkey") == F.col("s_suppkey")
    )
    per_part = l.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__val")
    )
    total = per_part.agg(F.sum("__val").alias("__total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("__val")
            > F.col("__total") * F.lit("0.001").cast("decimal(4,3)")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("__val", 2).cast("double").alias("value"),
        )
    )


def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style (no l_shipmode/l_receiptdate -> l_returnflag
    buckets + shipdate-vs-orderdate lag): 1997 lineitems that shipped
    between 30 and 120 days after their order date, counting
    high-priority (1-URGENT/2-HIGH) vs lower-priority orders per
    returnflag. lineitem⋈orders is the one real (big-big) shuffle; the
    date-window predicate is applied post-join since it correlates the
    two sides."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_returnflag").agg(
        F.sum(hi.cast("bigint")).alias("high_line_count"),
        F.sum((~hi).cast("bigint")).alias("low_line_count"),
    )


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style (no partsupp -> lineitem bridge; 'customer
    complaints' -> negative account balance): distinct-supplier counts
    per (brand, type, size) for non-Brand#5, non-PROMO parts of eight
    sizes, excluding complained-about suppliers via an anti-join. The
    bridge pair-distinct and the count_distinct are the only shuffles;
    part and the tiny exclusion list broadcast."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    # part semi-filter below the pair-distinct (8 sizes of 50 -> the
    # distinct shuffles ~16% of the pair volume); the supplier exclusion
    # anti-joins the already-distinct pairs
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .distinct()
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt")
    )


def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style (no partsupp availqty -> above-average shipped
    volume): NATION_9 suppliers whose 1998 shipped quantity of 'small%'
    parts exceeds the per-supplier average for that slice. The average
    comparison is algebraic (qty * n > total, both decimal-exact); the
    qualifying-supplier set is a broadcast semi-join onto supplier, so
    the supplier table itself never shuffles."""
    pk = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select(
        "p_partkey"
    )
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(pk), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    per_supp = l.groupBy("l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qty")
    )
    stats = per_supp.agg(
        F.sum("__qty").alias("__total"),
        F.count(F.lit(1)).cast("decimal(12,0)").alias("__n"),
    )
    winners = (
        per_supp.join(F.broadcast(stats))
        .filter(F.col("__qty") * F.col("__n") > F.col("__total"))
        .select("l_suppkey")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(winners),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style (no l_receiptdate/l_commitdate -> late means
    shipped > 60 days after the order date): NATION_1 suppliers who were
    the sole late shipper on a multi-supplier finished order. The
    EXISTS(other supplier) / NOT EXISTS(other late supplier) pair maps
    to a semi-join and an anti-join on (orderkey, suppkey !=) — exactly
    Spark's existence-join physical forms. The lineitem⋈orders slice is
    computed once and reused for l1/l2/l3."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    lo = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    n1 = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    # ONE pass replaces the semi/anti self-join pair: per order, "sole
    # late shipper" is decidable from a two-level aggregate — n_supp >
    # 1 (some other supplier exists) and n_late_supp == 1 (no other
    # late one), in which case the single late supplier and its
    # late-row count fall out of the same aggregate. The previous
    # formulation recomputed the lineitem⋈orders slice for each of
    # l1/l2/l3 and shuffled it again for each existence join; the
    # two-level shape (per-(order,supplier), then per-order) avoids
    # both the recomputes AND the Expand a countDistinct pair plans
    # (measured at sf10, median-of-3: semi/anti 9.2 s, countDistinct
    # 12.9 s, this 7.6 s — now join-bound; when the join runs as SMJ
    # on l_orderkey, at scale, both post-join groupBys satisfy their
    # clustering from its partitioning and add zero exchanges).
    # numwait counts late ROWS of the waiting supplier, matching
    # EXISTS-form semantics exactly.
    per_supp = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.col("late").cast("long")).alias("n_late_rows")
    )
    is_late = F.col("n_late_rows") > 0
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(is_late.cast("long")).alias("n_late_supp"),
        F.max(F.when(is_late, F.col("l_suppkey"))).alias("late_supp"),
        F.sum("n_late_rows").alias("late_rows"),
    )
    waiting = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    return (
        waiting.join(
            F.broadcast(n1), F.col("late_supp") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.sum("late_rows").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard similarity join (operators/jaccard.py):
    prefix-filtered inverted-index self-join — every pair with J >= 0.3,
    no MinHash approximation (the exact tier complementing q_near_dup's
    LSH path). The md5-hash prefix order is mirrored in the oracle so
    both engines search the identical candidate space."""
    from lakehouse_ingestion_spark.operators.jaccard import jaccard_join

    # fixed 1000-doc slice: at the sf0.01 oracle gate this is the whole
    # corpus (500 docs — full-strength check); at larger SFs it bounds
    # the inherently-quadratic exact tier. The synthetic corpus's ~50
    # word vocabulary makes EVERY doc share shingles with every other
    # (candidate sets approach all-pairs no matter the prefix order), so
    # unbounded exact Jaccard is the wrong tool there by construction —
    # the LSH path (q_near_dup) is the full-corpus scale route.
    d = ensure_parallelism(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    )
    return jaccard_join(
        d, "doc_id", "text", n=3, threshold=NEAR_DUP_THRESHOLD, order="hash"
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition profile
    (operators/repetition.py): distinct ratio, top token/bigram
    occupancy, duplicate-bigram fraction — ALL from single-fold
    aggregates over each doc's own sorted token array (map-only, zero
    shuffles; plan-asserted)."""
    from lakehouse_ingestion_spark.operators.repetition import repetition_signals

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return repetition_signals(d, "text").select(
        "doc_id",
        "n_tokens",
        "distinct_ratio",
        "top_token_frac",
        "top_bigram_frac",
        "dup_bigram_frac",
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel view -> click -> purchase
    (operators/funnel.py): per-user greedy sequence match at strictly
    increasing timestamps via ONE groupBy(user) + array fold (no k-way
    self-joins); output = users reaching at least each stage."""
    from lakehouse_ingestion_spark.operators.funnel import funnel_counts

    # first 6 hours only: the full fixture month has every user complete
    # every stage, which would make the check undiscriminating (the 0-user
    # purchase row also exercises the missing-stage left-join path)
    e = _t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-01 06:00:00").cast("timestamp")
    )
    return funnel_counts(e, "user_id", "ts", "event_type", ["view", "click", "purchase"])


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention (operators/funnel.py): cohort = first
    active epoch-day bucket; one shuffle on user_id (window min over
    distinct activity buckets — no join-back)."""
    from lakehouse_ingestion_spark.operators.funnel import retention

    e = _t(spark, sf_dir, "events")
    return retention(e, "user_id", "ts", period_days=1).select(
        F.date_format("cohort_start", "yyyy-MM-dd").alias("cohort_start"),
        "period_offset",
        "n_users",
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators/sampling.group_cap): keep each
    source's 15 largest docs (ties by doc_id) — the anti-domination
    curation step; constant cap plans WindowGroupLimit (bounded map-side
    heap, shuffle carries <= cap rows/group/partition)."""
    from lakehouse_ingestion_spark.operators.sampling import group_cap

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return group_cap(d, "source", "doc_id", cap=15, order_by="n_chars").select(
        "doc_id", "source", "n_chars"
    )


def q_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster representative selection
    (operators/graph.cluster_representatives): the verified LSH pairs
    from q_near_dup clustered by connected components, then ONE doc per
    cluster survives — the largest (n_chars), ties to min id; singletons
    pass through. This is the operator that turns pair edges into an
    actual keep/drop decision."""
    from lakehouse_ingestion_spark.operators.graph import cluster_representatives

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    pairs = q_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    return cluster_representatives(d, pairs, "doc_id", "n_chars")


def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier screen per event type (operators/anomaly.py):
    per-group (mean, stddev_pop) via one partial-aggregated groupBy,
    stats broadcast back — only the per-group stats frame ever shuffles
    (a window formulation would shuffle the full table)."""
    from lakehouse_ingestion_spark.operators.anomaly import zscore_outliers

    e = ensure_parallelism(
        _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    )
    out = zscore_outliers(e, ["event_type"], "value", z=3.0)
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.round("group_mean", 6).alias("group_mean"),
        F.round("group_std", 6).alias("group_std"),
        "zscore",
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long melt (DataFrame.unpivot) of three lineitem measures,
    re-aggregated per (returnflag, metric) — the inverse of q_pivot,
    completing the reshaping pair. Decimal sums keep the money totals
    exact across engines."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )
    m = l.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )
    return m.groupBy("l_returnflag", "metric").agg(
        F.round(F.sum(F.col("val").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total")
    )


def q_incr_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Gold maintenance (operators/incremental.py): the
    per-event-type aggregate state is built from the first ~half of the
    stream, then TWO successive deltas fold in via partial-aggregate
    merge (associativity exercised); the finalized result must equal a
    full recompute — which is exactly what the oracle runs."""
    from lakehouse_ingestion_spark.operators.gold import AggSpec
    from lakehouse_ingestion_spark.operators.incremental import (
        finalize_aggregate,
        merge_aggregate_state,
    )

    e = _t(spark, sf_dir, "events")
    cut1 = F.lit("2024-01-12 00:00:00").cast("timestamp")
    cut2 = F.lit("2024-01-22 00:00:00").cast("timestamp")
    aggs = [
        AggSpec("count", "*", "n_events"),
        AggSpec("sum", "value", "total_value"),
        AggSpec("min", "value", "min_value"),
        AggSpec("max", "value", "max_value"),
    ]
    gb = ["event_type"]
    state = merge_aggregate_state(None, e.filter(F.col("ts") < cut1), gb, aggs)
    state = merge_aggregate_state(
        state, e.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)), gb, aggs
    )
    state = merge_aggregate_state(state, e.filter(F.col("ts") >= cut2), gb, aggs)
    out = finalize_aggregate(
        state, avg_pairs=[("total_value", "n_events", "avg_value")], round_to=6
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        "avg_value",
    )


def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (operators/sketches.py):
    per-NATION HLL sketches of ordering customers roll up to per-REGION
    estimates WITHOUT rescanning raw data — the count_distinct analog of
    incr_gold's state merge. The oracle cross-checks the sketch via the
    emitted contract: exact per-region counts (hash-exact) plus
    ``est_ok`` = estimate within 2.5% of exact, which the oracle asserts
    as literally true."""
    from lakehouse_ingestion_spark.operators.sketches import (
        distinct_sketches,
        estimate,
        rollup_sketches,
    )

    o = _t(spark, sf_dir, "orders").select("o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cu = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    per_nation = distinct_sketches(cu, ["r_name", "n_name"], "o_custkey")
    per_region = estimate(rollup_sketches(per_nation, ["r_name"]))
    exact = cu.groupBy("r_name").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    return per_region.join(exact, "r_name").select(
        "r_name",
        "exact_customers",
        (
            F.abs(F.col("estimate") - F.col("exact_customers"))
            <= F.col("exact_customers") * 0.025
        ).alias("est_ok"),
    )


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest quantile sketches (operators/sketches.py): one
    digest of o_totalprice per order priority, built as map-only
    per-partition partials merged per group — raw values never shuffle.
    The oracle contract mirrors sketch_rollup: exact per-group counts
    (hash-exact) plus rank-error booleans the oracle asserts as
    literally TRUE — ``ok_p50``/``ok_p95`` = the estimated quantile's
    true CDF position within 2% of the target rank (the t-digest
    guarantee with margin; compression=400 bounds interior rank error
    at ~0.4% per digestion)."""
    from lakehouse_ingestion_spark.operators.sketches import (
        merge_digest_quantiles,
        tdigest_partials,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    # r13 (guide §4): merge + estimate fused into ONE applyInPandas —
    # the separate digest_quantile ArrowEvalPython node is gone and the
    # estimates are bit-identical (pinned by test_r13_opt.py)
    part = tdigest_partials(o, ["o_orderpriority"], "o_totalprice")
    est = merge_digest_quantiles(
        part, ["o_orderpriority"], {"__e50": 0.5, "__e95": 0.95}
    )
    j = o.join(F.broadcast(est), "o_orderpriority")
    cdf50 = F.avg((F.col("o_totalprice") <= F.col("__e50")).cast("double"))
    cdf95 = F.avg((F.col("o_totalprice") <= F.col("__e95")).cast("double"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.abs(cdf50 - 0.5) <= 0.02).alias("ok_p50"),
        (F.abs(cdf95 - 0.95) <= 0.02).alias("ok_p95"),
    )


def q_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE path of the t-digest surface: per-NATION digests of
    customer account balance roll up to per-REGION digests without
    rescanning raw data (the percentile analog of sketch_rollup's HLL
    union — exactly what operators/incremental.py rejects for exact
    percentiles and delegates here). Rank-error contract at the coarser
    grain: merged-estimate CDF position within 3% of target (merging
    adds at most a couple of bin widths of rank error)."""
    from lakehouse_ingestion_spark.operators.sketches import (
        merge_digest_quantiles,
        quantile_sketches,
    )

    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cu = c.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    per_nation = quantile_sketches(cu, ["r_name", "n_name"], "c_acctbal")
    # r13 (guide §4): the region-level merge and the quantile estimates
    # fuse into ONE applyInPandas (the per-NATION digest stage above is
    # the query's merge-path contract and stays); estimates bit-identical
    est = merge_digest_quantiles(
        per_nation, ["r_name"], {"__e50": 0.5, "__e90": 0.9}
    )
    j = cu.join(F.broadcast(est), "r_name")
    cdf50 = F.avg((F.col("c_acctbal") <= F.col("__e50")).cast("double"))
    cdf90 = F.avg((F.col("c_acctbal") <= F.col("__e90")).cast("double"))
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.abs(cdf50 - 0.5) <= 0.03).alias("ok_p50"),
        (F.abs(cdf90 - 0.9) <= 0.03).alias("ok_p90"),
    )


TOPK_MIN_SHARE = 0.002  # shared with the DuckDB mirror


def q_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent words over the documents corpus via the two-pass
    sketch-then-confirm heavy hitters (operators/frequent.py):
    per-partition Misra-Gries candidates (bounded memory, no false
    negatives above the threshold) + one exact count pass over the
    broadcast candidate set. EXACT output — same rows the full groupBy
    would produce, shuffling only candidate-item rows."""
    from lakehouse_ingestion_spark.operators.frequent import frequent_items

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return frequent_items(toks, "tok", min_share=TOPK_MIN_SHARE)


WSAMPLE_EXPECTED = 200.0  # shared with the DuckDB mirror


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Poisson sampling (operators/sampling.py):
    documents kept with probability proportional to length (n_chars),
    expected sample size 200 — the mixture-weighting sampler where the
    TOKEN budget, not the doc count, follows the target distribution.
    Membership is a pure content-hash function, so both engines select
    the identical sample; summarized per language for a compact
    hash-exact check."""
    from lakehouse_ingestion_spark.operators.sampling import weighted_sample

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    s = weighted_sample(d, "doc_id", "n_chars", expected_n=WSAMPLE_EXPECTED)
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


_pit_built_for: str | None = None
_PIT_DIM_PATH = "/tmp/spark_graft_pit_dim"


def pit_build(spark: SparkSession, sf_dir: str) -> None:
    """Build phase of q_pit_join: materialize the SCD2 dimension to
    parquet. In production the Type-2 dimension is an ingest-time
    artifact maintained by scd2_merge, not something every probe query
    recomputes from raw history — so the bench bills the dim build to
    pit_join_build and the probe measures only the join, which is what
    a fact-enrichment workload actually pays per query. Reading the dim
    from parquet also gives the planner real size statistics, so the
    small dimension side broadcasts (plan-asserted in
    tests/test_plan_audit.py)."""
    global _pit_built_for
    e = _t(spark, sf_dir, "events")
    dim = scd2_from_history(
        e, ["user_id"], "ts", attr_columns=["event_type"], tiebreakers=["event_id"]
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    dim.write.mode("overwrite").parquet(_PIT_DIM_PATH)
    _pit_built_for = sf_dir


def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/scd.pit_join): every purchase event
    enriched with the SCD2 state its user held THREE HOURS LATER (the
    offset makes the matched version vary — joining at the event's own
    ts would trivially match the version the event itself opened).
    Non-overlapping intervals mean at most one match per fact; plain
    equi-join on user_id with the interval residual. The dimension is a
    pre-built parquet artifact (pit_build) — the standard warehouse
    shape where SCD2 maintenance is ingest-time work."""
    from lakehouse_ingestion_spark.operators.scd import pit_join

    if _pit_built_for != sf_dir:
        pit_build(spark, sf_dir)
    e = _t(spark, sf_dir, "events")
    dim = spark.read.parquet(_PIT_DIM_PATH)
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 3 HOURS")).alias("asof_ts"),
    )
    out = pit_join(facts, dim, ["user_id"], "asof_ts")
    return out.select(
        "event_id",
        "user_id",
        "state",
        F.date_format("valid_from", TS_FMT).alias("valid_from"),
    )


def q_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (operators/editdist.py, PassJoin
    segment filtering): customer-name pairs within Levenshtein 1 over a
    fixed 400-key slice (structured identifiers with long shared
    prefixes — exactly where q-gram filters prune nothing and the
    pigeonhole segment index shines). Verified exact: candidates from
    the segment equi-join, distances from levenshtein with early-out."""
    from lakehouse_ingestion_spark.operators.editdist import edit_distance_join

    c = ensure_parallelism(
        _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    )
    return edit_distance_join(c, "c_custkey", "c_name", k=1)


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frames (the value-based complement to
    q_window_frames' ROWS frames): per-user rolling 1-hour event count
    and value sum. The frame bound is on epoch SECONDS (both engines
    floor to whole seconds, so frame membership is identical); RANGE
    frames include all peers of the current order value, making the
    result independent of intra-tie row order."""
    e = _t(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/chunking.py): 32-token windows
    every 24 tokens (8-token overlap) — map-only explode, zero shuffles."""
    from lakehouse_ingestion_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_size=32, stride=24)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (operators/decontaminate.py): every
    53rd document plays the held-out eval set, the rest are the training
    corpus; overlap = shared distinct word-3-grams against the broadcast
    eval n-gram set, contaminated at >= 2."""
    from lakehouse_ingestion_spark.operators.decontaminate import decontaminate

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    ev = d.filter(F.col("doc_id") % 53 == 0)
    tr = d.filter(F.col("doc_id") % 53 != 0)
    return decontaminate(tr, ev, threshold=2)


VOCAB_MAX = 1000  # shared with the DuckDB mirror


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary (operators/text_ranking.build_vocab):
    deterministic (count desc, term asc) ids, capped at VOCAB_MAX."""
    from lakehouse_ingestion_spark.operators.text_ranking import build_vocab

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return build_vocab(d, max_size=VOCAB_MAX)


def q_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary encoding of the corpus: (doc_id, pos, token_id) rows
    with OOV positions dropped; the capped vocab broadcasts."""
    from lakehouse_ingestion_spark.operators.text_ranking import (
        build_vocab,
        tokens_to_ids,
    )

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    vocab = build_vocab(d, max_size=VOCAB_MAX)
    return tokens_to_ids(d, vocab)


# budget = (corpus token total) // TOKEN_BUDGET_DENOM — scales with SF so
# the query exercises the boundary partition at every bench scale
TOKEN_BUDGET_DENOM = 4


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-bounded corpus selection (operators/selection.py): fill a
    token budget (25% of the corpus) with the highest-scoring documents
    — the distributed prefix-sum that replaces the single-partition
    ``SUM() OVER (ORDER BY ...)`` window. The score stands in for an
    upstream model's quality score (a deterministic integer so both
    engines order identically); cost is the whitespace token count.
    Partitions whose running offset already exceeds the budget are
    pruned before any per-row work — at a 1% budget, 99% of the corpus
    is never touched after the range exchange."""
    from lakehouse_ingestion_spark.operators.selection import token_budget_select

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(1000003))
        .cast("long")
        .alias("score"),
        token_count("text").alias("n_tokens"),
    )
    total = scored.agg(F.sum("n_tokens")).collect()[0][0]
    budget = int(total) // TOKEN_BUDGET_DENOM
    return token_budget_select(
        scored, "score", "n_tokens", budget, "doc_id", cum_col="cum_tokens"
    )


def q_share_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mass-share admission LEDGER replay (streaming/budget.py
    admit_epoch_share — r11 verdict task #6): a fixed 3-epoch sequence
    of document batches (epoch = doc_id % 3, score = n_chars) through
    the real foreachBatch body on batch frames, the same replay-oracle
    pattern as cdc_apply.  This oracle-hashes the cross-epoch accrual
    algebra itself — ``allowed_e = round(p·seen_e, 6) − admitted_{e−1}``
    with best-first fill and the crossing row included — which until
    r12 had pytest-only evidence.  p = 0.5 so every boundary value is
    exact in binary and both engines compare identical doubles.  The
    returned frame is the union of the three epochs' admitted rows with
    their running cum_score (prev-in-epoch + score + admitted mass of
    all prior epochs) — the full sink surface, not just membership."""
    import shutil

    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    base = "/tmp/spark_graft_share_admit"
    shutil.rmtree(base, ignore_errors=True)
    out_path, ledger_path = f"{base}/out", f"{base}/ledger"
    # no ensure_parallelism (r12): the admission's prefix-sum window is
    # a single-partition sort anyway, and the projection is trivial — a
    # pre-shuffle fan-out added one round-robin exchange per epoch scan
    # for nothing (results are a pure function of the rows, unchanged)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("score")
    )
    for e in range(3):
        admit_epoch_share(
            d.filter(F.col("doc_id") % 3 == e),
            e,
            out_path=out_path,
            ledger_path=ledger_path,
            score_col="score",
            p=0.5,
            key_col="doc_id",
        )
    res = spark.read.parquet(out_path)
    return res.select(
        "doc_id",
        F.col("_epoch").cast("long").alias("epoch"),
        "score",
        "cum_score",
    )


def q_source_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source priority dedup (operators/dedup.dedup_by_priority):
    every 7th document also arrives via a higher-priority 'mirror'
    source (the curated-dump-vs-crawl overlap); per content fingerprint
    ONE copy survives — the mirror one where it exists, min-id
    otherwise — with provenance counts. Same ONE-exchange max_by shape
    as dedup_content; the priority mapping is a pure CASE projection."""
    from lakehouse_ingestion_spark.operators.dedup import dedup_by_priority

    # fingerprint computed ONCE per base row, then the mirror copy fans
    # out via explode with the fp attached — a union of two scans would
    # normalize+md5 the corpus twice (sf10 A/B: 3.55 -> 3.25 s; most of
    # the remaining cost is the single md5 pass, same class as the
    # documented md5-bound dedup_exact row)
    base = ensure_parallelism(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source", fingerprint_md5(F.col("text")).alias("fp")
    )
    one = F.struct(F.col("doc_id"), F.col("source"))
    two = F.struct(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.lit("mirror").alias("source"),
    )
    copies = F.when(
        F.col("doc_id") % 7 == 0, F.array(one, two)
    ).otherwise(F.array(one))
    un = base.select(F.explode(copies).alias("c"), "fp").select(
        F.col("c.doc_id").alias("doc_id"),
        F.col("c.source").alias("source"),
        "fp",
    )
    out = dedup_by_priority(un, {"mirror": 5}, fingerprint_col="fp")
    return out.select("doc_id", "source", "n_copies", "n_sources")


SEMDECON_TAU = 0.92  # probed margins: min |max_cos - tau| >= 0.08 at
# sf0.01/sf0.1/sf1, so rounded-cosine threshold membership cannot flip
# between the numpy and DuckDB float paths on any test fixture


def q_semantic_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic train/eval decontamination (operators/semantic_decon.py):
    every 97th embedding plays the held-out eval set; each training
    vector gets its max rounded cosine against the eval matrix, the
    nearest eval id (ties to smallest), and a contaminated flag at
    tau=0.92. ONE map-only BLAS pass with the eval matrix shipped in
    the UDF closure — no shuffle, no join, no candidate generation
    (the n-gram screen's broadcast asymmetry, embedding-side)."""
    from lakehouse_ingestion_spark.operators.semantic_decon import (
        semantic_decontaminate,
    )

    e = ensure_parallelism(_t(spark, sf_dir, "embeddings"))
    ev = e.filter(F.col("vec_id") % 97 == 0)
    tr = e.filter(F.col("vec_id") % 97 != 0).select("vec_id", "embedding")
    out = semantic_decontaminate(tr, ev, threshold=SEMDECON_TAU)
    return out.select("vec_id", "max_cos", "nearest_eval_id", "contaminated")


def q_domain_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum budget selection (operators/selection.py,
    token_budget_select with strata_col): every source fills 25% of ITS
    OWN token total with its best documents — the mixture-shaping
    counterpart of q_token_budget.  Same two-pass distributed prefix sum, but the
    totals pass is (partition, stratum)-level and the budgets mapping is
    a config-sized dict (computed here from one bounded groupBy — one
    row per source)."""
    from lakehouse_ingestion_spark.operators.selection import token_budget_select

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "source",
        ((F.col("doc_id") * F.lit(2654435761)) % F.lit(1000003))
        .cast("long")
        .alias("score"),
        token_count("text").alias("n_tokens"),
    )
    budgets = {
        r["source"]: int(r["t"]) // TOKEN_BUDGET_DENOM
        for r in scored.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    return token_budget_select(
        scored, "score", "n_tokens", budgets, "doc_id", strata_col="source",
        cum_col="cum_tokens",
    )


SHARD_N = 16


def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export shuffle (operators/export.py):
    every document gets a content-hash shuffle position, a shard
    (position mod SHARD_N — uniform by construction, no size
    measurement needed) and its 1-based rank within the shard. The rank
    window partitions by shard, so parallelism equals the shard count —
    never a global sort. export_shards writes this same frame as
    shard=K/ directories (pytest-verified); the query checks the
    assignment + ordering algebra against the md5 mirror."""
    from lakehouse_ingestion_spark.operators.export import shard_assign

    # no ensure_parallelism: the only pre-exchange work is the md5
    # projection (trivial per row), and the rank window's exchange
    # redistributes immediately — the extra round-robin shuffle measured
    # 1.5x slower at sf10 (1.35 vs 0.89 s median-of-3, BASELINE r9)
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = shard_assign(d, "doc_id", SHARD_N, seed="export")
    return out.select(
        "doc_id", "lang", "shard", F.col("pos").cast("long").alias("pos")
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-crawl text extraction (functions/extraction.py): each doc is
    wrapped in a deterministic HTML page (script/style payloads, block
    tags, comments, double-encoded entities, a too-short nav item) and
    recovered with the pure-codegen regexp chain + the C4-style
    boilerplate line filter. The whole pass is JVM whole-stage codegen —
    no UDF, no Arrow hop; the oracle replays the IDENTICAL RE2-safe
    pattern chain (single source of truth: extraction.HTML_STRIP_STEPS)."""
    from lakehouse_ingestion_spark.functions.extraction import (
        boilerplate_line_filter,
        html_to_text,
    )

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit(
            '<html><head><title>d</title><script type="text/javascript">'
            "var x = 1 < 2;</script><style>p { color: red; }</style></head>"
            "<body><h1>"
        ),
        F.col("lang"),
        F.lit("</h1>\n<p>"),
        F.substring(F.col("text"), 1, 160),
        F.lit(
            ' &amp; tail.</p><!-- hidden comment --><div class="x">'
            "Second &lt;block&gt; ends here.</div>"
            "<ul><li>item one is long enough to keep.</li><li>nav</li></ul>"
            "</body></html>"
        ),
    )
    ext = html_to_text(html)
    return d.select(
        "doc_id",
        ext.alias("extracted"),
        boilerplate_line_filter(ext, min_chars=20).alias("content"),
        F.length(ext).cast("long").alias("n_chars_extracted"),
    )


# cross-engine CMS shape: the fixture's vocabulary is only ~31 distinct
# tokens, so the QUERY width is deliberately narrow (32) to force real
# bucket collisions — the one-sided-error path must be oracle-exercised,
# not trivially exact (probed: 3 of 31 tokens genuinely overcount at
# width 32, 0 at 64). The operator default stays 4096; depth 4 is the
# textbook default
CMS_DEPTH = 4
CMS_WIDTH = 32
# winnowing: k=8 char-grams, window 16 -> guarantee length 23 chars,
# expected density 2/17 of k-grams; min_shared 8 targets real copied
# spans on the dup-heavy fixture; cap 50 drops boilerplate fingerprints
WINNOW_K = 8
WINNOW_W = 16
WINNOW_MIN_SHARED = 8
WINNOW_CAP = 50


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates vs exact counts for the top-100
    document tokens (operators/cms.py). The oracle rebuilds the SAME
    md5-bucketed sketch in SQL, so ``cms_est`` compares bit-for-bit —
    including the collision inflation the deliberately narrow width
    forces on this small-vocabulary fixture (est >= exact is the CMS
    one-sided contract, and the emitted ``overcount`` column makes any
    violation a visible hash break, not a silent one).
    Build is ONE map-side-combined groupBy over a depth-way posexplode;
    estimation broadcasts the bounded sketch (<= depth*width rows)."""
    from lakehouse_ingestion_spark.operators.cms import cms_build, cms_estimate

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    toks = d.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    # r12 (guide §2.3 "aggregate before you shuffle"): tokenize + count
    # ONCE, then build the sketch from the vocab table with the counts
    # as weights — sum(weight) over distinct tokens IS sum(1) over
    # occurrences, so the counters are bit-identical, while the 4-way
    # md5 fan-out runs per DISTINCT token instead of per corpus token
    # (the corpus was tokenized twice and md5-hashed occurrence-wise
    # before; at 100 TB vocab ≪ corpus is the difference between
    # hashing terabytes and hashing megabytes).
    # r13 cache hygiene (guide §5, r12 verdict item 3): eager
    # localCheckpoint instead of persist — the r12 persist() was never
    # released and pinned the vocab into executor storage past the
    # query's action; checkpoint blocks are freed by the caller's
    # release_local_checkpoint (the bench contract).
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=True)
    )
    counters = cms_build(
        exact, "token", depth=CMS_DEPTH, width=CMS_WIDTH, weight_col="exact_cnt"
    )
    top = exact.orderBy(F.desc("exact_cnt"), "token").limit(100)
    est = cms_estimate(counters, top, "token", depth=CMS_DEPTH, width=CMS_WIDTH)
    return est.select(
        "token",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint overlap pairs (operators/winnow.py): MOSS
    local fingerprints (k=8 char-grams, window 16 — any shared span of
    >= 23 normalized chars is GUARANTEED to share a fingerprint), hot
    fingerprints capped at 50 postings, pairs sharing >= 8 fingerprints.
    Fingerprinting is two stacked map-only projections (hash array
    materialized between them — interpreted HOFs get no CSE); the only
    exchanges are the fp-keyed cap and pair join — never all-pairs.
    The REGISTRY query samples doc_id % 5 == 0 (identically on both
    engines): per-position md5 makes fingerprinting ~10x the per-char
    cost of the shingle family, and the 1/5 sample keeps the sf10
    registry sweep in the near-dup siblings' cost class — the operator
    itself is full-corpus and linear."""
    from lakehouse_ingestion_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_overlap,
    )

    d = ensure_parallelism(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    )
    # pin the posting rows (r12): the overlap pipeline reads them
    # three ways (posting-cap groupBy + both sides of the pair
    # self-join) and without the pin the per-position md5
    # fingerprinting — the single most expensive projection in this
    # query — re-ran once per read (4 independent scan+fingerprint
    # subtrees in the before-plan). r13 cache hygiene (guide §5, r12
    # verdict item 3): eager localCheckpoint instead of the leaked
    # persist() — blocks are freed by the caller's
    # release_local_checkpoint after its action (the bench contract).
    fps = winnow_fingerprints(d, k=WINNOW_K, w=WINNOW_W).localCheckpoint(
        eager=True
    )
    ov = winnow_overlap(
        fps, min_shared=WINNOW_MIN_SHARED, max_postings=WINNOW_CAP
    )
    return ov.select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "shared"
    )


def q_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (operators/er.py): blocking -> Levenshtein
    match -> connected components. The dirty-name fixture is synthesized
    deterministically from customer (three spelling variants per entity:
    canonical 8-hex stem, first-char doubled, 'x' appended — edits at
    BOTH ends, so only multi-pass prefix+suffix blocking co-buckets all
    three), the same synthesize-the-mess pattern as source_canonical's
    mirror copies. cluster = min record id over the transitive closure;
    the oracle replays blocking+cap+distance in SQL and closes the
    clusters with a recursive CTE."""
    from lakehouse_ingestion_spark.operators.er import resolve_entities

    c = _t(spark, sf_dir, "customer")
    ent = F.substring(
        F.md5(F.expr("c_custkey div 3").cast("string")), 1, 8
    )
    variant = F.col("c_custkey") % 3
    name = (
        F.when(variant == 0, ent)
        .when(variant == 1, F.concat(F.substring(ent, 1, 1), ent))
        .otherwise(F.concat(ent, F.lit("x")))
    )
    nodes = c.select(F.col("c_custkey").alias("rec_id"), name.alias("name"))
    out = resolve_entities(
        nodes, "rec_id", "name", max_edit_distance=1, max_block=100
    )
    return out.select("rec_id", "name", "cluster")


def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized min-max scaling (operators/stats.robust_scale):
    l_extendedprice clamped to its per-returnflag [p05, p95] and mapped
    to [0, 1]. ONE exact-percentile aggregate + broadcast edge join +
    pure projection — no window, no second scan. Raw IEEE quotients are
    returned un-rounded (both engines divide identical doubles, so the
    values are bit-identical; in-engine round() semantics differ —
    Spark HALF_UP on shortest repr vs DuckDB on binary — and would be
    the only divergence risk)."""
    from lakehouse_ingestion_spark.operators.stats import robust_scale

    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_extendedprice").alias("price"),
    )
    out = robust_scale(
        l, "price", ["l_returnflag"], p_lo=0.05, p_hi=0.95, ndigits=None
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "price", "scaled"
    )


# ===========================================================================
# DuckDB oracle SQL
# ===========================================================================

_H60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def _duck_lit(s: str) -> str:
    """DuckDB string literal; real newlines are spliced as chr(10)
    (single-quoted strings have no escape processing in DuckDB, so the
    regex backslashes pass through untouched — only actual newline
    characters need the chr splice)."""
    parts = s.split("\n")
    out: list[str] = []
    for i, p in enumerate(parts):
        if p:
            out.append("'" + p.replace("'", "''") + "'")
        if i < len(parts) - 1:
            out.append("chr(10)")
    return " || ".join(out) if out else "''"


def _duck_html_chain(col: str) -> str:
    """The html_to_text regexp chain over ``col`` — generated from the
    SAME step table the Spark side runs (extraction.HTML_STRIP_STEPS:
    single source of truth, RE2-safe by construction)."""
    from lakehouse_ingestion_spark.functions.extraction import HTML_STRIP_STEPS

    expr = col
    for pat, rep in HTML_STRIP_STEPS:
        expr = f"regexp_replace({expr}, {_duck_lit(pat)}, {_duck_lit(rep)}, 'g')"
    return f"trim({expr})"


def _duck_shingles_cte() -> str:
    """CTE producing (doc_id, sh) word-3-gram distinct shingles, mirroring
    functions.similarity.shingles(text, 3, 'word')."""
    return f"""
toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')
         END AS tk
  FROM documents
),
sh_t AS (
  SELECT doc_id,
         CASE WHEN len(tk) - 2 <= 0 THEN []::VARCHAR[]
              ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                                                i -> array_to_string(tk[i:i+2], ' ')))
         END AS sh
  FROM toks
)"""


def _duck_hashed_cte() -> str:
    """CTE producing (doc_id, hs): distinct 60-bit md5 hashes of the
    shingles, mirroring array_distinct(shingle_hashes(sh)) — the basis
    for the hash-space Jaccard verification."""
    return (
        "hsh AS (\n"
        "  SELECT doc_id,\n"
        f"         list_distinct(list_transform(sh, s -> {_H60.format(x='s')} "
        f"% {MERSENNE_P})) AS hs\n"
        "  FROM sh_t\n)"
    )


def _duck_minhash_exprs(prefix: str = "sh") -> list[str]:
    exprs = []
    for i, (a, b) in enumerate(MH_COEFFS):
        exprs.append(
            f"COALESCE(list_min(list_transform({prefix}, "
            f"s -> ({a} * ({_H60.format(x='s')} % {MERSENNE_P}) + {b}) % {MERSENNE_P})), "
            f"{MERSENNE_P}) AS m{i}"
        )
    return exprs


def _duck_quality_base() -> str:
    """CTE `qbase` with per-doc token/char stats (empty-text guarded to
    match functions.text.tokens)."""
    sw = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return f"""qbase AS (
  SELECT doc_id,
         lang,
         text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '')) END AS n_tok,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_filter(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> ''),
                                   x -> x IN ({sw}))) END AS sw_hits
  FROM documents
)"""


_DUCK_QUALITY_EXPR = """round(
         0.25 * (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
         + 0.25 * (CASE WHEN n_tok > 0 AND n_chars::DOUBLE / n_tok >= 2.0
                         AND n_chars::DOUBLE / n_tok <= 12.0 THEN 1.0 ELSE 0.0 END)
         + 0.25 * (CASE WHEN n_chars = 0 THEN 0.0
                        ELSE least(alpha_chars::DOUBLE / n_chars * 1.25, 1.0) END)
         + 0.25 * (CASE WHEN sw_hits > 0 THEN 1.0 ELSE 0.0 END),
       6)"""


def _duck_quality_sql() -> str:
    return f"""
WITH {_duck_quality_base()}
SELECT doc_id,
       n_tok::BIGINT AS n_tokens,
       {_DUCK_QUALITY_EXPR} AS quality
FROM qbase
"""


def _duck_lang_sql() -> str:
    langs = sorted(LANG_MARKERS)
    count_exprs = []
    for lang in langs:
        words = ", ".join(f"'{w.lower()}'" for w in LANG_MARKERS[lang])
        count_exprs.append(
            f"len(list_filter(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> ''), "
            f"x -> x IN ({words}))) AS c_{lang}"
        )
    best = "greatest(" + ", ".join(f"c_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN c_{lang} = best AND best > 0 THEN '{lang}'" for lang in langs
    ) + " ELSE 'und' END"
    return f"""
WITH c AS (SELECT doc_id, lang, {', '.join(count_exprs)} FROM documents),
b AS (SELECT *, {best} AS best FROM c)
SELECT doc_id, lang, {case} AS pred_lang FROM b
"""


def _duck_ann_ivf_refined_sql() -> str:
    """ann_ivf_refined mirror: one Lloyd pass (nearest-seed assignment,
    per-dimension rounded avg per cell, empty cells keep their seed) then
    the standard IVF probe/score/top-k. The 64 avg expressions are
    generated mechanically, like the simhash bit votes."""
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    means = ", ".join(f"round(avg(x.v[{i + 1}]), 6)" for i in range(EMB_DIM))
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < 8),
vecs AS (SELECT vec_id, v FROM emb WHERE vec_id >= 18),
qs AS (SELECT vec_id, v FROM emb WHERE vec_id >= 8 AND vec_id < 18),
assign0 AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
             {cos.format(a="x.v", b="c.cv")} DESC, c.cid ASC) AS r
    FROM vecs x CROSS JOIN cent0 c) WHERE r = 1),
means AS (
  SELECT a.cell AS cid, [{means}] AS mv
  FROM assign0 a JOIN vecs x USING (vec_id) GROUP BY a.cell),
cent AS (
  SELECT c0.cid, coalesce(m.mv, c0.cv) AS cv
  FROM cent0 c0 LEFT JOIN means m USING (cid)),
assign AS (
  SELECT vec_id AS neighbor_id, cid AS cell FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
             {cos.format(a="x.v", b="c.cv")} DESC, c.cid ASC) AS r
    FROM vecs x CROSS JOIN cent c) WHERE r = 1),
probes AS (
  SELECT vec_id AS q_id, cid AS cell FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
             {cos.format(a="x.v", b="c.cv")} DESC, c.cid ASC) AS r
    FROM qs x CROSS JOIN cent c) WHERE r <= 2),
cand AS (
  SELECT DISTINCT p.q_id, a.neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE p.q_id <> a.neighbor_id),
scored AS (
  SELECT cand.q_id, cand.neighbor_id,
         {cos.format(a="q.v", b="n.v")} AS cos_sim
  FROM cand JOIN qs q ON q.vec_id = cand.q_id
            JOIN vecs n ON n.vec_id = cand.neighbor_id)
SELECT q_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rk
FROM scored QUALIFY rk <= 3
"""


def _duck_simhash_sql() -> str:
    """SimHash mirror: explode tokens, 60 per-bit vote sums, weighted
    recombination — generated programmatically (mechanical but exact)."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    weighted = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')) AS tok
  FROM documents WHERE trim(text) <> ''
),
h AS (SELECT doc_id, {_H60.format(x='tok')} AS th FROM toks),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
-- empty documents have no tokens -> simhash 0 (Spark emits 0 for them)
SELECT d.doc_id, coalesce(({weighted})::BIGINT, 0) AS simhash
FROM documents d LEFT JOIN votes USING (doc_id)
"""


def _duck_ann_lsh_sql() -> str:
    """Random-hyperplane LSH mirror: per-plane sign bits concatenated into
    a bucket id, exact cosine within the bucket."""
    bits = []
    for plane in LSH_PLANES:
        arr = "[" + ", ".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN round(list_dot_product(v, {arr}), 9) >= 0 THEN '1' ELSE '0' END)"
        )
    bucket = " || ".join(bits)
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, {bucket} AS bucket FROM emb),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bucketed WHERE vec_id < 20),
cand AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM bucketed WHERE vec_id >= 20),
pairs AS (
  SELECT q.q_id, cand.neighbor_id,
         round(list_dot_product(q.qv, cand.cv)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cand.cv, cand.cv))),
               6) AS cos_sim
  FROM q JOIN cand ON q.bucket = cand.bucket
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
  FROM pairs
)
SELECT q_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 3
"""


def _with_pii(d: DataFrame) -> DataFrame:
    """Deterministically inject PII-shaped strings (the fixture corpus
    has none): every doc gets an email/phone/IP keyed off doc_id; docs
    with doc_id % 3 == 0 also get an SSN + card. Both engines apply the
    identical injection, so the scrub contract is what's compared."""
    extra = F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 250).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(" ssn 123-45-6789 card 4111-1111-1111-1111"),
        ).otherwise(F.lit("")),
    )
    return d.withColumn("text", F.concat(F.col("text"), extra))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text PII scrubbing (operators/pii.scrub_text): email / card /
    SSN / phone / IPv4 regexes in one fused JVM projection — per-doc
    match counts (audit trail) plus the rewritten text, zero shuffles.
    The fixture corpus carries no PII, so both engines first apply the
    same deterministic doc_id-keyed injection."""
    from lakehouse_ingestion_spark.operators.pii import scrub_text

    d = _with_pii(ensure_parallelism(_t(spark, sf_dir, "documents")))
    out = scrub_text(d, text_col="text", out_col="scrubbed")
    return out.select(
        "doc_id",
        "scrubbed",
        "pii_email_n",
        "pii_credit_card_n",
        "pii_ssn_n",
        "pii_phone_n",
        "pii_ipv4_n",
    )


LINE_DEDUP_TOKENS_PER_LINE = 3
LINE_DEDUP_MAX_OCCUR = 2


def _as_lines(d: DataFrame, ntok: int) -> DataFrame:
    """Regroup each doc's tokens into ntok-token newline-joined lines
    (the fixture is single-line word soup; real corpora arrive with
    newlines already). Mirrored exactly in the DuckDB oracle."""
    from lakehouse_ingestion_spark.functions.text import tokens

    # tokens() never emits '' (r12 parity posture) — but it LOWERCASES
    # nothing and the regroup is case-preserving, so use it directly
    tk = tokens(F.col("text"))
    # sequence(0, -1) DESCENDS in Spark — guard the empty-token case
    nlines = F.ceil(F.size(tk) / ntok).cast("int")
    lines = F.when(
        nlines > 0,
        F.transform(
            F.sequence(F.lit(0), nlines - 1),
            lambda i: F.array_join(F.slice(tk, i * ntok + 1, ntok), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.withColumn("text", F.array_join(lines, "\n"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal
    (operators/linededup.dedup_lines): posexplode lines, ONE md5-keyed
    count shuffle across the corpus, drop lines occurring more than
    LINE_DEDUP_MAX_OCCUR times, reassemble in document order via
    struct-sort. The fixture is regrouped into 3-token lines first so
    line frequencies are non-degenerate."""
    from lakehouse_ingestion_spark.operators.linededup import dedup_lines

    d = _as_lines(
        ensure_parallelism(_t(spark, sf_dir, "documents")),
        LINE_DEDUP_TOKENS_PER_LINE,
    )
    out = dedup_lines(d, max_occurrences=LINE_DEDUP_MAX_OCCUR)
    return out.select("doc_id", "text", "n_lines_dropped")


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity filtering signal (operators/lm_score):
    KenLM-shaped add-1 bigram model trained on the corpus itself
    (the CCNet self-scoring setup), scored as mean -log2 P(w|prev)
    per document. Model counts broadcast; scoring is one shuffle."""
    from lakehouse_ingestion_spark.operators.lm_score import (
        self_score_perplexity,
    )

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    out = self_score_perplexity(d, k=1.0)
    return out.select(
        "doc_id", F.round("bits_per_token", 6).alias("bits_per_token")
    )


SEMDEDUP_THRESHOLD = 0.5
SEMDEDUP_BITS = 6


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/semdedup): deterministic
    sign-orthant bucketing + intra-bucket cosine, keep the smallest id
    of every tight neighborhood. keep=False rows are the drop set."""
    from lakehouse_ingestion_spark.operators.semdedup import semantic_dedup

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings"))
    out = semantic_dedup(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        threshold=SEMDEDUP_THRESHOLD,
        n_bits=SEMDEDUP_BITS,
    )
    return out.select("vec_id", "label", "keep")


HIST_BINS, HIST_LO, HIST_HI = 8, 0.0, 600_000.0


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (operators/stats.equi_width_histogram) with
    EXPLICIT bounds: the bucket id is a pure projection, so the whole
    histogram is one map-side-combined aggregate; out-of-range rows
    clamp into the edge buckets."""
    from lakehouse_ingestion_spark.operators.stats import equi_width_histogram

    o = _t(spark, sf_dir, "orders")
    return equi_width_histogram(
        o, "o_totalprice", HIST_BINS, lo=HIST_LO, hi=HIST_HI
    ).select(
        F.col("bucket").cast("long").alias("bucket"),
        "bucket_lo",
        "bucket_hi",
        "n",
    )


def q_corr_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group correlation/covariance panel (operators/stats
    .grouped_corr): all co-moment partials fold map-side in ONE
    aggregate pass; round(5) bounds cross-engine fold-order drift."""
    from lakehouse_ingestion_spark.operators.stats import grouped_corr

    li = _t(spark, sf_dir, "lineitem")
    return grouped_corr(
        li,
        ["l_returnflag"],
        [("l_quantity", "l_extendedprice"), ("l_discount", "l_tax")],
    )


def q_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (ntile) bucketing (operators/stats
    .quantile_buckets) over the supplier dimension — the unique-key
    tiebreak makes the assignment total and oracle-checkable."""
    from lakehouse_ingestion_spark.operators.stats import quantile_buckets

    s = _t(spark, sf_dir, "supplier")
    out = quantile_buckets(
        s, "s_acctbal", 4, tiebreak=["s_suppkey"]
    )
    return out.select(
        "s_suppkey",
        "s_acctbal",
        F.col("q_bucket").cast("long").alias("q_bucket"),
    )


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile (operators/profile.profile_table,
    exact_distinct for the oracle): per-column null/distinct counts and
    string-cast extrema from ONE fused aggregate + a 1-row stack.
    avg_len is dropped from the oracle row (float .xx5 round ties are
    engine-divergent; it stays pytest-covered); profiled columns are
    int/string/date typed so string casts agree across engines."""
    from lakehouse_ingestion_spark.operators.profile import profile_table

    o = _t(spark, sf_dir, "orders")
    out = profile_table(
        o,
        ["o_orderstatus", "o_orderpriority", "o_orderkey", "o_custkey"],
        exact_distinct=True,
    )
    return out.select(
        "col_name", "n_rows", "n_null", "n_distinct", "min_str", "max_str"
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version diff (operators/diff.snapshot_diff): the 'new'
    snapshot is built deterministically from the fixture (drop
    doc_id%7==0, append ' v2' to text where doc_id%5==0, add shifted
    copies where doc_id%11==0) so both engines diff identical inputs.
    One full-outer join on the key; length-prefixed null-tagged md5
    content hashes."""
    from lakehouse_ingestion_spark.operators.diff import snapshot_diff

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    base = d.where(did % 7 != 0)
    modified = base.withColumn(
        "text",
        F.when(did % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    added = d.where(did % 11 == 0).withColumn("doc_id", did + 1000000)
    new = modified.unionByName(added)
    out = snapshot_diff(d, new, ["doc_id"], ["text", "lang", "source"])
    return out.select("doc_id", "old_hash", "new_hash", "diff_status")


RESAMPLE_STEP = 3600


def q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly grid with forward fill (operators/resample):
    bucket -> last-per-cell aggregation -> per-key sequence explode ->
    grid join -> one ffill window. Grid timestamps emitted as epoch
    seconds (both engines floor identically)."""
    from lakehouse_ingestion_spark.operators.resample import resample_ffill

    e = _t(spark, sf_dir, "events")
    out = resample_ffill(
        e, ["user_id"], "ts", "value", RESAMPLE_STEP
    )
    return out.select(
        "user_id",
        F.unix_timestamp("grid_ts").alias("grid_epoch"),
        "value",
        "value_ffill",
    )


def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across grid gaps (operators/resample
    .resample_interpolate): straight-line between the surrounding
    observed cells, carry-forward after the last one. Weights on cell
    indices; round(6) pins the cross-engine float division."""
    from lakehouse_ingestion_spark.operators.resample import (
        resample_interpolate,
    )

    e = _t(spark, sf_dir, "events")
    # round_to=None: interpolation weights are small-integer ratios, so
    # exact .xx5 decimal ties are COMMON — Spark round (HALF_UP on the
    # shortest repr) and DuckDB round (half-even) then disagree in the
    # last digit. The raw doubles are bit-identical (same IEEE expr both
    # engines); the harness's own uniform rounding compares them.
    out = resample_interpolate(
        e, ["user_id"], "ts", "value", RESAMPLE_STEP, round_to=None
    )
    return out.select(
        "user_id",
        F.unix_timestamp("grid_ts").alias("grid_epoch"),
        "value",
        "value_interp",
    )


_INCR_IDX_PATH = "/tmp/spark_graft_incr_idx"
_incr_built_for: str | None = None


def incr_build(spark: SparkSession, sf_dir: str) -> None:
    """Build phase of q_incr_near_dup: persist the historical corpus's
    MinHash index frames to parquet. The WHOLE POINT of the incremental
    operator is that the index is an ingest-time artifact maintained as
    batches arrive — re-deriving it inside the probe billed corpus-
    sized work to a batch-sized operation (measured 92 s vs 47 s for
    the full batch near_dup at sf10, inverting the operator's value).
    The bench bills it to incr_near_dup_build; the probe measures
    index-read + batch dedup, which is what continuous ingest pays."""
    global _incr_built_for
    from lakehouse_ingestion_spark.operators.incremental_dedup import (
        minhash_index,
    )

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    hist = d.where(F.col("doc_id") % 5 != 0)
    idx = minhash_index(hist, num_hashes=MH_K, num_bands=MH_BANDS, seed=42)
    # cache the hash frame across the two writes (r12): the bands frame
    # derives from it, so without the cache the shingle+md5 pass — the
    # build's dominant cost — ran once per output. Written hashes-first
    # so the cache materializes during the first write.
    idx.hashes.persist()
    try:
        # r13 (guide §6): AQE rebalance before each index write — the
        # upstream round-robin fan-out otherwise writes one small file
        # per task (32 files per side at sf0.1 for a ~MB index; at
        # ingest scale, thousands). The rebalance targets
        # spark.sql.adaptive.advisoryPartitionSizeInBytes, so file
        # sizes stay in the advisory band at any scale instead of
        # mirroring the compute parallelism. The two writes are
        # independent once the hash cache is materialized, so they run
        # OVERLAPPED (guide §2.6) — the band write's tasks back-fill the
        # cores the (advisory-sized, locally single-task) hash write
        # leaves idle; warm A/B: sequential-rebalanced 3.1-3.3 s vs
        # overlapped 2.8 s vs the old 32-file sequential 2.1-2.7 s.
        idx.hashes.count()  # materialize the shared cache exactly once
        from concurrent.futures import ThreadPoolExecutor

        def _write(df, sub: str) -> None:
            df.hint("rebalance").write.mode("overwrite").parquet(
                f"{_INCR_IDX_PATH}/{sub}"
            )

        with ThreadPoolExecutor(2) as pool:
            fh = pool.submit(_write, idx.hashes, "hashes")
            fb = pool.submit(_write, idx.bands, "bands")
            fh.result()
            fb.result()
    finally:
        idx.hashes.unpersist()
    _incr_built_for = sf_dir


def q_incr_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup (operators/incremental_dedup):
    docs with doc_id % 5 == 0 arrive as the NEW batch and dedup against
    the PERSISTED index of the other 80% (incr_build — the ingest-time
    artifact) plus themselves — per-batch cost, no corpus rescan. Pair
    orientation: doc_b is always new; historical partner first,
    both-new pairs (min, max)."""
    from lakehouse_ingestion_spark.operators.incremental_dedup import (
        MinHashIndexFrames,
        incremental_near_dup,
    )

    if _incr_built_for != sf_dir:
        incr_build(spark, sf_dir)
    idx = MinHashIndexFrames(
        bands=spark.read.parquet(f"{_INCR_IDX_PATH}/bands"),
        hashes=spark.read.parquet(f"{_INCR_IDX_PATH}/hashes"),
    )
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    batch = d.where(F.col("doc_id") % 5 == 0)
    pairs, _delta = incremental_near_dup(
        batch, idx, NEAR_DUP_THRESHOLD, num_hashes=MH_K, num_bands=MH_BANDS
    )
    return pairs


BLOOM_EXPECTED = 500_000
BLOOM_FPP = 0.01
_BLOOM_PATH = "/tmp/spark_graft_bloom_filter"
_bloom_built_for: str | None = None


def _bloom_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", F.md5(F.col("text")).alias("fp"))


def bloom_setup(spark: SparkSession, sf_dir: str) -> None:
    """Build phase of q_bloom_dedup: persist the history's Bloom filter
    — the ingest-time artifact the operator exists to exploit (the
    incr_build precedent). The probe then measures read-filter +
    map-side screen + fp-only verification, which is what each arriving
    batch actually pays."""
    global _bloom_built_for
    from lakehouse_ingestion_spark.operators.bloom import bloom_build

    hist = _bloom_keyed(spark, sf_dir).where(F.col("doc_id") % 5 != 0)
    blm = bloom_build(hist, "fp", expected_items=BLOOM_EXPECTED, fpp=BLOOM_FPP)
    blm.write.mode("overwrite").parquet(_BLOOM_PATH)
    _bloom_built_for = sf_dir


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened exact membership dedup (operators/bloom): docs
    with doc_id % 5 == 0 arrive as the batch and are flagged against
    the text-fingerprint history of the other 80% via the PERSISTED
    filter (bloom_setup — the ingest-time artifact). The filter splits
    the batch map-side; only maybe-seen rows pay the exact semi-
    verification, and the answer is EXACT regardless of the filter's
    false-positive rate. Geometry is sized for ingest (BLOOM_EXPECTED
    keys), not for this fixture — at sf beyond it the fp fraction
    degrades gracefully while correctness is untouched."""
    from lakehouse_ingestion_spark.operators.bloom import bloom_dedup

    if _bloom_built_for != sf_dir:
        bloom_setup(spark, sf_dir)
    blm = spark.read.parquet(_BLOOM_PATH)
    keyed = _bloom_keyed(spark, sf_dir)
    hist = keyed.where(F.col("doc_id") % 5 != 0)
    batch = keyed.where(F.col("doc_id") % 5 == 0)
    return bloom_dedup(batch, hist, blm, "fp").select("doc_id", "is_dup")


_BLOOM_SHARDED_PATH = "/tmp/spark_graft_bloom_filter_sharded"
_bloom_sharded_built_for: str | None = None


def bloom_sharded_setup(spark: SparkSession, sf_dir: str) -> None:
    """Build phase of q_bloom_dedup_sharded: persist an 8-shard filter
    (operators/bloom.bloom_build with num_shards=8 — the layout past
    MAX_WORDS, forced here so the per-row shard join is exercised at
    fixture scale)."""
    global _bloom_sharded_built_for
    from lakehouse_ingestion_spark.operators.bloom import bloom_build

    hist = _bloom_keyed(spark, sf_dir).where(F.col("doc_id") % 5 != 0)
    blm = bloom_build(
        hist, "fp", expected_items=BLOOM_EXPECTED, fpp=BLOOM_FPP, num_shards=8
    )
    blm.write.mode("overwrite").parquet(_BLOOM_SHARDED_PATH)
    _bloom_sharded_built_for = sf_dir


def q_bloom_dedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bloom_dedup over an 8-SHARD filter (bloom_sharded_setup): keys
    hash-partition across 8 shard filters, the screen equi-joins each
    row's shard, and the answer is the same EXACT dedup — same oracle
    as bloom_dedup by construction."""
    from lakehouse_ingestion_spark.operators.bloom import bloom_dedup

    if _bloom_sharded_built_for != sf_dir:
        bloom_sharded_setup(spark, sf_dir)
    blm = spark.read.parquet(_BLOOM_SHARDED_PATH)
    keyed = _bloom_keyed(spark, sf_dir)
    hist = keyed.where(F.col("doc_id") % 5 != 0)
    batch = keyed.where(F.col("doc_id") % 5 == 0)
    return bloom_dedup(batch, hist, blm, "fp").select("doc_id", "is_dup")


def q_dedup_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content dedup via operators/dedup.dedup_by_content (hash_fn
    dispatch; md5 here for the cross-engine oracle — xxhash64 is the
    production default, see BASELINE.md round-6 sf10 rows): one
    map-side-combined min_by per normalized-text fingerprint, full
    survivor rows out."""
    from lakehouse_ingestion_spark.operators.dedup import dedup_by_content

    d = _t(spark, sf_dir, "documents")
    out = dedup_by_content(d, hash_fn="md5", keep_fingerprint=True)
    return out.select("doc_id", "fingerprint")


EXACT_SUBSTR_K = 3
NOVELTY_K = 2


def q_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span audit
    (operators/substr_dedup.dup_stats): k-token shingles with position,
    one corpus-wide count shuffle, per-doc gaps-and-islands span merge.
    k=3 on this 50-word-vocab fixture so cross-doc repeats exist; real
    corpora use k~50 (Lee et al., ACL 2022)."""
    from lakehouse_ingestion_spark.operators.substr_dedup import dup_stats

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    out = dup_stats(d, k=EXACT_SUBSTR_K)
    return out.select("doc_id", "n_dup_spans", "dup_tokens", "dup_token_frac")


def q_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL (operators/substr_dedup.strip_duplicated_
    spans — the cut §4.2 of Lee et al. performs, completing the
    audit-only dup_stats pass): duplicated k-token spans are cut from
    the text, clean docs pass through byte-identical. md5 of the
    rewritten text keeps the oracle row narrow (full rewritten bodies
    would dominate the hash compare)."""
    from lakehouse_ingestion_spark.operators.substr_dedup import (
        strip_duplicated_spans,
    )

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    out = strip_duplicated_spans(d, k=EXACT_SUBSTR_K)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_stripped_tokens"
    )


BLOCKLIST_WORDS = ["slow", "stale"]
BLOCKLIST_MAX_RATIO = 0.02

PROJ_OUT_DIM = 16
PROJ_IN_DIM = 64  # fixture embedding width (TESTDATA.md)
PROJ_SEED = 42


def q_random_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims
    (operators/projection.py: map-only mapInArrow, tiled BLAS matmul,
    seeded deterministic matrix). Emits per-vector SCALAR summaries —
    first component, sum, L2 norm — because the oracle harness's
    canonicalizer rounds scalar floats, not floats inside arrays; the
    DuckDB mirror recomputes the same dots from the matrix injected as
    literals (repr round-trips float64 exactly)."""
    from lakehouse_ingestion_spark.operators.projection import (
        project_embeddings,
    )

    # NO ensure_parallelism fan-out: the tiled matmul is ~ms per
    # million values, so the repartition costs more than it buys at
    # every measured scale (sf10 median 1.09 -> 0.72 s without it) —
    # the fan-out guard is for expensive per-row pipelines only
    e = _t(spark, sf_dir, "embeddings")
    p = project_embeddings(
        e, out_dim=PROJ_OUT_DIM, seed=PROJ_SEED, in_dim=PROJ_IN_DIM
    )
    acc = F.aggregate("proj", F.lit(0.0), lambda a, x: a + x)
    acc2 = F.aggregate("proj", F.lit(0.0), lambda a, x: a + x * x)
    return p.select(
        "vec_id",
        F.element_at("proj", 1).alias("p0"),
        acc.alias("proj_sum"),
        F.sqrt(acc2).alias("proj_norm"),
    )


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style bad-words policy filter (operators/quality
    .blocklist_rule semantics): token-boundary blocklist hits
    thresholded at 2 % of tokens — one scan, zero shuffles. The token
    array materializes as a column ONCE and both counts derive from it
    (the rule-chain form re-tokenized per expression: regex split is
    non-cheap so CollapseProject keeps the staged projection; measured
    1.34 -> 0.43 s at sf1). Outputs integer/boolean columns only — a
    hits/tokens ratio would sit on cross-engine round() tie
    boundaries."""
    from lakehouse_ingestion_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    bl = sorted({w.lower() for w in BLOCKLIST_WORDS})
    staged = d.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("__tk")
    ).select(
        "doc_id",
        F.size(F.filter("__tk", lambda t: t.isin(bl))).cast("long").alias("n_hits"),
        F.size("__tk").cast("long").alias("n_tokens"),
    )
    return staged.withColumn(
        "keep",
        (F.col("n_tokens") == 0)
        | (F.col("n_hits") / F.col("n_tokens") <= BLOCKLIST_MAX_RATIO),
    )


def q_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) curation report — the corpus dashboard every
    ingest run publishes: doc/token volumes, empty-doc and exact-dup
    counts (distinct md5 contents). ONE grouped aggregate; the single
    COUNT(DISTINCT) rewrites to a 2-branch Expand (non-distinct
    aggregates evaluate on one branch only — not the k-way trap
    table_profile hit). Integer columns only."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.count_distinct(fingerprint_md5("text")).alias("n_distinct_contents"),
        F.sum(
            F.when(F.length(F.trim("text")) == 0, 1).otherwise(0)
        ).alias("n_empty"),
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative corpus novelty (operators/substr_dedup.ngram_novelty):
    fraction of each doc's distinct k-shingles first introduced by that
    doc (min-id introducer) — the incremental-redundancy curve."""
    from lakehouse_ingestion_spark.operators.substr_dedup import ngram_novelty

    d = ensure_parallelism(_t(spark, sf_dir, "documents"))
    out = ngram_novelty(d, k=NOVELTY_K)
    return out.select("doc_id", "n_shingles", "novelty")


def _duck_bands_select() -> str:
    """UNION ALL of band rows: (doc_id, band, key) from m0..m{K-1}."""
    parts = []
    for band in range(MH_BANDS):
        cols = [f"m{band * MH_ROWS + r}" for r in range(MH_ROWS)]
        key = " || '_' || ".join(f"{c}::VARCHAR" for c in cols)
        parts.append(f"SELECT doc_id, {band} AS band, {key} AS key FROM sig")
    return " UNION ALL ".join(parts)


def oracle_sql() -> dict[str, str]:
    qs: dict[str, str] = {}

    qs["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice::DECIMAL(14,2)), 2)::DOUBLE AS sum_base_price,
       round(sum(l_extendedprice::DECIMAL(14,2)
                 * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS sum_disc_price,
       round(sum(l_extendedprice::DECIMAL(14,2)
                 * (1 - l_discount::DECIMAL(4,2))
                 * (1 + l_tax::DECIMAL(4,2))), 2)::DOUBLE AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(sum(l_extendedprice::DECIMAL(14,2))::DOUBLE / count(*), 6) AS avg_price,
       round(sum(l_discount::DECIMAL(4,2))::DOUBLE / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    qs["dedup_exact"] = """
SELECT md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""

    # q_token_budget: the distributed prefix-sum must equal the SQL
    # window formulation exactly — integer costs, total order via
    # (score DESC, doc_id ASC), budget = corpus total // DENOM.
    qs["token_budget"] = f"""
WITH scored AS (
  SELECT doc_id,
         (doc_id * 2654435761) % 1000003 AS score,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '')) END AS n_tokens
  FROM documents
),
b AS (SELECT CAST(SUM(n_tokens) // {TOKEN_BUDGET_DENOM} AS BIGINT) AS budget
      FROM scored),
cum AS (
  SELECT doc_id, score, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, CAST(score AS BIGINT) AS score,
       CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
FROM cum, b WHERE cum_tokens <= budget
"""

    # q_domain_budget: the per-stratum prefix sum vs the partitioned
    # window + per-source budget join.
    qs["domain_budget"] = f"""
WITH scored AS (
  SELECT doc_id, source,
         (doc_id * 2654435761) % 1000003 AS score,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '')) END AS n_tokens
  FROM documents
),
b AS (SELECT source, CAST(SUM(n_tokens) // {TOKEN_BUDGET_DENOM} AS BIGINT)
             AS budget
      FROM scored GROUP BY source),
cum AS (
  SELECT doc_id, source, score, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY score DESC, doc_id) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT cum.doc_id, cum.source, CAST(score AS BIGINT) AS score,
       CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
FROM cum JOIN b USING (source) WHERE cum_tokens <= b.budget
"""

    # q_semantic_decon: max rounded cosine per training vector against
    # the eval subset; nearest eval by (rounded cos DESC, eval_id ASC) —
    # the same tie-break as numpy argmax over the id-sorted eval matrix.
    qs["semantic_decon"] = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ev AS (SELECT vec_id AS eval_id, v AS evv FROM emb WHERE vec_id % 97 = 0),
pairs AS (
  SELECT e.vec_id, ev.eval_id,
         round(list_dot_product(e.v, ev.evv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(ev.evv, ev.evv))), 6) AS c
  FROM emb e CROSS JOIN ev WHERE e.vec_id % 97 != 0
),
ranked AS (
  SELECT vec_id, eval_id, c,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c DESC, eval_id ASC) AS rk
  FROM pairs
)
SELECT vec_id, c AS max_cos, eval_id AS nearest_eval_id,
       (c >= {SEMDECON_TAU}) AS contaminated
FROM ranked WHERE rk = 1
"""

    # q_source_canonical: priority-ranked winner per content fingerprint
    # (mirror source outranks the crawl), provenance via a grouped pass.
    qs["source_canonical"] = """
WITH un AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, 'mirror' AS source
  FROM documents WHERE doc_id % 7 = 0
),
fp AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS f,
         CASE WHEN source = 'mirror' THEN 5 ELSE 0 END AS p
  FROM un
),
win AS (
  SELECT doc_id, source, f,
         row_number() OVER (PARTITION BY f ORDER BY p DESC, doc_id ASC) AS rk
  FROM fp
),
stats AS (
  SELECT f, count(*) AS n_copies, count(DISTINCT source) AS n_sources
  FROM fp GROUP BY f
)
SELECT w.doc_id, w.source, s.n_copies, s.n_sources
FROM win w JOIN stats s USING (f) WHERE w.rk = 1
"""

    # q_shard_export: shard + within-shard rank under the md5 shuffle
    # order (chr(31) = the \\x1f seed separator sampling/export share).
    _hpos = _H60.format(x="doc_id::VARCHAR || chr(31) || 'export'")
    qs["shard_export"] = f"""
WITH h AS (
  SELECT doc_id, lang, {_hpos} AS hpos FROM documents
)
SELECT doc_id, lang,
       CAST(hpos % {SHARD_N} AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY hpos % {SHARD_N}
                               ORDER BY hpos, doc_id) AS BIGINT) AS pos
FROM h
"""

    # q_html_extract: replay the IDENTICAL regexp chain (generated from
    # extraction.HTML_STRIP_STEPS) over the same synthesized page.
    _page = (
        "'<html><head><title>d</title><script type=\"text/javascript\">"
        "var x = 1 < 2;</script><style>p { color: red; }</style></head>"
        "<body><h1>' || lang || '</h1>' || chr(10) || '<p>' || "
        "substr(text, 1, 160) || ' &amp; tail.</p><!-- hidden comment -->"
        "<div class=\"x\">Second &lt;block&gt; ends here.</div>"
        "<ul><li>item one is long enough to keep.</li><li>nav</li></ul>"
        "</body></html>'"
    )
    _punct = "'[.!?\"'']$'"
    qs["html_extract"] = f"""
WITH page AS (
  SELECT doc_id, {_page} AS html FROM documents
),
ext AS (
  SELECT doc_id, {_duck_html_chain("html")} AS extracted FROM page
)
SELECT doc_id, extracted,
       array_to_string(
         list_transform(
           list_filter(string_split(extracted, chr(10)),
                       x -> len(trim(x)) >= 20
                            AND regexp_matches(trim(x), {_punct})),
           x -> trim(x)),
         chr(10)) AS content,
       CAST(length(extracted) AS BIGINT) AS n_chars_extracted
FROM ext
"""

    qs["dedup_latest"] = f"""
WITH ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, round(value, 2) AS value,
       strftime(ts, '{TS_FMT_DUCK}') AS ts_str
FROM ranked WHERE rn = 1
"""

    qs["cdc_apply"] = """
WITH ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, round(value, 2) AS value
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""

    # incremental apply must equal the full-history apply
    qs["cdc_incremental"] = qs["cdc_apply"]

    qs["scd2"] = f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
  FROM events
),
changes AS (
  SELECT * FROM ordered WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type,
       strftime(ts, '{TS_FMT_DUCK}') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
                '{TS_FMT_DUCK}') AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL)
         AS is_current
FROM changes
"""

    qs["upsert"] = """
WITH target AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 3 <> 0
),
source AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         '1-UPDATED' AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
),
deletes AS (SELECT o_orderkey FROM source WHERE o_orderstatus = 'F'),
upserts AS (SELECT * FROM source WHERE o_orderstatus <> 'F')
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice, o_orderpriority
FROM target t
WHERE NOT EXISTS (SELECT 1 FROM deletes d WHERE d.o_orderkey = t.o_orderkey)
  AND NOT EXISTS (SELECT 1 FROM upserts u WHERE u.o_orderkey = t.o_orderkey)
UNION ALL
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2), o_orderpriority FROM upserts
"""

    qs["scd1"] = """
WITH dim AS (
  SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
),
updates AS (
  SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment,
         round(c_acctbal + 100.0, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 5 = 0
)
SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS c_acctbal
FROM dim d WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = d.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) FROM updates
"""

    qs["enrich"] = """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, c_name, n_name, r_name
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""

    qs["denormalize"] = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice,
       p_name, p_brand, s_name
FROM lineitem
LEFT JOIN part ON l_partkey = p_partkey
LEFT JOIN supplier ON l_suppkey = s_suppkey
"""

    qs["gold_daily"] = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       count(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY 1, 2
"""

    qs["gold_rollup"] = """
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""

    qs["gold_cube"] = """
SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY CUBE (strftime(ts, '%Y-%m-%d'), event_type)
"""

    qs["window_topk"] = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
)
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
       CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 3
"""

    # NOTE: DuckDB's sum() over integers yields HUGEINT (int128); the
    # driver's hash compare is dtype-exact, so every integer sum that
    # reaches the output must be CAST to BIGINT to match Spark's long.
    qs["dq_summary"] = """
SELECT count(*) AS total_rows,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS user_id_nulls,
       CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 400.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS value_out_of_range,
       CAST(sum(CASE WHEN event_type IS NOT NULL
                 AND event_type NOT IN ('click', 'view', 'purchase', 'signup')
                THEN 1 ELSE 0 END) AS BIGINT) AS event_type_invalid,
       count(DISTINCT event_id) AS event_id_distinct
FROM events
"""


    qs["numeric_profile"] = """
WITH e AS (
  SELECT event_id, value,
         CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value_gappy
  FROM events
),
m AS (
  SELECT 'event_id' AS col_name, count(*) AS n_rows,
         count(*) FILTER (WHERE event_id IS NULL) AS n_null,
         avg(event_id::DOUBLE) AS mean, stddev_pop(event_id::DOUBLE) AS std
  FROM e
  UNION ALL
  SELECT 'value', count(*), count(*) FILTER (WHERE value IS NULL),
         avg(value), stddev_pop(value) FROM e
  UNION ALL
  SELECT 'value_gappy', count(*), count(*) FILTER (WHERE value_gappy IS NULL),
         avg(value_gappy), stddev_pop(value_gappy) FROM e
)
SELECT col_name, n_rows, n_null,
       n_null::DOUBLE / n_rows AS null_fraction,
       round(mean, 4) AS mean, round(std, 4) AS std
FROM m
"""

    qs["dq_drift"] = """
WITH ref AS (
  SELECT avg(value) AS m, stddev_pop(value) AS s
  FROM events WHERE event_type = 'view'
),
b AS (
  SELECT 'click_steady' AS batch, value AS v
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT 'purchase_drifted',
         CASE WHEN event_id % 5 = 0 THEN NULL ELSE value * 4 + 100.0 END
  FROM events WHERE event_type = 'purchase'
),
agg AS (
  SELECT batch, count(*) AS total_rows, avg(v) AS bm,
         sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS nf
  FROM b GROUP BY batch
)
SELECT batch, total_rows,
       round(bm, 4) AS batch_mean,
       round(abs(bm - ref.m), 4) AS mean_delta,
       round(3.0 * ref.s, 4) AS mean_bound,
       nf AS null_fraction,
       CASE WHEN abs(bm - ref.m) <= 3.0 * ref.s AND abs(nf - 0.0) <= 0.1
            THEN 'PASS' ELSE 'FAIL' END AS status
FROM agg, ref
"""

    qs["quarantine"] = """
SELECT event_id, event_type, round(value, 2) AS value,
       array_to_string(list_filter([
         CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 400.0)
              THEN 'range[value]' END,
         CASE WHEN event_type IS NOT NULL
               AND event_type NOT IN ('click', 'view', 'purchase', 'signup')
              THEN 'in_set[event_type]' END
       ], x -> x IS NOT NULL), ',') AS dq_failures
FROM events
WHERE (value IS NOT NULL AND (value < 0.0 OR value > 400.0))
   OR (event_type IS NOT NULL
       AND event_type NOT IN ('click', 'view', 'purchase', 'signup'))
"""

    qs["ref_integrity"] = """
SELECT count(*) AS total_rows,
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS orphans
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""

    qs["token_stats"] = _duck_quality_sql()
    qs["lang_id"] = _duck_lang_sql()

    qs["minhash"] = (
        "WITH " + _duck_shingles_cte() + "\nSELECT doc_id, "
        + ", ".join(_duck_minhash_exprs("sh"))
        + " FROM sh_t"
    )

    qs["near_dup"] = (
        "WITH "
        + _duck_shingles_cte()
        + ",\nsig AS (SELECT doc_id, "
        + ", ".join(_duck_minhash_exprs("sh"))
        + " FROM sh_t),\n"
        + _duck_hashed_cte()
        + ",\nbands AS ("
        + _duck_bands_select()
        + f"""),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CASE WHEN len(list_distinct(list_concat(sa.hs, sb.hs))) > 0
              THEN len(list_intersect(sa.hs, sb.hs))::DOUBLE
                   / len(list_distinct(list_concat(sa.hs, sb.hs)))
              ELSE 0.0 END AS jaccard
  FROM cand c
  JOIN hsh sa ON sa.doc_id = c.doc_a
  JOIN hsh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {NEAR_DUP_THRESHOLD}
"""
    )

    qs["q3_shipping"] = """
WITH agg AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(l_extendedprice::DECIMAL(14,2)
                 * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
    AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
  GROUP BY 1, 2, 3
)
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority, revenue
FROM agg ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""

    qs["q5_local_supplier"] = """
SELECT n_name,
       round(sum(l_extendedprice::DECIMAL(14,2)
                 * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""

    qs["set_ops"] = """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1995),
y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE extract(year FROM o_orderdate) = 1996)
SELECT 'both' AS bucket, o_custkey FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
UNION ALL
SELECT 'only_1995', o_custkey FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
UNION ALL
SELECT 'only_1996', o_custkey FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
"""

    qs["sort_limit"] = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""

    qs["scalar_funcs"] = """
SELECT o_orderkey,
       round(abs(o_totalprice - 100000.0), 2) AS abs_diff,
       round(sqrt(o_totalprice), 6) AS sqrt_price,
       round(ln(o_totalprice), 6) AS ln_price,
       upper(o_orderstatus) AS status_upper,
       lower(o_orderpriority) AS prio_lower,
       substr(o_orderpriority, 1, 3) AS prio_prefix,
       CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
       concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
       replace(o_orderpriority, '-', '_') AS prio_underscore,
       extract(year FROM o_orderdate)::INTEGER AS order_year,
       extract(month FROM o_orderdate)::INTEGER AS order_month,
       extract(day FROM o_orderdate)::INTEGER AS order_day,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
FROM orders WHERE o_orderkey % 7 = 0
"""

    qs["simhash"] = _duck_simhash_sql()

    qs["cosine_dup"] = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
               6) AS cos_sim
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= {COSINE_DUP_THRESHOLD}
"""

    qs["ann_lsh"] = _duck_ann_lsh_sql()

    qs["grouping_sets"] = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""

    qs["percentiles"] = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus
"""

    # the salted two-stage plan must produce exactly the plain aggregate
    qs["salted_agg"] = """
SELECT l_returnflag,
       round(sum(l_quantity), 2) AS sum_qty,
       count(l_quantity) AS n,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem GROUP BY l_returnflag
"""

    qs["window_frames"] = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg3,
       CAST(row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC) AS INTEGER) AS seq
FROM orders WHERE o_custkey % 10 = 0
"""

    # gaps-and-islands mirror of session_window: a session ends after 30
    # minutes of inactivity; Spark's session end = last event + gap
    qs["sessionize"] = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new,
         event_id
  FROM events
),
sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_FMT_DUCK}') AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM sessions GROUP BY user_id, sid
"""

    # DuckDB's native ASOF JOIN is the oracle for the union+window form
    qs["asof_join"] = f"""
WITH p AS (SELECT user_id, event_id AS purchase_id, ts, value
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS click_id, ts FROM events
      WHERE event_type = 'click')
SELECT p.user_id, p.purchase_id,
       round(p.value, 2) AS purchase_value,
       c.click_id,
       round(epoch(p.ts) - epoch(c.ts), 6) AS secs_since_click
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND c.ts <= p.ts
"""

    qs["fingerprint"] = r"""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp
  FROM documents
)
SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same FROM fp
"""

    # multimodal: every output column except the (internal) embedding is
    # byte arithmetic — reproduce the UTF-8 byte stream in DuckDB by hex-
    # expanding the encoded blob, one row per byte, then aggregating.
    qs["multimodal"] = """
WITH h AS (
  SELECT doc_id AS media_id,
         lower(hex(encode(coalesce(text, '')))) AS hx,
         octet_length(encode(coalesce(text, ''))) AS n
  FROM documents
),
bytes AS (
  SELECT media_id, n,
         (strpos('0123456789abcdef', substr(hx, 2*i - 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1) AS bv
  FROM h, unnest(generate_series(1, n)) AS t(i)
  WHERE n > 0
),
stats AS (
  SELECT media_id,
         round(avg(bv), 6) AS byte_mean,
         round(coalesce(stddev_pop(bv), 0.0), 6) AS byte_std
  FROM bytes GROUP BY media_id
)
SELECT h.media_id,
       CAST(CASE WHEN h.n = 0 THEN 0 ELSE h.n END AS BIGINT) AS n_bytes,
       CASE WHEN h.n = 0 THEN NULL ELSE s.byte_mean END AS byte_mean,
       CASE WHEN h.n = 0 THEN NULL ELSE s.byte_std END AS byte_std,
       CAST(CASE WHEN h.n = 0 THEN 0
                 ELSE least(ceil(h.n / 64.0), 8) END AS INTEGER) AS n_frames,
       CASE WHEN h.n = 0 THEN 'error' ELSE 'stub-md5' END AS decoder
FROM h LEFT JOIN stats s USING (media_id)
"""

    # kafka_decode oracle: decode(encode(row)) == row — the original
    # columns plus the deterministically derived Kafka metadata.
    qs["kafka_decode"] = f"""
SELECT event_id, user_id, event_type, round(value, 2) AS value,
       strftime(ts, '{TS_FMT_DUCK}') AS event_ts,
       'events' AS topic,
       CAST(user_id % 4 AS INTEGER) AS "partition",
       event_id AS "offset",
       strftime(ts, '{TS_FMT_DUCK}') AS kafka_ts
FROM events
"""

    qs["tumbling_window"] = f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS win_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""

    # sliding 1h/30min: every event belongs to exactly two windows, the
    # 30-min-aligned bucket it falls in and the one 30 min earlier
    qs["sliding_window"] = f"""
WITH exploded AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS s,
         event_type, value
  FROM events
)
SELECT strftime(s, '{TS_FMT_DUCK}') AS win_start,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM exploded GROUP BY 1, 2
"""

    qs["pivot"] = """
SELECT strftime(ts::DATE, '%Y-%m-%d') AS day,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'view') AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup') AS n_signup,
       count(*) FILTER (event_type = 'error') AS n_error
FROM events GROUP BY 1
"""

    qs["semi_anti"] = """
WITH w AS (
  SELECT c_mktsegment, count(*) AS n_with_urgent
  FROM customer
  WHERE EXISTS (SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
  GROUP BY 1
),
n AS (
  SELECT c_mktsegment, count(*) AS n_no_orders
  FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  GROUP BY 1
)
SELECT c_mktsegment,
       coalesce(n_with_urgent, 0) AS n_with_urgent,
       coalesce(n_no_orders, 0) AS n_no_orders
FROM w FULL JOIN n USING (c_mktsegment)
"""

    qs["seq_pack"] = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '')) END AS n_tokens
  FROM documents
),
mx AS (
  SELECT CAST(ceil((max(doc_id) + 1) / {float(PACK_SHARDS)}) AS BIGINT) AS w
  FROM toks
),
sharded AS (
  SELECT doc_id, n_tokens, CAST(doc_id // w AS BIGINT) AS shard
  FROM toks, mx
),
packed AS (
  SELECT shard, doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          // {PACK_BUDGET} AS BIGINT) AS pack_id
  FROM sharded
)
SELECT shard, pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM packed GROUP BY shard, pack_id
"""

    qs["mixture"] = f"""
WITH {_duck_quality_base()},
scored AS (
  SELECT doc_id, lang, {_DUCK_QUALITY_EXPR} AS q FROM qbase
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id ASC) AS rk,
         CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50
                   WHEN 'es' THEN 50 WHEN 'fr' THEN 25 ELSE 0 END AS cap
  FROM scored
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(q), 6) AS avg_quality,
       min(doc_id) AS min_doc
FROM ranked WHERE rk <= cap GROUP BY lang
"""

    qs["bucketed_join"] = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

    qs["ann_ivf_refined"] = _duck_ann_ivf_refined_sql()

    qs["ann_ivf"] = """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < 8),
vecs AS (SELECT vec_id, v FROM emb WHERE vec_id >= 18),
qs AS (SELECT vec_id, v FROM emb WHERE vec_id >= 8 AND vec_id < 18),
assign AS (
  SELECT vec_id AS neighbor_id, cid AS cell FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
             round(list_dot_product(x.v, c.cv)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
             c.cid ASC) AS r
    FROM vecs x CROSS JOIN cent c) WHERE r = 1),
probes AS (
  SELECT vec_id AS q_id, cid AS cell FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
             round(list_dot_product(x.v, c.cv)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
             c.cid ASC) AS r
    FROM qs x CROSS JOIN cent c) WHERE r <= 2),
cand AS (
  SELECT DISTINCT p.q_id, a.neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE p.q_id <> a.neighbor_id),
scored AS (
  SELECT cand.q_id, cand.neighbor_id,
         round(list_dot_product(q.v, n.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS cos_sim
  FROM cand JOIN qs q ON q.vec_id = cand.q_id
            JOIN vecs n ON n.vec_id = cand.neighbor_id)
SELECT q_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rk
FROM scored QUALIFY rk <= 3
"""

    # q_incr_ann: fixed centroids make the incrementally-built index's
    # assignment identical to a one-shot assignment (append-order
    # invariance is property-tested), so the oracle is the same probed
    # top-k as ann_ivf over the indexed corpus (vec_id >= 18) — the
    # maintained layout changes WHAT IS READ (probed cells only), not
    # the answer.
    qs["incr_ann"] = """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM emb WHERE vec_id < 8),
vecs AS (SELECT vec_id, v FROM emb WHERE vec_id >= 18),
qs AS (SELECT vec_id, v FROM emb WHERE vec_id >= 8 AND vec_id < 18),
assign AS (
  SELECT vec_id AS neighbor_id, cid AS cell FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
             round(list_dot_product(x.v, c.cv)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
             c.cid ASC) AS r
    FROM vecs x CROSS JOIN cent c) WHERE r = 1),
probes AS (
  SELECT vec_id AS q_id, cid AS cell FROM (
    SELECT x.vec_id, c.cid,
           row_number() OVER (PARTITION BY x.vec_id ORDER BY
             round(list_dot_product(x.v, c.cv)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
             c.cid ASC) AS r
    FROM qs x CROSS JOIN cent c) WHERE r <= 2),
cand AS (
  SELECT DISTINCT p.q_id, a.neighbor_id
  FROM probes p JOIN assign a USING (cell)
  WHERE p.q_id <> a.neighbor_id),
scored AS (
  SELECT cand.q_id, cand.neighbor_id,
         round(list_dot_product(q.v, n.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS cos_sim
  FROM cand JOIN qs q ON q.vec_id = cand.q_id
            JOIN vecs n ON n.vec_id = cand.neighbor_id)
SELECT q_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rk
FROM scored QUALIFY rk <= 3
"""

    qs["range_join"] = """
SELECT er.err_id, count(c.click_id) AS n_clicks
FROM (SELECT event_id AS err_id, ts FROM events WHERE event_type = 'error') er
LEFT JOIN (SELECT event_id AS click_id, ts AS click_ts FROM events
           WHERE event_type = 'click') c
  ON c.click_ts >= er.ts - INTERVAL 300 SECOND
 AND c.click_ts <= er.ts + INTERVAL 300 SECOND
GROUP BY er.err_id
"""

    qs["text_tokenize"] = r"""
SELECT doc_id,
       len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\x0b\f\rA-Za-z0-9]+'))
         AS bpe_tokens,
       list_reduce(list_prepend(0::BIGINT,
         list_transform(
           regexp_extract_all(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g'), '.'),
           c -> ascii(c)::BIGINT)),
         (a, b) -> (a * 31 + b) % 2147483647) AS rolling_fp
FROM documents
"""

    # HLL sketches differ across engines; the deterministic contract is the
    # error bound, so both engines emit (exact, within_5pct)
    qs["approx_distinct"] = """
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS exact_cust,
       abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey))
         / count(DISTINCT o_custkey) <= 0.05 AS within_5pct
FROM orders GROUP BY o_orderstatus
"""

    qs["ann_cosine"] = """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id < 5),
pairs AS (
  SELECT q.q_id, e.vec_id,
         round(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))),
               6) AS cos_sim
  FROM q CROSS JOIN emb e WHERE e.vec_id >= 5
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, vec_id ASC) AS rk
  FROM pairs
)
SELECT q_id, vec_id AS neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= 10
"""

    # mirror of operators/sampling.hash_uniform: 60-bit md5 of
    # key || US || seed, reduced mod 2^20, projected to [0,1). The
    # cumulative split thresholds reuse hash_split's Python-float sums,
    # serialized via repr, so both engines compare against bit-identical
    # literals for ANY fraction choice (cumulative float sums are not
    # generally representable the way their decimal shorthand suggests).
    def _duck_u(seed: str) -> str:
        h = _H60.format(x=f"doc_id::VARCHAR || chr(31) || '{seed}'")
        return f"(({h} % 1048576)::DOUBLE / 1048576.0)"

    _cums = []
    _c = 0.0
    for _name in list(SPLIT_FRACTIONS)[:-1]:
        _c += SPLIT_FRACTIONS[_name]
        _cums.append((_name, _c))
    _split_case = "CASE " + " ".join(
        f"WHEN u < {c!r} THEN '{n}'" for n, c in _cums
    ) + f" ELSE '{list(SPLIT_FRACTIONS)[-1]}' END"
    qs["sample_split"] = f"""
WITH u AS (SELECT *, {_duck_u('split')} AS u FROM documents)
SELECT {_split_case} AS split, lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc
FROM u GROUP BY 1, 2
"""

    _rate = f"{STRATA_DEFAULT!r}"
    for _v, _f in STRATA_RATES.items():
        _rate = f"CASE WHEN lang = '{_v}' THEN {float(_f)!r} ELSE {_rate} END"
    qs["stratified_sample"] = f"""
WITH u AS (SELECT *, {_duck_u('strat')} AS u FROM documents)
SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM u WHERE u < {_rate}
GROUP BY lang
"""

    # connected components as a recursive transitive closure over the
    # near_dup pair set (tractable at oracle scale because near-dup
    # components are small); cluster id = min reachable node, the same
    # fixpoint the iterative min-label propagation converges to
    qs["dedup_clusters"] = (
        "WITH RECURSIVE "
        + _duck_shingles_cte()
        + ",\nsig AS (SELECT doc_id, "
        + ", ".join(_duck_minhash_exprs("sh"))
        + " FROM sh_t),\n"
        + _duck_hashed_cte()
        + ",\nbands AS ("
        + _duck_bands_select()
        + f"""),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sh_t sa ON sa.doc_id = c.doc_a
  JOIN sh_t sb ON sb.doc_id = c.doc_b
  WHERE CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0
             THEN len(list_intersect(sa.sh, sb.sh))::DOUBLE
                  / len(list_distinct(list_concat(sa.sh, sb.sh)))
             ELSE 0.0 END >= {NEAR_DUP_THRESHOLD}
),
bi AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM bi
  UNION
  SELECT r.a, e.b FROM reach r JOIN bi e ON r.b = e.a
),
comp AS (
  SELECT a AS node, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
)
SELECT cluster_id, count(*) AS n_members,
       CAST(sum(node) AS BIGINT) AS members_sum
FROM comp GROUP BY cluster_id
"""
    )

    qs["quality_filter"] = r"""
WITH qb AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '') AS l
  FROM documents
),
rules AS (
  SELECT doc_id,
         (len(l) >= 30 AND len(l) <= 100000) AS r_length,
         (CASE WHEN len(l) > 0 THEN n_chars::DOUBLE / len(l) ELSE 0.0 END
            BETWEEN 2.0 AND 12.0) AS r_meantok,
         (CASE WHEN len(l) > 0
               THEN len(list_distinct(l))::DOUBLE / len(l) ELSE 0.0 END
            >= 0.3) AS r_repeat,
         (CASE WHEN n_chars > 0
               THEN n_alpha::DOUBLE / n_chars ELSE 0.0 END >= 0.6) AS r_alpha,
         (len(list_filter(l, x -> x IN ('the','and','of','to','is'))) > 0)
            AS r_stop
  FROM qb
)
SELECT doc_id,
       coalesce(array_to_string([x FOR x IN [
         CASE WHEN NOT r_length  THEN 'length' END,
         CASE WHEN NOT r_meantok THEN 'mean_token_len' END,
         CASE WHEN NOT r_repeat  THEN 'repetition' END,
         CASE WHEN NOT r_alpha   THEN 'alpha_ratio' END,
         CASE WHEN NOT r_stop    THEN 'stopword' END
       ] IF x IS NOT NULL], ','), '') AS failed,
       (r_length AND r_meantok AND r_repeat AND r_alpha AND r_stop) AS keep
FROM rules
"""

    qs["ngram_topk"] = r"""
WITH toks AS (
  SELECT lang, list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '') AS l FROM documents
),
bg AS (
  SELECT lang,
         unnest(CASE WHEN len(l) >= 2
                     THEN list_transform(range(1, len(l)),
                                         i -> l[i] || ' ' || l[i + 1])
                     ELSE [] END) AS ngram
  FROM toks
),
agg AS (SELECT lang, ngram, count(*) AS n_occur FROM bg GROUP BY 1, 2)
SELECT lang, ngram, n_occur, rk::INTEGER AS rk FROM (
  SELECT lang, ngram, n_occur,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_occur DESC, ngram ASC) AS rk
  FROM agg
) WHERE rk <= 5
"""

    qs["tfidf"] = r"""
WITH terms AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         round(tf * ln(n_docs::DOUBLE / df), 6) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, rk::INTEGER AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rk
  FROM scored
) WHERE rk <= 3
"""

    qs["bm25"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('join', 'spark', 'table') GROUP BY 1, 2
),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (
  SELECT doc_id, len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) AS dl
  FROM documents
),
st AS (SELECT count(*) AS n FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl)
SELECT doc_id,
       round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                 * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
             6) AS score
FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN ad
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""

    qs["embed_quant"] = r"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
m AS (
  SELECT vec_id, v,
         list_aggregate(v, 'min') AS qmin,
         (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0 AS scale
  FROM v
),
codes AS (
  SELECT vec_id, v, qmin, scale,
         list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                                     ELSE floor((x - qmin) / scale + 0.5)::INTEGER
                                END) AS c
  FROM m
)
SELECT vec_id,
       qmin,
       scale,
       CAST(list_sum(c) AS BIGINT) AS codes_sum,
       CAST(list_aggregate(c, 'max') AS INTEGER) AS code_max,
       round(list_sum(list_transform(range(1, len(v) + 1),
                                     i -> (v[i] - (qmin + c[i] * scale)) ^ 2))
             / len(v), 6) AS recon_mse
FROM codes
"""

    qs["q10_returned_items"] = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name,
       round(sum(l_extendedprice::DECIMAL(18,4)
                 * (1 - l_discount::DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

    qs["q4_priority_returns"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-04-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

    qs["q14_promo_revenue"] = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice::DECIMAL(14,2)
                                   * (1 - l_discount::DECIMAL(4,2))
                              ELSE 0::DECIMAL(20,4) END)::DOUBLE
             / sum(l_extendedprice::DECIMAL(14,2)
                   * (1 - l_discount::DECIMAL(4,2)))::DOUBLE,
             6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
"""

    qs["q19_brand_quantity"] = """
SELECT round(sum(l_extendedprice::DECIMAL(14,2)
                 * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15
       AND l_quantity BETWEEN 1  AND 20)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""

    qs["q6_forecast"] = """
SELECT round(sum(l_extendedprice::DECIMAL(18,4)
                 * l_discount::DECIMAL(18,4)), 2)::DOUBLE AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""

    qs["q7_volume_shipping"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(l_extendedprice::DECIMAL(14,2)
                 * (1 - l_discount::DECIMAL(4,2))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""

    qs["q8_market_share"] = """
WITH vol AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice::DECIMAL(14,2)
           * (1 - l_discount::DECIMAL(4,2)) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region   ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
                      ELSE 0::DECIMAL(19,4) END)::DOUBLE
             / sum(volume)::DOUBLE, 6) AS mkt_share
FROM vol GROUP BY o_year
"""

    qs["q9_product_profit"] = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice::DECIMAL(14,2)
                   * (1 - l_discount::DECIMAL(4,2))
                 - p_retailprice::DECIMAL(12,2)
                   * l_quantity::DECIMAL(6,2)
                   * 0.6::DECIMAL(2,1)), 2)::DOUBLE AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""

    qs["q13_custdist"] = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""

    qs["q15_top_supplier"] = """
WITH revenue AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice::DECIMAL(14,2)
                   * (1 - l_discount::DECIMAL(4,2))), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue::DOUBLE AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

    qs["q17_small_quantity"] = """
WITH l AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#13' AND p_size <= 10
), per_part AS (
  SELECT l_partkey AS pk,
         sum(l_quantity::DECIMAL(18,2)) AS sum_qty,
         count(*)::DECIMAL(12,0) AS n
  FROM l GROUP BY 1
)
SELECT round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / 7.0, 2)
       AS avg_yearly
FROM l JOIN per_part ON l_partkey = pk
WHERE l_quantity::DECIMAL(12,2) * n * 5::DECIMAL(1,0) < sum_qty
"""

    qs["q18_large_orders"] = f"""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '{TS_FMT_DUCK}') AS o_orderdate_str,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum_qty, 2) AS sum_qty
FROM orders
JOIN big      ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""

    qs["q22_sales_opportunity"] = """
WITH stats AS (
  SELECT sum(c_acctbal::DECIMAL(18,2)) AS s,
         count(*)::DECIMAL(12,0) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name,
       count(*) AS numcust,
       round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey, stats
WHERE c_acctbal::DECIMAL(18,2) * stats.n > stats.s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name
"""

    qs["q2_min_supplier"] = """
WITH eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), pr AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
  FROM pairs
  JOIN part ON l_partkey = p_partkey
  JOIN eu ON l_suppkey = s_suppkey
  WHERE p_type = 'STANDARD' AND p_size <= 5
), mn AS (
  SELECT p_partkey AS pk, min(s_acctbal) AS min_bal FROM pr GROUP BY 1
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
       p_name, s_suppkey
FROM pr JOIN mn ON p_partkey = pk AND s_acctbal = min_bal
ORDER BY s_acctbal DESC, s_suppkey, p_partkey
LIMIT 100
"""

    qs["q11_important_parts"] = """
WITH l AS (
  SELECT l_partkey, l_extendedprice
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
), per_part AS (
  SELECT l_partkey, sum(l_extendedprice::DECIMAL(18,2)) AS val
  FROM l GROUP BY 1
), tot AS (SELECT sum(val) AS total FROM per_part)
SELECT l_partkey AS partkey, round(val, 2)::DOUBLE AS value
FROM per_part, tot
WHERE val > total * 0.001::DECIMAL(4,3)
"""

    qs["q12_shipping_delay"] = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
  AND l_shipdate <  o_orderdate + INTERVAL 120 DAY
GROUP BY l_returnflag
"""

    qs["q16_supplier_counts"] = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""

    qs["q20_promotion_suppliers"] = """
WITH l AS (
  SELECT l_suppkey, l_quantity
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate <  TIMESTAMP '1999-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
), per_supp AS (
  SELECT l_suppkey, sum(l_quantity::DECIMAL(18,2)) AS qty
  FROM l GROUP BY 1
), stats AS (
  SELECT sum(qty) AS total, count(*)::DECIMAL(12,0) AS n FROM per_supp
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_9'
  AND s_suppkey IN (SELECT l_suppkey FROM per_supp, stats
                    WHERE qty * n > total)
"""

    qs["q21_waiting_suppliers"] = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*) AS numwait
FROM lo l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1' AND l1.late
  AND EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""

    qs["jaccard_pairs"] = (
        """WITH
toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ')
         END AS tk
  FROM documents WHERE doc_id < 1000
),
sh_t AS (
  SELECT doc_id,
         CASE WHEN len(tk) - 2 <= 0 THEN []::VARCHAR[]
              ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                                                i -> array_to_string(tk[i:i+2], ' ')))
         END AS sh
  FROM toks
)"""
        + f""",
hs_t AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(sh,
           s -> {_H60.format(x='s')}))) AS hs
  FROM sh_t WHERE len(sh) > 0
),
pre AS (
  SELECT doc_id, len(hs) AS sz,
         unnest(hs[1 : (len(hs) - ceil(len(hs) * {NEAR_DUP_THRESHOLD}::DOUBLE)::INT + 1)]) AS ng
  FROM hs_t
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM pre a JOIN pre b
    ON a.ng = b.ng AND a.doc_id < b.doc_id
   AND greatest(a.sz, b.sz) * {NEAR_DUP_THRESHOLD}::DOUBLE <= least(a.sz, b.sz)
)
SELECT da AS id_a, db AS id_b,
       len(list_intersect(sa.hs, sb.hs))::DOUBLE
         / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
       AS jaccard
FROM cand
JOIN hs_t sa ON sa.doc_id = da
JOIN hs_t sb ON sb.doc_id = db
WHERE len(list_intersect(sa.hs, sb.hs))::DOUBLE
        / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
      >= {NEAR_DUP_THRESHOLD}::DOUBLE
"""
    )

    qs["doc_repetition"] = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '') END AS tk
  FROM documents
), b AS (
  SELECT doc_id, tk,
         CASE WHEN len(tk) - 1 <= 0 THEN []::VARCHAR[]
              ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
         END AS bg
  FROM t
)
SELECT doc_id,
       len(tk)::BIGINT AS n_tokens,
       CASE WHEN len(tk) > 0
            THEN len(list_distinct(tk))::DOUBLE / len(tk) ELSE 0.0 END
         AS distinct_ratio,
       CASE WHEN len(tk) > 0
            THEN list_max(list_transform(list_distinct(tk),
                   x -> len(list_filter(tk, y -> y = x))))::DOUBLE / len(tk)
            ELSE 0.0 END AS top_token_frac,
       CASE WHEN len(bg) > 0
            THEN list_max(list_transform(list_distinct(bg),
                   x -> len(list_filter(bg, y -> y = x))))::DOUBLE / len(bg)
            ELSE 0.0 END AS top_bigram_frac,
       CASE WHEN len(bg) > 0
            THEN (len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg)
            ELSE 0.0 END AS dup_bigram_frac
FROM b
"""

    qs["funnel"] = """
WITH ev AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-01 06:00:00'),
u0 AS (SELECT user_id, min(ts) AS t0 FROM ev WHERE event_type = 'view' GROUP BY 1),
u1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM ev e JOIN u0 ON e.user_id = u0.user_id
       WHERE e.event_type = 'click' AND e.ts > u0.t0 GROUP BY 1),
u2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN u1 ON e.user_id = u1.user_id
       WHERE e.event_type = 'purchase' AND e.ts > u1.t1 GROUP BY 1)
SELECT 1 AS stage, 'view' AS step, (SELECT count(*) FROM u0) AS n_users
UNION ALL SELECT 2, 'click', (SELECT count(*) FROM u1)
UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM u2)
"""

    qs["retention"] = """
WITH act AS (SELECT DISTINCT user_id, floor(epoch(ts) / 86400)::BIGINT AS p
             FROM events),
coh AS (SELECT user_id, min(p) AS c FROM act GROUP BY 1)
SELECT strftime(DATE '1970-01-01' + c::INT, '%Y-%m-%d') AS cohort_start,
       (p - c)::INT AS period_offset, count(*) AS n_users
FROM act JOIN coh USING (user_id) GROUP BY 1, 2
"""

    qs["anomaly"] = """
WITH s AS (
  SELECT event_type, avg(value) AS m, stddev_pop(value) AS sd,
         count(value) AS n
  FROM events GROUP BY 1
)
SELECT event_id, event_type, round(value, 2) AS value,
       round(m, 6) AS group_mean, round(sd, 6) AS group_std,
       round((value - m) / sd, 6) AS zscore
FROM events JOIN s USING (event_type)
WHERE n >= 2 AND sd > 0 AND abs(round((value - m) / sd, 6)) > 3.0
"""

    qs["unpivot"] = """
WITH m AS (
  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
)
SELECT l_returnflag, metric,
       round(sum(val::DECIMAL(18,2)), 2)::DOUBLE AS total
FROM m GROUP BY 1, 2
"""

    qs["incr_gold"] = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value,
       round(sum(value) / count(*), 6) AS avg_value
FROM events GROUP BY event_type
"""

    qs["pit_join"] = f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
  FROM events
),
changes AS (
  SELECT * FROM ordered WHERE prev IS NULL OR prev <> event_type
),
dim AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to
  FROM changes
),
facts AS (
  SELECT event_id, user_id, ts + INTERVAL 3 HOUR AS asof_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, d.state,
       strftime(d.valid_from, '{TS_FMT_DUCK}') AS valid_from
FROM facts f JOIN dim d
  ON f.user_id = d.user_id
 AND d.valid_from <= f.asof_ts
 AND (d.valid_to IS NULL OR f.asof_ts < d.valid_to)
"""

    qs["rolling_window"] = """
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       round(sum(value) OVER w, 4) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

    qs["edit_join"] = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       levenshtein(a.c_name, b.c_name)::INT AS distance
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
WHERE a.c_custkey < 400 AND b.c_custkey < 400
  AND levenshtein(a.c_name, b.c_name) <= 1
"""

    qs["sketch_rollup"] = """
SELECT r_name,
       count(DISTINCT o_custkey) AS exact_customers,
       true AS est_ok
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    qs["domain_cap"] = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
) WHERE rk <= 15
"""

    qs["cluster_rep"] = (
        "WITH RECURSIVE "
        + _duck_shingles_cte()
        + ",\nsig AS (SELECT doc_id, "
        + ", ".join(_duck_minhash_exprs("sh"))
        + " FROM sh_t),\n"
        + _duck_hashed_cte()
        + ",\nbands AS ("
        + _duck_bands_select()
        + f"""),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN hsh sa ON sa.doc_id = c.doc_a
  JOIN hsh sb ON sb.doc_id = c.doc_b
  WHERE CASE WHEN len(list_distinct(list_concat(sa.hs, sb.hs))) > 0
             THEN len(list_intersect(sa.hs, sb.hs))::DOUBLE
                  / len(list_distinct(list_concat(sa.hs, sb.hs)))
             ELSE 0.0 END >= {NEAR_DUP_THRESHOLD}
),
bi AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM bi
  UNION
  SELECT r.a, e.b FROM reach r JOIN bi e ON r.b = e.a
),
comp AS (
  SELECT a AS node, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
),
lab AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rk,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM lab
)
SELECT cluster_id, doc_id AS rep_id, n_chars AS rep_score, n_members
FROM ranked WHERE rk = 1
"""
    )

    _cums2 = []
    _c2 = 0.0
    for _name in list(SPLIT_FRACTIONS)[:-1]:
        _c2 += SPLIT_FRACTIONS[_name]
        _cums2.append((_name, _c2))
    _split_case_rep = "CASE " + " ".join(
        f"WHEN u < {_cv!r} THEN '{_nm}'" for _nm, _cv in _cums2
    ) + f" ELSE '{list(SPLIT_FRACTIONS)[-1]}' END"
    # cluster_split: same verified-pair + recursive-CC skeleton as
    # cluster_rep; each doc's split hashes its cluster REPRESENTATIVE
    # through the identical md5-interval draw as sample_split
    _rep_u = "((" + _H60.format(x="rep::VARCHAR || chr(31) || 'split'") + " % 1048576)::DOUBLE / 1048576.0)"
    qs["cluster_split"] = (
        "WITH RECURSIVE "
        + _duck_shingles_cte()
        + ",\nsig AS (SELECT doc_id, "
        + ", ".join(_duck_minhash_exprs("sh"))
        + " FROM sh_t),\n"
        + _duck_hashed_cte()
        + ",\nbands AS ("
        + _duck_bands_select()
        + f"""),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN hsh sa ON sa.doc_id = c.doc_a
  JOIN hsh sb ON sb.doc_id = c.doc_b
  WHERE CASE WHEN len(list_distinct(list_concat(sa.hs, sb.hs))) > 0
             THEN len(list_intersect(sa.hs, sb.hs))::DOUBLE
                  / len(list_distinct(list_concat(sa.hs, sb.hs)))
             ELSE 0.0 END >= {NEAR_DUP_THRESHOLD}
),
bi AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM bi
  UNION
  SELECT r.a, e.b FROM reach r JOIN bi e ON r.b = e.a
),
comp AS (
  SELECT a AS node, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
),
lab AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
u AS (SELECT doc_id, rep, {_rep_u} AS u FROM lab)
SELECT doc_id, rep,
       {_split_case_rep} AS split
FROM u
"""
    )

    # incr_clusters: the operator folds batches incrementally; the
    # contract is exact equality with a FULL recompute over the union,
    # so the oracle is the cluster_split CTE truncated at comp (nodes
    # that appear in any verified pair, labeled with the component min)
    qs["incr_clusters"] = (
        qs["cluster_split"][: qs["cluster_split"].index("lab AS (")]
        + "sel AS (SELECT node, cluster_id FROM comp)\n"
        "SELECT node, cluster_id FROM sel\n"
    )

    # sticky_split: the same CC skeleton; legacy epoch = plain doc_id
    # hash (seed 'legacy') over even ids; sticky resolution mirrors
    # operators/split_guard.sticky_split (kept verbatim -> cluster
    # majority with fractions-order tie-break -> rep hash) plus the
    # audit reason column
    _legacy_u = (
        "((" + _H60.format(x="doc_id::VARCHAR || chr(31) || 'legacy'")
        + " % 1048576)::DOUBLE / 1048576.0)"
    )
    _split_names = list(SPLIT_FRACTIONS)
    _prio_case = "CASE prev_split " + " ".join(
        f"WHEN '{_nm}' THEN {_i}" for _i, _nm in enumerate(_split_names)
    ) + f" ELSE {len(_split_names)} END"
    _legacy_case = _split_case_rep.replace("u <", "lu <")
    qs["sticky_split"] = (
        qs["cluster_split"][: qs["cluster_split"].index("u AS (SELECT")]
        + f"""prev AS (
  SELECT doc_id, {_legacy_case} AS prev_split
  FROM (SELECT doc_id, {_legacy_u} AS lu FROM documents WHERE doc_id % 2 = 0)
),
j AS (
  SELECT lab.doc_id, lab.rep, p.prev_split,
         {_split_case_rep.replace("u <", "hu <")} AS hash_split
  FROM (SELECT doc_id, rep, {_rep_u.replace(' AS u', '')} AS hu FROM lab) lab
  LEFT JOIN prev p USING (doc_id)
),
maj AS (
  SELECT rep, prev_split AS cluster_split, n_splits FROM (
    SELECT rep, prev_split,
           row_number() OVER (PARTITION BY rep ORDER BY n DESC, prio ASC) AS rk,
           count(*) OVER (PARTITION BY rep) AS n_splits
    FROM (SELECT rep, prev_split, count(*) AS n, {_prio_case} AS prio
          FROM j WHERE prev_split IS NOT NULL GROUP BY rep, prev_split)
  ) WHERE rk = 1
),
fin AS (
  SELECT j.doc_id, j.rep,
         coalesce(j.prev_split, m.cluster_split, j.hash_split) AS split,
         j.prev_split, j.hash_split, m.cluster_split,
         coalesce(m.n_splits, 0) AS n_splits
  FROM j LEFT JOIN maj m USING (rep)
)
SELECT doc_id, rep, split,
       CASE WHEN n_splits >= 2 THEN 'cluster_conflict'
            WHEN prev_split IS NOT NULL AND prev_split <> hash_split
                 THEN 'kept_prev'
            WHEN prev_split IS NULL AND cluster_split IS NOT NULL
                 AND cluster_split <> hash_split THEN 'inherited'
       END AS reason
FROM fin
"""
    )

    # same scenario through apply_conflict_policy(quarantine_eval):
    # conflicted clusters (legacy splits straddle, n_splits >= 2) force
    # every member into the FIRST fractions split
    _first_split = next(iter(SPLIT_FRACTIONS))
    qs["split_conflicts"] = (
        qs["sticky_split"][: qs["sticky_split"].index("SELECT doc_id, rep, split,")]
        + f"""SELECT doc_id, rep,
       CASE WHEN n_splits >= 2 THEN '{_first_split}' ELSE split END AS split,
       (n_splits >= 2) AS quarantined
FROM fin
"""
    )

    qs["decontaminate"] = (
        "WITH "
        + _duck_shingles_cte()
        + """,
ev AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh_t WHERE doc_id % 53 = 0),
tr AS (SELECT doc_id, unnest(sh) AS shingle FROM sh_t WHERE doc_id % 53 <> 0),
cnt AS (SELECT tr.doc_id, count(*) AS n_overlap
        FROM tr JOIN ev USING (shingle) GROUP BY 1)
SELECT d.doc_id, coalesce(c.n_overlap, 0) AS n_overlap,
       coalesce(c.n_overlap, 0) >= 2 AS contaminated
FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
WHERE d.doc_id % 53 <> 0
"""
    )

    qs["chunk_docs"] = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), w -> w <> '') END AS tk
  FROM documents
),
st AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS s
  FROM toks WHERE len(tk) > 0
)
SELECT doc_id, (s / 24)::INT AS chunk_id,
       least(32, len(tk) - s)::BIGINT AS n_tokens,
       array_to_string(tk[s + 1 : s + 32], ' ') AS chunk_text
FROM st
"""

    qs["vocab_build"] = rf"""
WITH terms AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) AS term
  FROM documents
),
counted AS (SELECT term, count(*) AS n_occur FROM terms GROUP BY 1)
SELECT term, n_occur, vocab_id::INTEGER AS vocab_id FROM (
  SELECT term, n_occur,
         row_number() OVER (ORDER BY n_occur DESC, term ASC) AS vocab_id
  FROM counted
) WHERE vocab_id <= {VOCAB_MAX}
"""

    qs["token_ids"] = rf"""
WITH terms AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) AS term
  FROM documents
),
counted AS (SELECT term, count(*) AS n_occur FROM terms GROUP BY 1),
vocab AS (
  SELECT term, vocab_id FROM (
    SELECT term, row_number() OVER (ORDER BY n_occur DESC, term ASC) AS vocab_id
    FROM counted
  ) WHERE vocab_id <= {VOCAB_MAX}
),
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '') AS l
  FROM documents
),
pos AS (
  SELECT t.doc_id, i - 1 AS pos, t.l[i] AS term
  FROM toks t, unnest(range(1, len(t.l) + 1)) AS u(i)
)
SELECT p.doc_id, p.pos::INTEGER AS pos, v.vocab_id::INTEGER AS token_id
FROM pos p JOIN vocab v USING (term)
"""

    # t-digest contract mirrors sketch_rollup's HLL contract: the exact
    # per-group counts hash-compare, and the rank-error booleans are
    # asserted literally TRUE (the sketch estimate's true CDF position is
    # within tolerance of the target quantile)
    qs["quantile_sketch"] = """
SELECT o_orderpriority, count(*) AS n_orders,
       true AS ok_p50, true AS ok_p95
FROM orders GROUP BY o_orderpriority
"""

    qs["quantile_sketch_merge"] = """
SELECT r_name, count(*) AS n_customers,
       true AS ok_p50, true AS ok_p90
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    qs["topk_sketch"] = rf"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) AS tok
  FROM documents
),
tt AS (SELECT tok FROM toks WHERE tok <> ''),
n AS (SELECT count(*)::DOUBLE AS N FROM tt)
SELECT tok AS item, count(*) AS cnt,
       count(*)::DOUBLE / N AS share
FROM tt, n GROUP BY tok, N
HAVING count(*)::DOUBLE >= {TOPK_MIN_SHARE} * N
"""

    qs["weighted_sample"] = f"""
WITH t AS (SELECT *, {_duck_u('wsample')} AS u FROM documents),
     w AS (SELECT sum(n_chars)::DOUBLE AS W FROM documents)
SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM t, w
WHERE u < least(1.0, {WSAMPLE_EXPECTED!r} * n_chars / W)
GROUP BY lang
"""

    _pii_inject = (
        "text || ' contact user' || doc_id::VARCHAR || '@example.com or "
        "555-123-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || "
        "' at 10.0.' || (doc_id % 256)::VARCHAR || '.' || "
        "(doc_id % 250)::VARCHAR || CASE WHEN doc_id % 3 = 0 THEN "
        "' ssn 123-45-6789 card 4111-1111-1111-1111' ELSE '' END"
    )
    _rx_email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _rx_card = r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b"
    _rx_ssn = r"\b\d{3}-\d{2}-\d{4}\b"
    _rx_phone = r"\b\d{3}[ .-]\d{3}[ .-]\d{4}\b"
    _rx_ip = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    qs["pii_scrub"] = f"""
WITH d AS (SELECT doc_id, {_pii_inject} AS text FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(text, '{_rx_email}', '<EMAIL>', 'g'),
         '{_rx_card}', '<CARD>', 'g'),
         '{_rx_ssn}', '<SSN>', 'g'),
         '{_rx_phone}', '<PHONE>', 'g'),
         '{_rx_ip}', '<IP>', 'g') AS scrubbed,
       len(regexp_extract_all(text, '{_rx_email}'))::BIGINT AS pii_email_n,
       len(regexp_extract_all(text, '{_rx_card}'))::BIGINT AS pii_credit_card_n,
       len(regexp_extract_all(text, '{_rx_ssn}'))::BIGINT AS pii_ssn_n,
       len(regexp_extract_all(text, '{_rx_phone}'))::BIGINT AS pii_phone_n,
       len(regexp_extract_all(text, '{_rx_ip}'))::BIGINT AS pii_ipv4_n
FROM d
"""

    qs["line_dedup"] = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '') END AS tk
  FROM documents
),
ln AS (
  SELECT doc_id,
         list_transform(
           range(1, CAST(ceil(len(tk) / {LINE_DEDUP_TOKENS_PER_LINE}.0)
                         AS BIGINT) + 1),
           i -> array_to_string(
                  tk[(i-1)*{LINE_DEDUP_TOKENS_PER_LINE}+1
                     :(i-1)*{LINE_DEDUP_TOKENS_PER_LINE}
                       +{LINE_DEDUP_TOKENS_PER_LINE}], ' ')) AS lines
  FROM base
),
ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(lines) + 1),
                i -> struct_pack(pos := i, line := lines[i]))) AS s
  FROM ln
),
e2 AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM ex),
counts AS (
  SELECT lower(trim(line)) AS k, count(*) AS n FROM e2 GROUP BY 1
),
j AS (
  SELECT e2.doc_id, e2.pos, e2.line,
         (n <= {LINE_DEDUP_MAX_OCCUR} AND length(trim(line)) > 0) AS keep
  FROM e2 JOIN counts ON lower(trim(e2.line)) = counts.k
),
agg AS (
  SELECT doc_id,
         coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                             ORDER BY pos), '') AS new_text,
         sum(CASE WHEN NOT keep AND length(trim(line)) > 0
                  THEN 1 ELSE 0 END)::BIGINT AS n_dropped
  FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.new_text, '') AS text,
       coalesce(agg.n_dropped, 0)::BIGINT AS n_lines_dropped
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""

    qs["lm_perplexity"] = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN ['<s>']
              ELSE list_prepend('<s>',
                     list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) END AS p
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(p)),
                i -> struct_pack(prev := p[i], word := p[i+1]))) AS s
  FROM base
),
b2 AS (SELECT doc_id, s.prev AS prev, s.word AS word FROM bg),
cbg AS (SELECT prev, word, count(*) AS c_bg FROM b2 GROUP BY prev, word),
cctx AS (SELECT prev, sum(c_bg) AS c_ctx FROM cbg GROUP BY prev),
v AS (SELECT count(DISTINCT word) AS vs FROM cbg),
scored AS (
  SELECT b2.doc_id,
         -log2((c_bg + 1.0) / (c_ctx + vs)) AS nl
  FROM b2 JOIN cbg USING (prev, word) JOIN cctx USING (prev), v
),
agg AS (
  SELECT doc_id, round(avg(nl), 6) AS bits_per_token
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, agg.bits_per_token
FROM documents d LEFT JOIN agg USING (doc_id)
"""

    qs["semantic_dedup"] = f"""
WITH emb AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[])) AS nrm,
         array_to_string(list_transform(embedding[1:{SEMDEDUP_BITS}],
           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bkt
  FROM embeddings
),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM emb a JOIN emb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 9)
        >= {SEMDEDUP_THRESHOLD}
)
SELECT e.vec_id, e.label, (dup.vec_id IS NULL) AS keep
FROM emb e LEFT JOIN dup ON e.vec_id = dup.vec_id
"""

    qs["resample"] = f"""
WITH obs0 AS (
  SELECT user_id,
         floor(epoch(ts))::BIGINT // {RESAMPLE_STEP} AS bkt,
         floor(epoch(ts))::BIGINT AS tse, value,
         row_number() OVER (
           PARTITION BY user_id, floor(epoch(ts))::BIGINT // {RESAMPLE_STEP}
           ORDER BY ts DESC, value DESC) AS rn
  FROM events
),
obs AS (SELECT user_id, bkt, value FROM obs0 WHERE rn = 1),
spans AS (
  SELECT user_id, min(bkt) AS b0, max(bkt) AS b1 FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(range(b0, b1 + 1)) AS bkt FROM spans
),
joined AS (
  SELECT g.user_id, g.bkt, o.value,
         last_value(o.value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bkt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bkt = o.bkt
)
SELECT user_id, bkt * {RESAMPLE_STEP} AS grid_epoch, value, value_ffill
FROM joined
"""

    _hw = (HIST_HI - HIST_LO) / HIST_BINS
    qs["histogram"] = f"""
WITH b AS (
  SELECT least({HIST_BINS - 1}, greatest(0,
           floor((o_totalprice::DOUBLE - {HIST_LO}) / {_hw})::INT)) AS bucket
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT bucket,
       round({HIST_LO} + bucket * {_hw}, 6) AS bucket_lo,
       round({HIST_LO} + (bucket + 1) * {_hw}, 6) AS bucket_hi,
       count(*) AS n
FROM b GROUP BY bucket
"""

    # Each rounded co-moment gets "+ 0.0": DuckDB's half-even round maps a
    # tiny negative covar to -0.0 where Spark's HALF_UP gives 0.0 — value-
    # equal but byte-hash-divergent (CORRECTNESS_r06). +0.0 collapses -0.0
    # identically in both engines (mirrors operators/stats.grouped_corr).
    qs["corr_panel"] = """
SELECT l_returnflag, count(*) AS n,
       round(corr(l_quantity::DOUBLE, l_extendedprice::DOUBLE), 5) + 0.0
         AS corr_l_quantity_l_extendedprice,
       round(covar_samp(l_quantity::DOUBLE, l_extendedprice::DOUBLE), 5) + 0.0
         AS covar_l_quantity_l_extendedprice,
       round(corr(l_discount::DOUBLE, l_tax::DOUBLE), 5) + 0.0
         AS corr_l_discount_l_tax,
       round(covar_samp(l_discount::DOUBLE, l_tax::DOUBLE), 5) + 0.0
         AS covar_l_discount_l_tax
FROM lineitem GROUP BY l_returnflag
"""

    qs["quantile_buckets"] = """
SELECT s_suppkey, s_acctbal,
       ntile(4) OVER (ORDER BY s_acctbal, s_suppkey) AS q_bucket
FROM supplier
"""

    _prof_cols = ("o_orderstatus", "o_orderpriority", "o_orderkey", "o_custkey")
    qs["table_profile"] = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
       count(CASE WHEN {c} IS NULL THEN 1 END) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       min({c}::VARCHAR) AS min_str, max({c}::VARCHAR) AS max_str
FROM orders"""
        for c in _prof_cols
    )

    _dhash = (
        "md5("
        + " || ".join(
            f"CASE WHEN {c} IS NULL THEN 'N:' "
            f"ELSE 'V' || length({c}::VARCHAR)::VARCHAR || ':' || {c}::VARCHAR END"
            for c in ("text", "lang", "source")
        )
        + ")"
    )
    qs["snapshot_diff"] = f"""
WITH newsnap AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
         lang, source
  FROM documents WHERE doc_id % 7 != 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source
  FROM documents WHERE doc_id % 11 = 0
),
o AS (SELECT doc_id, {_dhash} AS old_hash FROM documents),
n AS (SELECT doc_id, {_dhash} AS new_hash FROM newsnap)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_hash, new_hash,
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash = new_hash THEN 'unchanged'
            ELSE 'changed' END AS diff_status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""

    qs["resample_interp"] = f"""
WITH obs0 AS (
  SELECT user_id,
         floor(epoch(ts))::BIGINT // {RESAMPLE_STEP} AS bkt,
         value,
         row_number() OVER (
           PARTITION BY user_id, floor(epoch(ts))::BIGINT // {RESAMPLE_STEP}
           ORDER BY ts DESC, value DESC) AS rn
  FROM events
),
obs AS (SELECT user_id, bkt, value FROM obs0 WHERE rn = 1),
spans AS (
  SELECT user_id, min(bkt) AS b0, max(bkt) AS b1 FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(range(b0, b1 + 1)) AS bkt FROM spans
),
j AS (
  SELECT g.user_id, g.bkt, o.value
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bkt = o.bkt
),
aug AS (
  SELECT user_id, bkt, value,
         last_value(value IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN value IS NOT NULL THEN bkt END IGNORE NULLS)
           OVER wb AS pb,
         first_value(CASE WHEN value IS NOT NULL THEN bkt END IGNORE NULLS)
           OVER wf AS nb,
         first_value(value IGNORE NULLS) OVER wf AS nv
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY bkt
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY bkt
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bkt * {RESAMPLE_STEP} AS grid_epoch, value,
       CASE WHEN value IS NOT NULL THEN value
            WHEN nb IS NOT NULL
            THEN pv + (nv - pv) * (bkt - pb) / (nb - pb)
            ELSE pv END AS value_interp
FROM aug
"""

    qs["incr_near_dup"] = (
        "WITH "
        + _duck_shingles_cte()
        + ",\nsig AS (SELECT doc_id, "
        + ", ".join(_duck_minhash_exprs("sh"))
        + " FROM sh_t),\n"
        + _duck_hashed_cte()
        + ",\nbands AS ("
        + _duck_bands_select()
        + f"""),
cand AS (
  -- incremental semantics: only pairs whose doc_b face is the new
  -- batch (doc_id mod 5 = 0); historical partner rides as doc_a
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE b.doc_id % 5 = 0 AND a.doc_id != b.doc_id
    AND (a.doc_id % 5 != 0 OR a.doc_id < b.doc_id)
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CASE WHEN len(list_distinct(list_concat(sa.hs, sb.hs))) > 0
              THEN len(list_intersect(sa.hs, sb.hs))::DOUBLE
                   / len(list_distinct(list_concat(sa.hs, sb.hs)))
              ELSE 0.0 END AS jaccard
  FROM cand c
  JOIN hsh sa ON sa.doc_id = c.doc_a
  JOIN hsh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified
WHERE jaccard >= {NEAR_DUP_THRESHOLD}
"""
    )

    # the Bloom filter is invisible to semantics (fps re-verified, no
    # fns) — the oracle is the plain exact membership check
    qs["bloom_dedup"] = """
SELECT b.doc_id,
       EXISTS (SELECT 1 FROM documents h
               WHERE h.doc_id % 5 <> 0 AND md5(h.text) = md5(b.text)
              ) AS is_dup
FROM documents b
WHERE b.doc_id % 5 = 0
"""

    # sharding changes WHERE bits live, never the answer: same oracle
    qs["bloom_dedup_sharded"] = qs["bloom_dedup"]

    qs["dedup_content"] = r"""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fingerprint
  FROM documents
)
SELECT min(doc_id) AS doc_id, fingerprint
FROM fp
GROUP BY fingerprint
"""

    # shingle strings group-by replaces Spark's xxhash64 grouping —
    # identical span/novelty semantics (collisions are ~n²/2⁶⁵)
    _K = EXACT_SUBSTR_K
    qs["exact_substr"] = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '') END AS tk
  FROM documents
),
ln AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= {_K}
              THEN list_transform(range(1, len(tk) - {_K} + 2),
                   i -> struct_pack(pos := i - 1,
                        sg := array_to_string(tk[i:i+{_K}-1], ' ')))
              ELSE [] END AS sl
  FROM base
),
shu AS (SELECT doc_id, unnest(sl) AS s FROM ln),
sh AS (SELECT doc_id, s.pos AS pos, s.sg AS sg FROM shu),
dup AS (SELECT sg FROM sh GROUP BY sg HAVING count(*) >= 2),
hits AS (
  SELECT sh.doc_id, sh.pos, sh.pos + {_K} - 1 AS e
  FROM sh JOIN dup USING (sg)
),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS ni
  FROM hits
),
isl2 AS (
  SELECT doc_id, pos, e,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(e) AS e
  FROM isl2 GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id, count(*) AS n_dup_spans,
         sum(e - s + 1)::BIGINT AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(agg.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(agg.dup_tokens, 0)::BIGINT AS dup_tokens,
       CASE WHEN len(b.tk) > 0
            THEN coalesce(agg.dup_tokens, 0)::DOUBLE / len(b.tk)
            ELSE 0.0 END AS dup_token_frac
FROM base b LEFT JOIN agg USING (doc_id)
"""

    # random_proj: the seeded JL matrix injected as float64 literals
    # (repr round-trips exactly); proj_sum collapses to ONE dot with the
    # matrix's column sums, proj_norm needs all out_dim dots
    from lakehouse_ingestion_spark.operators.projection import (
        projection_matrix as _pm,
    )

    _R = _pm(PROJ_IN_DIM, PROJ_OUT_DIM, PROJ_SEED)

    def _vec_lit(v) -> str:
        return "[" + ", ".join(repr(float(x)) for x in v) + "]"

    _dots = [
        f"list_dot_product(embedding::DOUBLE[], {_vec_lit(_R[j])})"
        for j in range(PROJ_OUT_DIM)
    ]
    qs["random_proj"] = f"""
SELECT vec_id,
       {_dots[0]} AS p0,
       list_dot_product(embedding::DOUBLE[], {_vec_lit(_R.sum(axis=0))}) AS proj_sum,
       sqrt({" + ".join(f"power({d}, 2)" for d in _dots)}) AS proj_norm
FROM embeddings
"""

    qs["source_report"] = r"""
SELECT source, lang,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN trim(text) = '' THEN 0
                ELSE len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), w -> w <> '')) END
           )::BIGINT AS total_tokens,
       count(DISTINCT md5(regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')))::BIGINT
         AS n_distinct_contents,
       sum(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty
FROM documents
GROUP BY source, lang
"""

    _BL = ", ".join(f"'{w}'" for w in BLOCKLIST_WORDS)
    qs["blocklist_filter"] = f"""
WITH tk AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '') END AS tk
  FROM documents
)
SELECT doc_id,
       len(list_filter(tk, w -> w IN ({_BL})))::BIGINT AS n_hits,
       len(tk)::BIGINT AS n_tokens,
       (len(tk) = 0 OR
        len(list_filter(tk, w -> w IN ({_BL})))::DOUBLE / len(tk)
          <= {BLOCKLIST_MAX_RATIO}) AS keep
FROM tk
"""

    # strip_spans: the exact_substr span chain (lowered tokens drive
    # span detection) + an original-case rebuild cut at those positions
    qs["strip_spans"] = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '') END AS tk,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '') END AS tko
  FROM documents
),
ln AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= {_K}
              THEN list_transform(range(1, len(tk) - {_K} + 2),
                   i -> struct_pack(pos := i - 1,
                        sg := array_to_string(tk[i:i+{_K}-1], ' ')))
              ELSE [] END AS sl
  FROM base
),
shu AS (SELECT doc_id, unnest(sl) AS s FROM ln),
sh AS (SELECT doc_id, s.pos AS pos, s.sg AS sg FROM shu),
dup AS (SELECT sg FROM sh GROUP BY sg HAVING count(*) >= 2),
hits AS (
  SELECT sh.doc_id, sh.pos, sh.pos + {_K} - 1 AS e
  FROM sh JOIN dup USING (sg)
),
isl AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS ni
  FROM hits
),
isl2 AS (
  SELECT doc_id, pos, e,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(e) AS e
  FROM isl2 GROUP BY doc_id, island
),
covered AS (
  SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM spans
),
tokpos AS (
  SELECT b.doc_id, t.pos AS pos, t.w AS w
  FROM base b,
       unnest(list_transform(range(len(b.tko)),
              i -> struct_pack(pos := i, w := b.tko[i + 1]))) AS u(t)
  WHERE b.doc_id IN (SELECT doc_id FROM spans)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.w
  FROM tokpos tp LEFT JOIN covered c
    ON tp.doc_id = c.doc_id AND tp.pos = c.pos
  WHERE c.pos IS NULL
),
rebuilt AS (
  SELECT doc_id, array_to_string(list(w ORDER BY pos), ' ') AS new_text
  FROM kept GROUP BY doc_id
),
cut AS (
  SELECT doc_id, sum(e - s + 1)::BIGINT AS n_cut FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       md5(CASE WHEN cut.n_cut IS NOT NULL
                THEN coalesce(r.new_text, '') ELSE d.text END) AS text_md5,
       coalesce(cut.n_cut, 0)::BIGINT AS n_stripped_tokens
FROM documents d
LEFT JOIN cut USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""

    qs["ngram_novelty"] = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '') END AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, u.sg
  FROM base,
  LATERAL unnest(CASE WHEN len(tk) >= {NOVELTY_K}
    THEN list_transform(range(1, len(tk) - {NOVELTY_K} + 2),
         i -> array_to_string(tk[i:i+{NOVELTY_K}-1], ' '))
    ELSE [] END) AS u(sg)
),
first AS (SELECT sg, min(doc_id) AS fid FROM sh GROUP BY sg),
per AS (
  SELECT sh.doc_id, count(*) AS n_shingles,
         sum(CASE WHEN sh.doc_id = first.fid THEN 1 ELSE 0 END) AS novel
  FROM sh JOIN first USING (sg) GROUP BY sh.doc_id
)
SELECT d.doc_id,
       coalesce(per.n_shingles, 0)::BIGINT AS n_shingles,
       per.novel::DOUBLE / per.n_shingles AS novelty
FROM documents d LEFT JOIN per USING (doc_id)
"""

    qs["bm25_topk"] = r"""
WITH q(query_id, term) AS (VALUES (1,'spark'),(1,'table'),(2,'hash'),(2,'join'),(2,'merge'),(3,'stream'),(3,'window'),(3,'batch')),
toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('spark','table','hash','join','merge','stream','window','batch') GROUP BY 1, 2
),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (
  SELECT doc_id, len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), w -> w <> '')) AS dl
  FROM documents
),
st AS (SELECT count(*) AS n FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
sc AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
               6) AS score
  FROM tf JOIN dfq USING (term) JOIN q USING (term) JOIN dl USING (doc_id)
  CROSS JOIN st CROSS JOIN ad
  GROUP BY 1, 2
)
SELECT query_id::BIGINT AS query_id, doc_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rk
FROM sc
QUALIFY rk <= 10
"""

    qs["contamination"] = (
        "WITH "
        + _duck_shingles_cte()
        + """,
ev AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle FROM sh_t WHERE doc_id % 53 = 0),
tr AS (SELECT doc_id, unnest(sh) AS shingle FROM sh_t WHERE doc_id % 53 <> 0),
pd AS (SELECT ev.eval_id, tr.doc_id, count(*) AS n_overlap
       FROM tr JOIN ev USING (shingle) GROUP BY 1, 2),
rl AS (SELECT eval_id,
              sum(CASE WHEN n_overlap >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dirty_docs,
              count(*)::BIGINT AS n_hit_docs,
              max(n_overlap)::BIGINT AS max_overlap
       FROM pd GROUP BY 1)
SELECT d.doc_id AS eval_id,
       coalesce(rl.n_dirty_docs, 0)::BIGINT AS n_dirty_docs,
       coalesce(rl.n_hit_docs, 0)::BIGINT AS n_hit_docs,
       coalesce(rl.max_overlap, 0)::BIGINT AS max_overlap
FROM documents d LEFT JOIN rl ON d.doc_id = rl.eval_id
WHERE d.doc_id % 53 = 0
"""
    )

    qs["event_dedup"] = r"""
WITH w AS (
  SELECT event_id, user_id, event_type,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT event_id, user_id, event_type
FROM w WHERE gap IS NULL OR gap >= 600
"""

    qs["quantile_agg"] = r"""
WITH e AS (
  SELECT lang,
         round(quantile_cont(n_chars, 0.25), 6) AS e0,
         round(quantile_cont(n_chars, 0.50), 6) AS e1,
         round(quantile_cont(n_chars, 0.75), 6) AS e2
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars,
       CASE WHEN d.n_chars IS NULL THEN NULL
            ELSE 1 + (d.n_chars > e0)::INT + (d.n_chars > e1)::INT
                   + (d.n_chars > e2)::INT END::INT AS q_bucket
FROM documents d JOIN e USING (lang)
"""

    qs["top_p"] = r"""
WITH w AS (
  SELECT doc_id, lang, n_chars,
         coalesce(sum(n_chars) OVER (PARTITION BY lang
                  ORDER BY n_chars DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS prev,
         sum(n_chars) OVER (PARTITION BY lang)::BIGINT AS total
  FROM documents
)
SELECT doc_id, lang, n_chars, (prev + n_chars)::BIGINT AS cum_score
FROM w
WHERE prev::DOUBLE < 0.5 * total::DOUBLE
"""

    # fractional-score nucleus selection (r11 fix pin): score n_chars/64.0
    # is exact in double, so running sums are exact in both engines and
    # the 9dp boundary rounding in top_p_select is the identity here
    qs["top_p_frac"] = r"""
WITH s AS (
  SELECT doc_id, lang, n_chars / 64.0 AS score FROM documents
),
w AS (
  SELECT doc_id, lang, score,
         coalesce(sum(score) OVER (PARTITION BY lang
                  ORDER BY score DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0.0) AS prev,
         sum(score) OVER (PARTITION BY lang) AS total
  FROM s
)
SELECT doc_id, lang, score FROM w
WHERE prev < 0.5 * total OR (prev = 0.0 AND total > 0.0)
"""

    # streaming mass-share admission replay (r12): the 3-epoch ledger
    # accrual unrolled — allowed_e = round(0.5*seen_e, 6) - admitted_{e-1},
    # best-first within epoch (score DESC, doc_id ASC), crossing row
    # included.  p = 0.5 and integral scores keep every boundary exact in
    # double, so DuckDB's round-half-away vs Python's banker's rounding
    # never sees a half-way case.
    qs["share_admission"] = r"""
WITH s AS (
  SELECT doc_id, doc_id % 3 AS epoch, n_chars::DOUBLE AS score FROM documents
),
w AS (
  SELECT doc_id, epoch, score,
         coalesce(sum(score) OVER (PARTITION BY epoch
                  ORDER BY score DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0.0) AS prev
  FROM s
),
m AS (SELECT epoch, round(sum(score), 6) AS mass FROM s GROUP BY epoch),
seen AS (
  SELECT epoch, round(sum(mass) OVER (ORDER BY epoch), 6) AS seen_after FROM m
),
a0 AS (
  SELECT w.* FROM w
  WHERE epoch = 0
    AND round(prev, 6) <
        round(0.5 * (SELECT seen_after FROM seen WHERE epoch = 0), 6)
),
adm0 AS (SELECT round(coalesce(sum(score), 0.0), 6) AS v FROM a0),
a1 AS (
  SELECT w.* FROM w
  WHERE epoch = 1
    AND round(prev, 6) <
        round(0.5 * (SELECT seen_after FROM seen WHERE epoch = 1)
              - (SELECT v FROM adm0), 6)
),
adm1 AS (
  SELECT round((SELECT v FROM adm0)
               + round(coalesce(sum(score), 0.0), 6), 6) AS v
  FROM a1
),
a2 AS (
  SELECT w.* FROM w
  WHERE epoch = 2
    AND round(prev, 6) <
        round(0.5 * (SELECT seen_after FROM seen WHERE epoch = 2)
              - (SELECT v FROM adm1), 6)
)
SELECT doc_id, epoch::BIGINT AS epoch, score, prev + score + 0.0 AS cum_score
FROM a0
UNION ALL
SELECT doc_id, epoch::BIGINT, score, prev + score + (SELECT v FROM adm0)
FROM a1
UNION ALL
SELECT doc_id, epoch::BIGINT, score, prev + score + (SELECT v FROM adm1)
FROM a2
"""

    # the corpus-sized half of BPE training: word histogram, min_freq 2.
    # Explicit Java-\s class [ \t\n\x0b\f\r]+ — DuckDB/RE2 \s lacks \x0B
    # — and a non-empty filter (string_split_regex('') yields ['']),
    # matching functions/text.tokens exactly on dirty data too (r11
    # ADVICE fix; engine side filters '' tokens since r12).
    qs["bpe_histogram"] = r"""
WITH terms AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
           w -> w <> '')) AS word
  FROM documents
)
SELECT word, count(*) AS freq FROM terms GROUP BY word HAVING count(*) >= 2
"""

    # count-min sketch rebuilt bucket-for-bucket (r12): same md5-derived
    # hash family (token || '#' || seed), same narrow width, so the
    # min-over-depth estimates — INCLUDING collision overcounts — match
    # bit-for-bit.  Explicit Java-\s class + '' filter as everywhere.
    qs["cms_topk"] = rf"""
WITH toks AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
           w -> w <> '')) AS token
  FROM documents
),
exact AS (SELECT token, count(*) AS exact_cnt FROM toks GROUP BY token),
top AS (
  SELECT token, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, token LIMIT 100
),
counters AS (
  SELECT s.seed,
         {_H60.format(x="token || '#' || s.seed")} % {CMS_WIDTH} AS bucket,
         count(*) AS cnt
  FROM toks CROSS JOIN (SELECT unnest([0,1,2,3]) AS seed) s
  GROUP BY 1, 2
),
probed AS (
  SELECT t.token, t.exact_cnt, s.seed,
         {_H60.format(x="t.token || '#' || s.seed")} % {CMS_WIDTH} AS bucket
  FROM top t CROSS JOIN (SELECT unnest([0,1,2,3]) AS seed) s
)
SELECT p.token, p.exact_cnt, min(coalesce(c.cnt, 0)) AS cms_est,
       min(coalesce(c.cnt, 0)) - p.exact_cnt AS overcount
FROM probed p LEFT JOIN counters c ON c.seed = p.seed AND c.bucket = p.bucket
GROUP BY p.token, p.exact_cnt
"""

    # winnowing fingerprints (r12): k=8 char-gram md5 hashes, window-min
    # over w=16, distinct per doc, stop-fingerprint cap 50, pairs with
    # >= 8 shared.  DuckDB list slice l[s:e] is 1-based inclusive ->
    # [s : s+w-1] is the w-element window; short docs (0 < m < w) take
    # the single partial-window min, sub-k docs drop out — both matching
    # operators/winnow.py exactly.
    qs["winnow_overlap"] = r"""
WITH nt AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '[ \t\n\x0b\f\r]+', ' ', 'g') AS t
  FROM documents WHERE doc_id % 5 = 0
),
h AS (
  SELECT doc_id,
         CASE WHEN length(t) - 7 <= 0 THEN []::BIGINT[]
              ELSE list_transform(generate_series(1, length(t) - 7),
                     i -> (('0x' || substr(md5(substr(t, i, 8)), 1, 15))::BIGINT))
         END AS hashes
  FROM nt
),
fp AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(hashes) - 15, 1)),
           s -> list_min(hashes[s:s+15])))) AS fp
  FROM h WHERE len(hashes) > 0
),
keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50),
kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep k USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 8
"""

    # entity resolution (r12): the dirty-name synthesis, prefix+suffix
    # blocking with the stop-block cap, Levenshtein <= 1 edges, and the
    # transitive closure via a recursive CTE (UNION dedups, clusters are
    # ~3 nodes so reach stays tiny).  cluster = min rec_id.
    qs["er_clusters"] = r"""
WITH RECURSIVE nodes AS (
  SELECT c_custkey AS rec_id,
         CASE c_custkey % 3
           WHEN 0 THEN substr(md5((c_custkey // 3)::VARCHAR), 1, 8)
           WHEN 1 THEN substr(substr(md5((c_custkey // 3)::VARCHAR), 1, 8), 1, 1)
                       || substr(md5((c_custkey // 3)::VARCHAR), 1, 8)
           ELSE substr(md5((c_custkey // 3)::VARCHAR), 1, 8) || 'x'
         END AS name
  FROM customer
),
blocks AS (
  SELECT rec_id, name, unnest(list_distinct([
           substr(name, 1, 4),
           substr(name, length(name) - 3, 4)])) AS bk
  FROM nodes
),
keep AS (SELECT bk FROM blocks GROUP BY bk HAVING count(*) <= 100),
kb AS (SELECT b.rec_id, b.name, b.bk FROM blocks b JOIN keep USING (bk)),
cand AS (
  SELECT DISTINCT a.rec_id AS ka, a.name AS na, b.rec_id AS kb, b.name AS nb
  FROM kb a JOIN kb b ON a.bk = b.bk AND a.rec_id < b.rec_id
),
edges AS (SELECT ka, kb FROM cand WHERE levenshtein(na, nb) <= 1),
bi AS (SELECT ka AS a, kb AS b FROM edges UNION SELECT kb, ka FROM edges),
reach(src, node) AS (
  SELECT rec_id, rec_id FROM nodes
  UNION
  SELECT r.src, bi.b FROM reach r JOIN bi ON bi.a = r.node
),
comp AS (SELECT src AS rec_id, min(node) AS cluster FROM reach GROUP BY src)
SELECT n.rec_id, n.name, c.cluster FROM nodes n JOIN comp c USING (rec_id)
"""

    # winsorized min-max scaling (r12): quantile_cont == Spark's exact
    # percentile (same linear interpolation — the green percentiles row
    # pins it); the scaled quotient is left un-rounded on BOTH sides
    # (identical IEEE doubles in, identical out; in-engine round()
    # modes differ and would be the only divergence risk).
    qs["robust_scale"] = r"""
WITH e AS (
  SELECT l_returnflag AS rf,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_orderkey, l_linenumber, l_returnflag,
       l_extendedprice AS price,
       CASE WHEN hi > lo
            THEN (least(greatest(l_extendedprice, lo), hi) - lo) / (hi - lo)
            ELSE 0.5 END AS scaled
FROM lineitem JOIN e ON l_returnflag = e.rf
"""

    return qs
