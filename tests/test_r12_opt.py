"""Round-12 optimization pins: each test locks the EQUIVALENCE of an
optimized internal form against its straightforward counterpart, so a
future refactor that changes results (not just speed) fails loudly.
"""

from pyspark.sql import functions as F


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
