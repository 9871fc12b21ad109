"""Decontamination + PII-redaction tests (operators/decontaminate.py,
functions/text.py PII section)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.functions.text import (
    PII_RULES,
    pii_counts,
    redact_pii,
)
from lakehouse_ingestion_spark.operators.decontaminate import (
    decontaminate,
    eval_ngram_set,
)


def test_decontaminate_counts_and_flags(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown fox is fast"),  # shares 'quick brown fox'
            (3, "completely unrelated words here today"),
            (4, ""),  # empty doc: zero shingles, never contaminated
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in decontaminate(train, ev, threshold=2).collect()
    }
    # doc 1 shares: 'the quick brown','quick brown fox','brown fox jumps' = 3
    assert out[1] == (3, True)
    assert out[2] == (1, False)
    assert out[3] == (0, False)
    assert out[4] == (0, False)
    assert len(out) == 4  # every train doc present — no silent row loss


def test_decontaminate_threshold_validation(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="threshold"):
        decontaminate(df, df, threshold=0)


def test_decontaminate_rejects_pairs_frame_as_eval_ngrams(spark):
    """eval_ngrams must be the distinct-shingle frame: the (eval_id,
    shingle) pairs frame repeats a shingle once per eval example that
    holds it, which would inflate n_overlap silently."""
    from lakehouse_ingestion_spark.operators.decontaminate import (
        eval_ngram_pairs,
    )

    ev = spark.createDataFrame(
        [(100, "a b c d"), (200, "a b c e")], "eval_id long, text string"
    )
    train = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="eval_ngrams"):
        decontaminate(train, ev, eval_ngrams=eval_ngram_pairs(ev))
    shared = eval_ngram_pairs(ev).select("shingle").distinct()
    got = decontaminate(train, ev, eval_ngrams=shared).collect()
    assert [(r["doc_id"], r["n_overlap"]) for r in got] == [(1, 2)]


def test_eval_ngram_set_distinct(spark):
    ev = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c")], "doc_id long, text string"
    )
    got = {r["shingle"] for r in eval_ngram_set(ev).collect()}
    assert got == {"a b c", "b c a", "c a b"}


def test_redact_pii_all_rule_types(spark):
    df = spark.createDataFrame(
        [
            (
                "mail bob.smith+x@example.co.uk or 10.0.0.1 "
                "card 12345678901 end",
            )
        ],
        "text string",
    )
    got = df.select(redact_pii("text").alias("t")).collect()[0]["t"]
    assert got == "mail <EMAIL> or <IP> card <NUM> end"


def test_redact_pii_order_email_before_number(spark):
    # the email's digit run must be consumed by the email rule, not
    # half-replaced by <NUM>
    df = spark.createDataFrame([("a1234567890@example.com",)], "text string")
    got = df.select(redact_pii("text").alias("t")).collect()[0]["t"]
    assert got == "<EMAIL>"


def test_pii_counts_map(spark):
    df = spark.createDataFrame(
        [("x@y.io and z@w.dev at 192.168.0.1 num 99999999",)], "text string"
    )
    got = df.select(pii_counts("text").alias("m")).collect()[0]["m"]
    assert got == {"email": 2, "ipv4": 1, "number": 1}
    assert [n for n, _, _ in PII_RULES] == ["email", "ipv4", "number"]


# ---------------------------------------------------------------------------
# context-window chunking (operators/chunking.py)
# ---------------------------------------------------------------------------

def test_chunk_documents_overlap_and_tail(spark):
    from lakehouse_ingestion_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, ""), (3, "solo")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, chunk_size=4, stride=3).collect()
    }
    # doc 1: windows at 0,3,6 — overlap of 1 token between consecutive
    assert got[(1, 0)] == (4, "t0 t1 t2 t3")
    assert got[(1, 1)] == (4, "t3 t4 t5 t6")
    assert got[(1, 2)] == (1, "t6")  # short tail window
    assert (2, 0) not in got  # empty doc emits nothing
    assert got[(3, 0)] == (1, "solo")
    assert len(got) == 4


def test_chunk_documents_min_tokens_drops_tails(spark):
    from lakehouse_ingestion_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    rows = chunk_documents(df, chunk_size=4, stride=4, min_tokens=2).collect()
    # windows: [a b c d], [e] — the 1-token tail is dropped
    assert [(r["chunk_id"], r["n_tokens"]) for r in rows] == [(0, 4)]


def test_chunk_documents_validation(spark):
    from lakehouse_ingestion_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="chunk_size"):
        chunk_documents(df, chunk_size=0)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, chunk_size=4, stride=5)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, chunk_size=4, stride=0)
