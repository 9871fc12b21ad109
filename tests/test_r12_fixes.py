"""Round-12 fix pins.

1. compact_report vs a live stream (r11 ADVICE medium): the ledger is
   re-read after the fold is pinned, the fold retries when epochs were
   ledgered mid-fold, and a delta destroyed by the overwrite raises
   instead of silently vanishing from the report forever.
2. bpe_histogram oracle whitespace parity (r11 ADVICE low) is pinned in
   tests/test_bpe.py (oracle SQL char class) — see test_oracle_contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lakehouse_ingestion_spark.streaming.epochlog as epochlog
from lakehouse_ingestion_spark.streaming.contamination import (
    compact_report,
    contamination_epoch,
    current_report,
)


def _fixture(spark):
    ev = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (200, "pack my box with five dozen liquor jugs"),
        ],
        "eval_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "the quick brown fox sat still")], "doc_id long, text string"
    )
    return ev, b1, b2


class _LedgerScript:
    """Deterministic stand-in for the mid-fold ledger race: returns the
    scripted epoch set per call, replaying the real race interleaving
    without concurrency."""

    def __init__(self, real, ledger_path, script):
        self.real = real
        self.ledger_path = ledger_path
        self.script = list(script)
        self.calls = 0

    def __call__(self, spark, ledger_path):
        if ledger_path != self.ledger_path:
            return self.real(spark, ledger_path)
        out = self.script[min(self.calls, len(self.script) - 1)]
        self.calls += 1
        return set(out)


def test_compact_report_retries_when_epoch_ledgered_mid_fold(
    spark, tmp_path, monkeypatch
):
    """Epoch 1's ledger row lands between the first ledger read and the
    pinned fold: pre-fix the fold treated epoch 1 as pending forever; the
    r12 re-read notices and refolds with epoch 1 committed."""
    ev, b1, b2 = _fixture(spark)
    rp, lp = str(tmp_path / "report"), str(tmp_path / "ledger")
    contamination_epoch(b1, 0, eval_df=ev, report_path=rp, ledger_path=lp)
    # both deltas + ledger rows real
    contamination_epoch(b2, 1, eval_df=ev, report_path=rp, ledger_path=lp)

    # scripted interleaving: attempt 1 sees committed={0}, the post-pin
    # re-read sees {0,1} (epoch 1 ledgered mid-fold) -> retry; attempt 2
    # sees {0,1} throughout -> folds both.
    script = _LedgerScript(
        epochlog.ledgered_epochs, lp, [{0}, {0, 1}, {0, 1}, {0, 1}, {0, 1}]
    )
    monkeypatch.setattr(epochlog, "ledgered_epochs", script)
    compact_report(spark, rp, ledger_path=lp)
    assert script.calls >= 3  # first read, post-pin re-read, retry's read

    import glob
    import os

    parts = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(rp, "_epoch=*"))
    )
    assert parts == ["_epoch=-1"]  # both epochs folded, nothing pending
    rep = {r["eval_id"]: r for r in current_report(spark, rp).collect()}
    assert rep[100]["n_dirty_docs"] == 2


def test_compact_report_raises_when_overwrite_destroys_ledgered_delta(
    spark, tmp_path, monkeypatch
):
    """An epoch ledgered DURING the overwrite whose delta landed after
    the pinned read is unrecoverable (contamination_epoch skips ledgered
    epochs) — compact_report must raise, not lose it silently."""
    ev, b1, _ = _fixture(spark)
    rp, lp = str(tmp_path / "report"), str(tmp_path / "ledger")
    contamination_epoch(b1, 0, eval_df=ev, report_path=rp, ledger_path=lp)

    # attempt: committed={0}; post-pin re-read: {0} (no retry); the
    # post-overwrite read reports epoch 5 ledgered — its delta never
    # made the pinned read and its partition is gone.
    script = _LedgerScript(epochlog.ledgered_epochs, lp, [{0}, {0}, {0, 5}])
    monkeypatch.setattr(epochlog, "ledgered_epochs", script)
    with pytest.raises(RuntimeError, match=r"\[5\].*destroyed"):
        compact_report(spark, rp, ledger_path=lp)


def test_compact_report_gives_up_after_max_retries(
    spark, tmp_path, monkeypatch
):
    """A stream that commits epochs faster than the fold pins them must
    surface as an error, not an unbounded loop."""
    ev, b1, _ = _fixture(spark)
    rp, lp = str(tmp_path / "report"), str(tmp_path / "ledger")
    contamination_epoch(b1, 0, eval_df=ev, report_path=rp, ledger_path=lp)

    calls = {"n": 0}
    real = epochlog.ledgered_epochs

    def always_growing(spark_, ledger_path):
        if ledger_path != lp:
            return real(spark_, ledger_path)
        calls["n"] += 1
        # every post-pin re-read sees one more epoch than the fold did
        return set(range(calls["n"]))

    monkeypatch.setattr(epochlog, "ledgered_epochs", always_growing)
    with pytest.raises(RuntimeError, match="quiesce"):
        compact_report(spark, rp, ledger_path=lp, max_retries=3)


def test_compact_report_survives_real_interleaved_commit(spark, tmp_path):
    """End-to-end sanity with no mocks: pending delta at fold time, its
    ledger row appended BEFORE compaction reruns — every epoch counted
    exactly once through two compaction passes."""
    ev, b1, b2 = _fixture(spark)
    rp, lp = str(tmp_path / "report"), str(tmp_path / "ledger")
    contamination_epoch(b1, 0, eval_df=ev, report_path=rp, ledger_path=lp)
    # epoch 1 delta lands without its ledger row (crash window)
    from lakehouse_ingestion_spark.operators.decontaminate import (
        contamination_report,
    )

    pend = contamination_report(b2, ev).withColumn(
        "_epoch", F.lit(1).cast("long")
    )
    (
        pend.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(rp)
    )
    compact_report(spark, rp, ledger_path=lp)  # carries epoch 1 forward
    # retry commits epoch 1
    contamination_epoch(b2, 1, eval_df=ev, report_path=rp, ledger_path=lp)
    compact_report(spark, rp, ledger_path=lp)  # folds it
    import glob
    import os

    parts = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(rp, "_epoch=*"))
    )
    assert parts == ["_epoch=-1"]
    rep = {r["eval_id"]: r for r in current_report(spark, rp).collect()}
    assert rep[100]["n_dirty_docs"] == 2
    assert rep[200]["n_dirty_docs"] == 0


def test_bpe_histogram_oracle_parity_on_dirty_text(spark, tmp_path):
    """r11 ADVICE low: the bpe_histogram oracle now uses the explicit
    Java-\\s class [ \\t\\n\\x0b\\f\\r]+ plus a non-empty filter, and the
    engine's tokens() never emits '' tokens — both sides must agree on
    text the bench data happens to lack: \\x0b separators, empty docs,
    whitespace-only docs, space-padded docs."""
    import duckdb

    from lakehouse_ingestion_spark.operators.bpe import word_histogram

    docs = [
        (1, "aa\x0bbb aa"),
        (2, ""),
        (3, "   \t\x0b "),
        (4, "  aa bb  "),
        (5, "\tcc\ncc\x0ccc\r"),
        (6, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pq = str(tmp_path / "docs.parquet")
    df.coalesce(1).write.parquet(pq)

    engine = {
        r["word"]: r["freq"]
        for r in word_histogram(df, min_freq=2).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["bpe_histogram"]
    oracle = {w: f for w, f in con.execute(sql).fetchall()}
    assert engine == oracle == {"aa": 3, "bb": 2, "cc": 3}
