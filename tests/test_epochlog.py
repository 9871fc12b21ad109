"""The epoch-ledger protocol (streaming/epochlog) across every ledgered
maintainer: redelivering a ledgered epoch, and replaying an epoch whose
ledger append crashed, must both leave data and ledger exactly as a
clean run does.

Each case runs epochs 0 and 1 on a clean root, redelivers epoch 1 and
checks nothing changed. A second root runs epoch 0, then epoch 1 with
``epochlog.append_ledger`` raising once (the crash between the data
write and the commit point), then redelivers epoch 1; it must converge
to the clean run. Every maintainer commits through that one function,
so one patch point covers them all.

The cadence compactions (ANN retrain, sticky-split state compaction)
must replace their whole path even when the session defaults to
dynamic partition overwrite.
"""

from __future__ import annotations

import glob
import os
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import pytest

from lakehouse_ingestion_spark.streaming import epochlog


@dataclass(frozen=True)
class Case:
    name: str
    run: Callable  # (spark, root, epoch) -> None
    outputs: tuple[str, ...]  # parquet dirs under root holding data + ledger


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- budget

def _quota_batch(spark, epoch):
    rows = [[(1, "wiki", 9, 30), (2, "web", 8, 30), (3, "wiki", 2, 30)],
            [(4, "web", 9, 30), (5, "wiki", 7, 30), (6, "web", 1, 30)]]
    return spark.createDataFrame(
        rows[epoch], "doc_id long, dom string, score long, n_tokens long"
    )


def _share_batch(spark, epoch):
    rows = [[(1, "en", 10.0), (2, "de", 6.0), (3, "en", 4.0)],
            [(4, "de", 2.0), (5, "en", 8.0), (6, "de", 5.0)]]
    return spark.createDataFrame(
        rows[epoch], "doc_id long, lang string, quality double"
    )


def _quota(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch

    admit_epoch(
        _quota_batch(spark, epoch), epoch, out_path=f"{root}/out",
        ledger_path=f"{root}/ledger", score_col="score",
        cost_col="n_tokens", budget=100, key_col="doc_id",
    )


def _stratified(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch

    admit_epoch(
        _quota_batch(spark, epoch), epoch, out_path=f"{root}/out",
        ledger_path=f"{root}/ledger", strata_col="dom", score_col="score",
        cost_col="n_tokens", budget={"wiki": 60, "web": 40},
        key_col="doc_id",
    )


def _share(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    admit_epoch_share(
        _share_batch(spark, epoch), epoch, out_path=f"{root}/out",
        ledger_path=f"{root}/ledger", score_col="quality", p=0.5,
        key_col="doc_id",
    )


def _stratified_share(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    admit_epoch_share(
        _share_batch(spark, epoch), epoch, out_path=f"{root}/out",
        ledger_path=f"{root}/ledger", strata_col="lang",
        score_col="quality", p={"en": 0.5, "de": 0.7}, key_col="doc_id",
    )


# ------------------------------------------------------- fan-out, folds

def _fanout(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        write_epoch,
    )

    write_epoch(
        _quota_batch(spark, epoch), epoch,
        sinks={
            "bronze": SinkSpec(f"{root}/bronze"),
            "silver": SinkSpec(
                f"{root}/silver",
                transform=lambda df: df.where("score > 5").select("doc_id"),
            ),
        },
        ledger_path=f"{root}/ledger",
    )


def _cms(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.cms import cms_epoch

    items = [["x", "x", "y"], ["y", "z", "z", "z"]][epoch]
    cms_epoch(
        spark.createDataFrame([(i,) for i in items], "item string"), epoch,
        counters_path=f"{root}/counters", ledger_path=f"{root}/ledger",
        item_col="item", depth=2, width=64,
    )


def _contamination(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.contamination import (
        contamination_epoch,
    )

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (200, "pack my box with five dozen liquor jugs")],
        "eval_id long, text string",
    )
    batch = [[(1, "the quick brown fox jumps over the lazy dog")],
             [(2, "the quick brown fox sat still"),
              (3, "pack my box with five dozen eggs")]][epoch]
    contamination_epoch(
        _docs(spark, batch), epoch, eval_df=ev,
        report_path=f"{root}/report", ledger_path=f"{root}/ledger",
    )


# ------------------------------------------------------- state maintainers

T1 = "the quick brown fox jumps over the lazy dog again and again"
T2 = "completely different material that shares nothing at all here"


def _sticky(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.curation import (
        sticky_split_epoch,
    )

    batch = [[(1, T1), (2, T2)], [(3, T1 + " tail"), (4, "a third text")]]
    sticky_split_epoch(
        _docs(spark, batch[epoch]), epoch, state_dir=f"{root}/state",
        fractions={"train": 0.5, "test": 0.5}, threshold=0.3,
        sink=lambda df, e: epochlog.overwrite_epoch(df, f"{root}/out", e),
        num_hashes=8, num_bands=4,
    )


def _ann(spark, root, epoch):
    from lakehouse_ingestion_spark.streaming.ann_index import ann_index_epoch

    vecs = [
        [(1, [1.0, 0.0, 0.1]), (2, [0.0, 1.0, 0.2]), (3, [0.9, 0.1, 0.0])],
        [(4, [0.1, 0.9, 0.0]), (5, [1.0, 0.2, 0.3])],
    ][epoch]
    ann_index_epoch(
        spark.createDataFrame(vecs, "vec_id long, v array<double>"), epoch,
        index_dir=f"{root}/idx",
        init_centroids=spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
            "cid long, cv array<double>",
        ),
    )


_STATE = tuple(
    f"state/{t}" for t in ("assignments", "labels", "hashes", "bands", "ledger")
)

CASES = [
    Case("budget_quota", _quota, ("out", "ledger")),
    Case("budget_stratified", _stratified, ("out", "ledger")),
    Case("budget_share", _share, ("out", "ledger")),
    Case("budget_stratified_share", _stratified_share, ("out", "ledger")),
    Case("fanout", _fanout, ("bronze", "silver", "ledger")),
    Case("sticky_split", _sticky, ("out", *_STATE)),
    Case("ann_index", _ann, ("idx/postings", "idx/centroids", "idx/ledger")),
    Case("cms", _cms, ("counters", "ledger")),
    Case("contamination", _contamination, ("report", "ledger")),
]


def _snapshot(spark, root, outputs):
    snap = {}
    for rel in outputs:
        path = os.path.join(root, rel)
        assert os.path.isdir(path), f"{rel} was never written"
        rows = spark.read.parquet(path).collect()
        snap[rel] = sorted(str(tuple(r)) for r in rows)
    return snap


class _Crash(RuntimeError):
    pass


class _CrashOnce:
    """``append_ledger`` that dies once before writing: the crash window
    between an epoch's data write and its commit point."""

    def __init__(self, real):
        self.real = real
        self.fired = False

    def __call__(self, *args, **kwargs):
        if not self.fired:
            self.fired = True
            raise _Crash("ledger append lost")
        return self.real(*args, **kwargs)


@pytest.mark.parametrize("case", CASES, ids=lambda c: c.name)
def test_redelivery_and_crash_replay_match_clean_run(
    spark, tmp_path, monkeypatch, case
):
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for epoch in (0, 1):
        case.run(spark, clean, epoch)
    want = _snapshot(spark, clean, case.outputs)

    case.run(spark, clean, 1)  # ledgered epoch redelivered: a no-op
    assert _snapshot(spark, clean, case.outputs) == want

    case.run(spark, crashed, 0)
    crash = _CrashOnce(epochlog.append_ledger)
    monkeypatch.setattr(epochlog, "append_ledger", crash)
    with pytest.raises(_Crash):
        case.run(spark, crashed, 1)
    case.run(spark, crashed, 1)  # redelivery after the crash
    assert crash.fired
    assert _snapshot(spark, crashed, case.outputs) == want


@contextmanager
def _dynamic_overwrite_session(spark):
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _epoch_dirs(path):
    return sorted(os.path.basename(p) for p in glob.glob(f"{path}/_epoch=*"))


def test_compactions_replace_whole_path_under_dynamic_session(spark, tmp_path):
    """A session-wide dynamic overwrite mode must not keep superseded
    epoch partitions alive through a compaction: they would be read
    again next to the snapshot that folded them."""
    from lakehouse_ingestion_spark.streaming.ann_index import (
        committed_postings,
        retrain_index,
    )
    from lakehouse_ingestion_spark.streaming.curation import (
        compact_split_state,
    )

    root = str(tmp_path)
    for epoch in (0, 1):
        _ann(spark, root, epoch)
        _sticky(spark, root, epoch)
    with _dynamic_overwrite_session(spark):
        retrain_index(spark, f"{root}/idx", dim=3)
        compact_split_state(spark, f"{root}/state")

    posts = committed_postings(spark, f"{root}/idx")
    assert _epoch_dirs(f"{root}/idx/postings") == ["_epoch=1"]
    assert sorted(r["vec_id"] for r in posts.collect()) == [1, 2, 3, 4, 5]
    for table in ("assignments", "labels", "hashes", "bands"):
        assert _epoch_dirs(f"{root}/state/{table}") == ["_epoch=1"], table
    assign = spark.read.parquet(f"{root}/state/assignments")
    assert assign.count() == assign.select("doc_id").distinct().count() == 4
