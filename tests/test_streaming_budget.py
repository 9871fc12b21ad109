"""Streaming budget admission: cross-batch quota, replay convergence,
batch-sized state I/O."""

from functools import partial

import pytest
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.streaming.budget import (
    admit_epoch,
    spent,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, score long, n_tokens long")


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ledger")


def _admit(spark, paths, rows, epoch, budget=100):
    out, ledger = paths
    admit_epoch(
        _batch(spark, rows), epoch, out_path=out, ledger_path=ledger,
        score_col="score", cost_col="n_tokens", budget=budget, key_col="doc_id",
    )


def test_budget_spans_batches(spark, paths):
    out, ledger = paths
    # epoch 0: 60 of 100 admitted tokens; epoch 1: only 40 left
    _admit(spark, paths, [(1, 9, 30), (2, 8, 30), (3, 7, 30)], 0, budget=90)
    _admit(spark, paths, [(4, 9, 30), (5, 8, 30)], 1, budget=90)
    got = spark.read.parquet(out)
    assert {r["doc_id"] for r in got.collect()} == {1, 2, 3}  # 90 spent
    assert spent(spark, ledger) == 90
    # epoch 2: budget exhausted -> ledgered as a no-op, no data touched
    _admit(spark, paths, [(6, 9, 1)], 2, budget=90)
    assert spark.read.parquet(out).count() == 3
    led = {r["epoch"]: r for r in spark.read.parquet(ledger).collect()}
    assert led[2]["rows"] == 0 and led[2]["spent_after"] == 90


def test_best_first_within_batch_fcfs_across(spark, paths):
    out, _ = paths
    # epoch 0's weaker doc is admitted before epoch 1's stronger ones:
    # a stream cannot re-rank history — that asymmetry is the contract.
    # Within epoch 1 the PREFIX contract holds: the batch's best doc
    # fills first, and the running sum stops at the first overflow.
    _admit(spark, paths, [(1, 1, 50)], 0, budget=80)
    _admit(spark, paths, [(2, 99, 20), (3, 98, 50)], 1, budget=80)
    got = {r["doc_id"]: r["cum_cost"] for r in spark.read.parquet(out).collect()}
    # doc 2: global cum 50 + 20 = 70 <= 80; doc 3 would overflow to 120
    assert got == {1: 50, 2: 70}


def test_redelivery_is_idempotent(spark, paths):
    out, ledger = paths
    rows = [(1, 9, 40), (2, 8, 40)]
    _admit(spark, paths, rows, 0)
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    _admit(spark, paths, rows, 0)  # ledgered epoch redelivered: skipped
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert before == after
    assert spark.read.parquet(ledger).filter(F.col("epoch") == 0).count() == 1


def test_crash_between_write_and_ledger_converges(spark, paths, tmp_path):
    out, ledger = paths
    # simulate the crash window: epoch 0's data written, ledger missing
    df = _batch(spark, [(1, 9, 40), (2, 8, 40), (3, 7, 40)])
    from lakehouse_ingestion_spark.operators.selection import (
        token_budget_select,
    )

    pre = token_budget_select(df, "score", "n_tokens", 100, "doc_id")
    (
        pre.withColumn("_epoch", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(out)
    )
    # redelivery recomputes the identical admission and overwrites
    _admit(spark, paths, [(1, 9, 40), (2, 8, 40), (3, 7, 40)], 0)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2]
    assert spent(spark, ledger) == 80


def test_foreach_batch_builder_validates(spark, paths):
    out, ledger = paths
    from lakehouse_ingestion_spark.errors import ConfigError

    with pytest.raises(ConfigError):
        admit_epoch(
            _batch(spark, []), 0, out_path=out, ledger_path=ledger,
            score_col="s", cost_col="c", budget=-1, key_col="id",
        )
    fn = partial(
        admit_epoch, out_path=out, ledger_path=ledger, score_col="score",
        cost_col="n_tokens", budget=50, key_col="doc_id",
    )
    fn(_batch(spark, [(1, 5, 30), (2, 4, 30)]), 0)
    assert spent(spark, ledger) == 30


def test_budget_admit_sink_batch_mode(spark, tmp_path):
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    out = str(tmp_path / "sink_out")
    ledger = str(tmp_path / "sink_ledger")
    w = get_writer("budget_admit")
    opts = WriteOptions(
        path=out,
        options={"ledger_path": ledger, "score_col": "score",
                 "cost_col": "n_tokens", "budget": 60, "key_col": "doc_id"},
    )
    w.write_batch(_batch(spark, [(1, 9, 30), (2, 8, 30), (3, 7, 30)]), opts)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2}

    from lakehouse_ingestion_spark.errors import ConfigError

    with pytest.raises(ConfigError, match="budget"):
        w.write_batch(
            _batch(spark, [(1, 1, 1)]),
            WriteOptions(path=out, options={"ledger_path": ledger}),
        )


def test_streaming_budget_pipeline(spark, tmp_path):
    """Config-driven streaming budget admission: two micro-batches
    through the budget_admit target; batch 2 only gets what remains."""
    import json

    from lakehouse_ingestion_spark.config import parse_config
    from lakehouse_ingestion_spark.pipeline import Pipeline
    from lakehouse_ingestion_spark.schema_registry import SchemaRegistry
    from pyspark.sql.types import LongType, StructField, StructType

    registry = SchemaRegistry(str(tmp_path / "reg"))
    registry.register(
        "demo", "scored", "v1",
        StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("score", LongType(), True),
                StructField("n_tokens", LongType(), True),
            ]
        ),
    )
    indir = tmp_path / "ba_in"
    indir.mkdir()
    (indir / "b0.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "score": s, "n_tokens": c})
            for i, s, c in [(1, 9, 30), (2, 8, 30)]
        )
    )
    (indir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "score": s, "n_tokens": c})
            for i, s, c in [(3, 99, 30), (4, 98, 30)]
        )
    )
    out = str(tmp_path / "ba_out")
    ledger = str(tmp_path / "ba_ledger")
    cfg = parse_config(
        {
            "env": "test",
            "jobs": [
                {
                    "name": "budget-admit",
                    "source": {
                        "type": "json",
                        "options": {
                            "path": str(indir),
                            "format": "json",
                            "streaming": "true",
                            "maxFilesPerTrigger": "1",
                        },
                    },
                    "schema": {
                        "domain": "demo", "dataset": "scored", "version": "v1",
                    },
                    "target": {
                        "format": "budget_admit",
                        "options": {
                            "path": out,
                            "ledger_path": ledger,
                            "score_col": "score",
                            "cost_col": "n_tokens",
                            "budget": 90,
                            "key_col": "doc_id",
                            "checkpoint_location": str(tmp_path / "ba_cp"),
                            "trigger_interval": "availableNow",
                        },
                    },
                }
            ],
        },
        registry,
    )
    results = Pipeline(spark, cfg, registry=registry).run()
    results[0].query.awaitTermination(180)

    got = {r["doc_id"]: r["cum_cost"] for r in spark.read.parquet(out).collect()}
    # batch 1 spends 60; batch 2's best doc takes the last 30
    assert got == {1: 30, 2: 60, 3: 90}
    assert spent(spark, ledger) == 90


# ---------------------------------------------------------- stratified


def _sbatch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, dom string, score long, n_tokens long"
    )


def _sadmit(spark, tmp, rows, epoch, budgets, default_budget=0):
    admit_epoch(
        _sbatch(spark, rows), epoch, out_path=str(tmp / "out"),
        ledger_path=str(tmp / "ledger"), strata_col="dom", score_col="score",
        cost_col="n_tokens", budget=budgets, key_col="doc_id",
        default_budget=default_budget,
    )


@pytest.mark.slow
def test_strata_hit_quotas_at_different_epochs(spark, tmp_path):
    """Two sources with separate quotas: wiki exhausts in epoch 0, web
    keeps admitting until epoch 1; epoch 2 is a no-op for both."""
    from lakehouse_ingestion_spark.streaming.budget import spent_by_stratum

    budgets = {"wiki": 60, "web": 90}
    _sadmit(spark, tmp_path, [
        (1, "wiki", 9, 30), (2, "wiki", 8, 30), (3, "wiki", 7, 30),
        (4, "web", 9, 30),
    ], 0, budgets)
    # epoch 0: wiki admits 1+2 (60 = quota), web admits 4 (30 of 90)
    got0 = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got0 == {1, 2, 4}
    _sadmit(spark, tmp_path, [
        (5, "wiki", 9, 10),                      # wiki full -> rejected
        (6, "web", 9, 30), (7, "web", 8, 30),    # web: 60 remain, admits 6
        (8, "web", 7, 31),                       # then 7; 8 would overflow
    ], 1, budgets)
    got1 = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got1 == {1, 2, 4, 6, 7}
    assert spent_by_stratum(spark, str(tmp_path / "ledger")) == {
        "wiki": 60, "web": 90,
    }
    # both quotas full: epoch 2 ledgers a marker, admits nothing
    _sadmit(spark, tmp_path, [(9, "wiki", 9, 1), (10, "web", 9, 1)], 2, budgets)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 5
    led = spark.read.parquet(str(tmp_path / "ledger"))
    marker = led.filter(F.col("epoch") == 2).collect()
    assert len(marker) == 1 and marker[0]["rows"] == 0


def test_stratified_cum_col_is_global_per_stratum(spark, tmp_path):
    _sadmit(spark, tmp_path, [(1, "web", 9, 30)], 0, {"web": 100})
    _sadmit(spark, tmp_path, [(2, "web", 9, 40)], 1, {"web": 100})
    got = {
        r["doc_id"]: r["cum_cost"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {1: 30, 2: 70}


@pytest.mark.slow
def test_stratified_redelivery_and_crash_replay_converge(spark, tmp_path):
    """Ledgered epoch redelivered -> skipped; epoch whose data landed but
    ledger did not -> recomputed identically and overwritten."""
    budgets = {"wiki": 60, "web": 60}
    rows0 = [(1, "wiki", 9, 40), (2, "web", 9, 40)]
    _sadmit(spark, tmp_path, rows0, 0, budgets)
    before = sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect())
    _sadmit(spark, tmp_path, rows0, 0, budgets)  # redelivery: skipped
    after = sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "out")).collect())
    assert before == after
    led = spark.read.parquet(str(tmp_path / "ledger"))
    assert led.filter(F.col("epoch") == 0).count() == 2  # one row per stratum

    # crash window: epoch 1 data written, ledger row missing -> replay
    # recomputes the identical admission from the ledger-excluded state
    rows1 = [(3, "wiki", 9, 20), (4, "web", 9, 20)]
    _sadmit(spark, tmp_path, rows1, 1, budgets)
    epoch1 = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .filter(F.col("_epoch") == 1)
        .collect()
    )
    # drop epoch 1's ledger rows to simulate the crash, then replay
    led_rows = spark.read.parquet(str(tmp_path / "ledger")).filter(
        F.col("epoch") != 1
    )
    led_tmp = str(tmp_path / "ledger2")
    led_rows.write.parquet(led_tmp)
    import shutil

    shutil.rmtree(str(tmp_path / "ledger"))
    shutil.move(led_tmp, str(tmp_path / "ledger"))
    _sadmit(spark, tmp_path, rows1, 1, budgets)
    replay = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .filter(F.col("_epoch") == 1)
        .collect()
    )
    assert replay == epoch1
    assert (
        spark.read.parquet(str(tmp_path / "ledger"))
        .filter(F.col("epoch") == 1)
        .count()
        == 2
    )


def test_stratified_null_stratum_and_default_budget(spark, tmp_path):
    rows = [(1, None, 9, 20), (2, "other", 9, 20)]
    _sadmit(spark, tmp_path, rows, 0, {"wiki": 100}, default_budget=25)
    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {1, 2}  # both fit their 25-token default quotas
    _sadmit(spark, tmp_path, [(3, None, 9, 10), (4, "other", 9, 4)], 1,
            {"wiki": 100}, default_budget=25)
    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {1, 2, 4}  # null stratum full (20+10>25); other 20+4<=25


def test_stratified_sink_batch_mode(spark, tmp_path):
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    out = str(tmp_path / "s_out")
    ledger = str(tmp_path / "s_ledger")
    w = get_writer("budget_admit")
    opts = WriteOptions(
        path=out,
        options={"ledger_path": ledger, "strata_col": "dom",
                 "score_col": "score", "cost_col": "n_tokens",
                 "budgets": {"wiki": 30, "web": 30}, "key_col": "doc_id"},
    )
    w.write_batch(
        _sbatch(spark, [(1, "wiki", 9, 30), (2, "wiki", 8, 30),
                        (3, "web", 9, 30)]),
        opts,
    )
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 3}

    from lakehouse_ingestion_spark.errors import ConfigError

    with pytest.raises(ConfigError, match="strata_col"):
        w.write_batch(
            _sbatch(spark, [(1, "w", 1, 1)]),
            WriteOptions(path=out, options={
                "ledger_path": ledger, "score_col": "score",
                "cost_col": "n_tokens", "budgets": {"w": 5}}),
        )


@pytest.mark.parametrize(
    "quota,match",
    [
        ({"budget": -1}, "budget must be >= 0"),
        ({"strata_col": "dom", "budget": -1}, "budget must be >= 0"),
        ({"strata_col": "dom", "budgets": {"wiki": 30, "web": -1}},
         "stratum budgets must be >= 0"),
        ({"strata_col": "dom", "budgets": {"wiki": 30}, "default_budget": -1},
         "default_budget must be >= 0"),
    ],
)
def test_budget_sink_rejects_negative_quota(spark, tmp_path, quota, match):
    """A negative quota through the sink raises instead of silently
    admitting nothing, and writes neither output nor ledger."""
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    out = tmp_path / "neg_out"
    ledger = tmp_path / "neg_ledger"
    opts = WriteOptions(
        path=str(out),
        options={"ledger_path": str(ledger), "score_col": "score",
                 "cost_col": "n_tokens", "key_col": "doc_id", **quota},
    )
    with pytest.raises(ConfigError, match=match):
        get_writer("budget_admit").write_batch(
            _sbatch(spark, [(1, "wiki", 9, 30), (2, "web", 8, 30)]), opts
        )
    assert not out.exists() and not ledger.exists()


# --------------------------------------------------------------------------
# Mass-share (top-p) admission — streaming/budget.admit_epoch_share
# --------------------------------------------------------------------------


def _shbatch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, quality double")


def _share(spark, tmp_path, rows, epoch, p=0.5):
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    out, ledger = str(tmp_path / "sh_out"), str(tmp_path / "sh_ledger")
    admit_epoch_share(
        _shbatch(spark, rows), epoch, out_path=out, ledger_path=ledger,
        score_col="quality", p=p, key_col="doc_id",
    )
    return out, ledger


@pytest.mark.slow
def test_share_admission_covers_p_of_seen_mass(spark, tmp_path):
    """After every epoch: admitted mass >= p * seen mass; within each
    epoch the batch's best rows fill first (crossing row included)."""
    out, ledger = _share(spark, tmp_path, [(1, 10.0), (2, 6.0), (3, 4.0)], 0)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}
    # seen 20, admitted 10 -> exactly p
    _share(spark, tmp_path, [(4, 2.0), (5, 8.0)], 1)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 5}
    # epoch with all-below-the-bar mass: nothing admitted, seen ACCRUES
    _share(spark, tmp_path, [(6, 1.0)], 2)
    got = spark.read.parquet(out)
    assert {r["doc_id"] for r in got.collect()} == {1, 5}
    led = {r["epoch"]: r for r in spark.read.parquet(ledger).collect()}
    assert led[2]["rows"] == 0 and led[2]["seen_after"] == 31.0
    assert led[2]["admitted_after"] == 18.0
    # the accrued mass raises a later epoch's allowance
    _share(spark, tmp_path, [(7, 100.0)], 3)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 5, 7}
    led = {r["epoch"]: r for r in spark.read.parquet(ledger).collect()}
    for e in led.values():  # coverage invariant at every committed epoch
        assert e["admitted_after"] >= 0.5 * e["seen_after"] - 1e-6


def test_share_redelivery_and_crash_replay_converge(spark, tmp_path):
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    out, ledger = _share(spark, tmp_path, [(1, 10.0), (2, 6.0)], 0)
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # ledgered epoch redelivered: skipped outright
    _share(spark, tmp_path, [(1, 10.0), (2, 6.0)], 0)
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == before
    assert spark.read.parquet(ledger).filter(F.col("epoch") == 0).count() == 1

    # crash window: epoch 1's data landed, ledger row missing -> replay
    # recomputes the identical admission and overwrites its own partition
    pend = (
        _shbatch(spark, [(3, 100.0)])
        .withColumn("cum_score", F.col("quality"))
        .withColumn("_epoch", F.lit(1).cast("long"))
    )
    (pend.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch").parquet(out))
    admit_epoch_share(
        _shbatch(spark, [(3, 100.0), (4, 1.0)]), 1, out_path=out,
        ledger_path=ledger, score_col="quality", p=0.5, key_col="doc_id",
    )
    led = {r["epoch"]: r for r in spark.read.parquet(ledger).collect()}
    assert led[1]["rows"] == 1 and led[1]["admitted_mass"] == 100.0
    assert spark.read.parquet(out).filter("doc_id = 3").count() == 1


def test_share_admission_validates(spark, tmp_path):
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    with pytest.raises(ConfigError, match="p must be"):
        admit_epoch_share(
            _shbatch(spark, []), 0, out_path="o", ledger_path="l",
            score_col="quality", p=0.0, key_col="doc_id",
        )
    with pytest.raises(ConfigError, match="p must be"):
        _share(spark, tmp_path, [(1, 1.0)], 0, p=1.5)
    with pytest.raises(ConfigError, match="non-negative"):
        _share(spark, tmp_path, [(1, -1.0)], 0)


def test_share_sink_batch_mode(spark, tmp_path):
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    out = str(tmp_path / "p_out")
    ledger = str(tmp_path / "p_ledger")
    w = get_writer("budget_admit")
    opts = WriteOptions(
        path=out,
        options={"ledger_path": ledger, "score_col": "quality",
                 "p": 0.5, "key_col": "doc_id"},
    )
    w.write_batch(_shbatch(spark, [(1, 10.0), (2, 6.0), (3, 4.0)]), opts)
    got = spark.read.parquet(out).collect()
    assert {r["doc_id"] for r in got} == {1}
    assert got[0]["cum_score"] == 10.0
    # p conflicts with quota/strata options — loud, not silently ignored
    with pytest.raises(ConfigError, match="conflicts"):
        w.write_batch(
            _shbatch(spark, [(1, 1.0)]),
            WriteOptions(path=out, options={
                "ledger_path": ledger, "score_col": "quality",
                "p": 0.5, "budget": 10}),
        )


@pytest.mark.slow
def test_share_admission_matches_sequential_reference(spark, tmp_path):
    """Pin the accrual semantics against an independent sequential
    reference: for every epoch, allowed = p*seen_new - admitted_old and
    the batch's (score DESC, key ASC) prefix with mass-before < allowed
    is admitted.  Three uneven epochs, mixed magnitudes."""
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    p = 0.7
    epochs = [
        [(1, 3.25), (2, 1.5), (3, 0.25)],
        [(4, 10.0)],
        [(5, 0.5), (6, 2.75), (7, 0.5), (8, 4.0)],
    ]

    # sequential reference (pure python, same rounding rule)
    seen = admitted = 0.0
    expect: set[int] = set()
    for batch in epochs:
        bm = round(sum(s for _, s in batch), 6)
        allowed = round(p * (seen + bm) - admitted, 6)
        prev = 0.0
        if allowed > 0:
            for doc, s in sorted(batch, key=lambda t: (-t[1], t[0])):
                if round(prev, 6) < allowed:
                    expect.add(doc)
                    admitted = round(admitted + s, 6)
                prev += s
        seen = round(seen + bm, 6)

    out, ledger = str(tmp_path / "ref_out"), str(tmp_path / "ref_ledger")
    for e, batch in enumerate(epochs):
        admit_epoch_share(
            _shbatch(spark, [(d, float(s)) for d, s in batch]),
            e, out_path=out, ledger_path=ledger, score_col="quality", p=p,
            key_col="doc_id",
        )
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == expect
    led = spark.read.parquet(ledger)
    final = led.orderBy(F.col("epoch").desc()).collect()[0]
    assert abs(final["admitted_after"] - admitted) < 1e-6
    assert final["admitted_after"] >= p * final["seen_after"] - 1e-6


# --------------------------------------------------------------------------
# Per-stratum mass-share admission — admit_epoch_share with strata_col
# --------------------------------------------------------------------------


def _ssbatch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, quality double")


def _sshare(spark, tmp_path, rows, epoch, p=0.5, default_p=0.0):
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    out, ledger = str(tmp_path / "ss_out"), str(tmp_path / "ss_ledger")
    admit_epoch_share(
        _ssbatch(spark, rows), epoch, out_path=out, ledger_path=ledger,
        strata_col="lang", score_col="quality", p=p, key_col="doc_id",
        default_p=default_p,
    )
    return out, ledger


@pytest.mark.slow
def test_stratified_share_independent_per_stratum(spark, tmp_path):
    """Each stratum covers p of ITS OWN mass; one stratum's surplus
    never subsidizes another."""
    out, ledger = _sshare(
        spark, tmp_path,
        [(1, "en", 10.0), (2, "en", 6.0), (3, "en", 4.0),
         (4, "de", 8.0), (5, "de", 2.0)],
        0,
    )
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # en: total 20, allowed 10 -> doc1; de: total 10, allowed 5 -> doc4
    assert got == {1, 4}
    led = {(r["epoch"], r["stratum"]): r
           for r in spark.read.parquet(ledger).collect()}
    assert led[(0, "en")]["admitted_after"] == 10.0
    assert led[(0, "de")]["admitted_after"] == 8.0
    # second epoch: en accrues, de already over-covered admits nothing
    _sshare(spark, tmp_path, [(6, "en", 20.0), (7, "de", 1.0)], 1)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 4, 6}
    led = {(r["epoch"], r["stratum"]): r
           for r in spark.read.parquet(ledger).collect()}
    for (e, s), r in led.items():  # per-stratum coverage invariant
        assert r["admitted_after"] >= 0.5 * r["seen_after"] - 1e-6


def test_stratified_share_p_mapping_and_default(spark, tmp_path):
    """Per-stratum p mapping; strata missing from the mapping get
    default_p (0.0 = nothing admitted, mass still accrues)."""
    out, ledger = _sshare(
        spark, tmp_path,
        [(1, "en", 10.0), (2, "en", 10.0), (3, "xx", 50.0)],
        0, p={"en": 0.9},
    )
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2}  # en needs 18 of 20 -> both (crossing row)
    led = {r["stratum"]: r for r in spark.read.parquet(ledger).collect()}
    assert led["xx"]["rows"] == 0 and led["xx"]["batch_mass"] == 50.0


def test_stratified_share_redelivery_and_null_stratum(spark, tmp_path):
    out, ledger = _sshare(
        spark, tmp_path, [(1, None, 4.0), (2, "en", 4.0)], 0
    )
    got = spark.read.parquet(out)
    assert {r["doc_id"] for r in got.collect()} == {1, 2}
    before = sorted(tuple(r) for r in got.collect())
    _sshare(spark, tmp_path, [(1, None, 4.0), (2, "en", 4.0)], 0)  # replay
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == before
    led = spark.read.parquet(ledger)
    assert led.filter(F.col("epoch") == 0).count() == 2  # en + NULL strata
    assert led.filter(F.col("stratum").isNull()).count() == 1


def test_stratified_share_sink_surface(spark, tmp_path):
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    out = str(tmp_path / "sp_out")
    ledger = str(tmp_path / "sp_ledger")
    w = get_writer("budget_admit")
    opts = WriteOptions(
        path=out,
        options={"ledger_path": ledger, "strata_col": "lang",
                 "score_col": "quality", "p": {"en": 0.5},
                 "key_col": "doc_id"},
    )
    w.write_batch(_ssbatch(spark, [(1, "en", 9.0), (2, "en", 1.0),
                                   (3, "de", 9.0)]), opts)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}
    # p mapping without strata_col is loud
    with pytest.raises(ConfigError, match="strata_col"):
        w.write_batch(
            _ssbatch(spark, [(1, "en", 1.0)]),
            WriteOptions(path=out, options={
                "ledger_path": ledger, "score_col": "quality",
                "p": {"en": 0.5}}),
        )


@pytest.mark.slow
def test_mapping_options_survive_config_flattening(spark, tmp_path):
    """config.py flattens target options to dotted keys (the Kafka
    bootstrap.servers idiom) — per-stratum mappings (budgets / p) must
    be reconstituted by the sink, or the documented YAML surface
    silently falls through to the wrong admission mode."""
    import os

    import yaml

    from lakehouse_ingestion_spark.config import load_config
    from lakehouse_ingestion_spark.pipeline import Pipeline

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "en", 9.0), (2, "en", 1.0), (3, "de", 9.0)],
        "doc_id long, lang string, quality double",
    ).write.parquet(src)

    def run_job(options, out_name):
        out = str(tmp_path / out_name)
        cfg = {"env": "test", "jobs": [{
            "name": out_name, "layer": "silver", "source_system": "t",
            "source": {"type": "file",
                       "options": {"path": src, "format": "parquet"}},
            "target": {"format": "budget_admit",
                       "options": dict(options, path=out)},
        }]}
        cp = str(tmp_path / f"{out_name}.yaml")
        with open(cp, "w") as f:
            yaml.safe_dump(cfg, f)
        Pipeline(spark, load_config(cp)).run()
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    # per-stratum p mapping through a real YAML file
    got = run_job({"ledger_path": str(tmp_path / "l1"),
                   "strata_col": "lang", "score_col": "quality",
                   "p": {"en": 0.5}, "key_col": "doc_id"}, "p_map")
    assert got == {1}  # en covers 0.5 of 10 -> doc 1; de has no p -> dropped

    # per-stratum budgets mapping through a real YAML file (the quota
    # path had the same latent flattening bug)
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(
        [(1, "wiki", 9, 30), (2, "wiki", 8, 30), (3, "web", 9, 30)],
        "doc_id long, dom string, score long, n_tokens long",
    ).write.parquet(src2)
    out = str(tmp_path / "b_map")
    cfg = {"env": "test", "jobs": [{
        "name": "b_map", "layer": "silver", "source_system": "t",
        "source": {"type": "file",
                   "options": {"path": src2, "format": "parquet"}},
        "target": {"format": "budget_admit", "options": {
            "path": out, "ledger_path": str(tmp_path / "l2"),
            "strata_col": "dom", "score_col": "score",
            "cost_col": "n_tokens", "budgets": {"wiki": 30, "web": 30},
            "key_col": "doc_id"}},
    }]}
    cp = str(tmp_path / "b_map.yaml")
    with open(cp, "w") as f:
        yaml.safe_dump(cfg, f)
    Pipeline(spark, load_config(cp)).run()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 3}


def test_share_admit_example_config_parses(tmp_path):
    """The shipped share-admission example config parses and routes to
    the stratified share mode with the mapping intact."""
    from lakehouse_ingestion_spark.config import load_config
    from lakehouse_ingestion_spark.sinks.base import SINKS, WriteOptions

    cfg = load_config("configs/share-admit-stream.yaml")
    tgt = cfg.jobs[0].target
    assert tgt.format == "budget_admit"
    _, params = SINKS.bind(
        tgt.format, WriteOptions.from_target(tgt.options).options
    )
    assert params["p"] == {"en": 0.9, "de": 0.9}
    assert params["default_p"] == 0.5
    assert params["strata_col"] == "lang"


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


# --------------------------------------------------------------------------
# All four modes: quota or share, global or per stratum
# --------------------------------------------------------------------------


def _admit_mode(mode, df, epoch, root):
    """One epoch of ``mode`` over ``df`` (doc_id, dom, score, n_tokens)."""
    from lakehouse_ingestion_spark.streaming.budget import admit_epoch_share

    paths = dict(out_path=f"{root}/out", ledger_path=f"{root}/ledger",
                 score_col="score", key_col="doc_id")
    if mode == "quota":
        admit_epoch(df, epoch, **paths, cost_col="n_tokens", budget=200)
    elif mode == "stratified":
        admit_epoch(df, epoch, **paths, cost_col="n_tokens",
                    budget={"wiki": 100, "web": 100}, strata_col="dom")
    elif mode == "share":
        admit_epoch_share(df, epoch, **paths, p=0.5)
    else:
        admit_epoch_share(df, epoch, **paths, p={"wiki": 0.5, "web": 0.7},
                          strata_col="dom")


MODES = ("quota", "stratified", "share", "stratified_share")


@pytest.mark.parametrize("mode", MODES)
def test_admit_epoch_leaves_no_cached_dataframes(spark, tmp_path, mode):
    """One cached or pinned DataFrame per epoch must NOT accumulate
    across admission calls."""

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persistent()
    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "wiki").otherwise("web").alias("dom"),
        F.col("id").cast("double").alias("score"),
        F.lit(3).alias("n_tokens"),
    )
    for epoch in range(3):
        _admit_mode(mode, df, epoch, str(tmp_path))
    assert n_persistent() == base


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under its own Spark job group; the number of jobs it
    started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "mode,first,redelivered",
    [("quota", 9, 2), ("stratified", 9, 2), ("share", 7, 2),
     ("stratified_share", 7, 2)],
)
def test_jobs_per_trigger(spark, tmp_path, mode, first, redelivered):
    """Spark jobs of one trigger after a warm epoch, on first delivery
    and on a ledgered redelivery. The counted epoch admits rows in every
    mode; the per-stratum ledger stats ride the epoch write, so no mode
    reads its partition back."""
    batches = [
        [(1, "wiki", 9.0, 30), (2, "web", 8.0, 30), (3, "wiki", 2.0, 30)],
        [(4, "web", 9.0, 30), (5, "wiki", 7.0, 30), (6, "web", 1.0, 30)],
    ]
    df = [
        spark.createDataFrame(
            b, "doc_id long, dom string, score double, n_tokens long"
        )
        for b in batches
    ]
    root = str(tmp_path)
    _admit_mode(mode, df[0], 0, root)
    group = f"budget-{mode}-{tmp_path.name}"
    assert _jobs_in_group(
        spark, f"{group}-1", lambda: _admit_mode(mode, df[1], 1, root)
    ) == first
    assert _jobs_in_group(
        spark, f"{group}-2", lambda: _admit_mode(mode, df[1], 1, root)
    ) == redelivered


@pytest.mark.parametrize("key", [1, "1"], ids=["int_keys", "str_keys"])
def test_int_strata_column_matches_either_mapping_key(spark, tmp_path, key):
    """Strata are keyed by their string form everywhere: an int strata
    column matches an int-keyed mapping and the string keys of a YAML
    mapping alike, and its quota holds across epochs."""
    from lakehouse_ingestion_spark.streaming.budget import (
        admit_epoch_share,
        spent_by_stratum,
    )

    out, ledger = str(tmp_path / "q_out"), str(tmp_path / "q_ledger")
    for e in range(3):
        admit_epoch(
            spark.createDataFrame(
                [(2 * e + 1, 1, 9, 30), (2 * e + 2, 1, 8, 30)],
                "doc_id long, dom int, score long, n_tokens long",
            ),
            e, out_path=out, ledger_path=ledger, score_col="score",
            cost_col="n_tokens", budget={key: 60}, key_col="doc_id",
            strata_col="dom",
        )
        assert spent_by_stratum(spark, ledger) == {"1": 60}
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2}

    out, ledger = str(tmp_path / "s_out"), str(tmp_path / "s_ledger")
    admit_epoch_share(
        spark.createDataFrame(
            [(1, 1, 10.0), (2, 1, 6.0), (3, 2, 4.0)],
            "doc_id long, dom int, quality double",
        ),
        0, out_path=out, ledger_path=ledger, score_col="quality",
        p={key: 0.5}, key_col="doc_id", strata_col="dom",
    )
    # stratum 1: mass 16, allowed 8 -> doc 1; stratum 2 has p 0
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}
    assert {r["stratum"] for r in spark.read.parquet(ledger).collect()} == {
        "1", "2",
    }


def test_ledgers_without_stratum_column_carry_on(spark, tmp_path):
    """Ledgers written in the global layouts that had no ``stratum``
    column keep their totals: epoch 2 admits only what remains."""
    from lakehouse_ingestion_spark.streaming import epochlog
    from lakehouse_ingestion_spark.streaming.budget import (
        SHARE_LEDGER_SCHEMA,
        admit_epoch_share,
    )

    out, ledger = str(tmp_path / "q_out"), str(tmp_path / "q_ledger")
    epochlog.append_ledger(
        spark, ledger, "epoch long, rows long, batch_cost long, spent_after long",
        [(0, 2, 60, 60), (1, 1, 30, 90)],
    )
    assert spent(spark, ledger) == 90
    _admit(spark, (out, ledger), [(7, 9, 30)], 1)  # ledgered: skipped
    _admit(spark, (out, ledger), [(7, 9, 8), (8, 8, 5)], 2)
    got = {r["doc_id"]: r["cum_cost"] for r in spark.read.parquet(out).collect()}
    assert got == {7: 98}  # 10 remained: doc 8 would overflow to 103
    assert spent(spark, ledger) == 98

    out, ledger = str(tmp_path / "s_out"), str(tmp_path / "s_ledger")
    epochlog.append_ledger(
        spark, ledger,
        "epoch long, rows long, batch_mass double, admitted_mass double, "
        "seen_after double, admitted_after double",
        [(0, 1, 20.0, 10.0, 20.0, 10.0), (1, 1, 4.0, 2.0, 24.0, 12.0)],
    )
    admit_epoch_share(
        _shbatch(spark, [(5, 10.0), (6, 6.0)]), 2, out_path=out,
        ledger_path=ledger, score_col="quality", p=0.5, key_col="doc_id",
    )
    # seen 24 + 16 = 40, allowed 0.5 * 40 - 12 = 8: doc 5 only
    got = {r["doc_id"]: r["cum_score"] for r in spark.read.parquet(out).collect()}
    assert got == {5: 22.0}
    led = epochlog.read_ledger(spark, ledger, SHARE_LEDGER_SCHEMA)
    row = led.filter(F.col("epoch") == 2).collect()
    assert len(row) == 1 and row[0]["stratum"] is None
    assert (row[0]["seen_after"], row[0]["admitted_after"]) == (40.0, 22.0)
