"""Replay-equivalence scrutiny for the gated Delta merge paths.

delta-spark cannot be installed in this container, so the Delta twins
(`sinks.delta.merge_upsert`, incremental `scd2_merge`) are exercised
against independent formulations of the same semantics:

1. ``FakeDeltaTable`` implements Delta's MERGE contract from scratch in
   pandas (matched-update-all, not-matched-insert-all, matched-delete,
   and the multiple-source-rows-per-target error). It is monkeypatched
   into ``sinks.delta`` so the REAL ``merge_upsert`` code path runs —
   condition building, delete routing, path dispatch — and its result is
   compared against the oracle-green DataFrame-algebra ``upsert``.

2. Incremental ``scd2_merge`` applied batch-by-batch over a randomized
   change stream must land on the same dimension as one-shot
   ``scd2_from_history`` over the concatenated stream (reference SCD2
   contract: docs/00-architecture-overview.md:230).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from lakehouse_ingestion_spark.operators.merge import upsert
from lakehouse_ingestion_spark.operators.scd import scd2_from_history, scd2_merge


# ---------------------------------------------------------------------------
# Fake DeltaTable: independent MERGE semantics
# ---------------------------------------------------------------------------

class FakeDeltaTable:
    """Pandas reimplementation of the DeltaTable.merge API surface used by
    ``sinks.delta.merge_upsert``. Semantics written from the public Delta
    MERGE contract, NOT by delegating to operators/merge.py (that would be
    circular)."""

    _store: dict[str, pd.DataFrame] = {}

    def __init__(self, pdf: pd.DataFrame, path: str):
        self._pdf = pdf
        self._path = path
        self._source = None
        self._keys = None
        self._delete_cond = None
        self._insert_cond = None

    # -- API surface -------------------------------------------------------
    @classmethod
    def forPath(cls, spark, path):
        return cls(cls._store[path].copy(), path)

    def alias(self, _):
        return self

    def merge(self, source_df, cond: str):
        # source arrives aliased; unwrap to pandas
        self._source = source_df.toPandas()
        self._keys = re.findall(r"t\.(\w+) = s\.\1", cond)
        assert self._keys, f"unparseable merge condition: {cond}"
        return self

    def whenMatchedDelete(self, condition: str):
        self._delete_cond = condition
        return self

    def whenMatchedUpdateAll(self):
        return self

    def whenNotMatchedInsertAll(self, condition: str | None = None):
        # Delta contract: unmatched source rows insert UNLESS an explicit
        # insert condition excludes them (whenMatchedDelete never applies
        # to unmatched rows)
        self._insert_cond = condition
        return self

    def execute(self):
        tgt, src, keys = self._pdf, self._source, self._keys
        # Delta errors when >1 source row matches one target row
        if src.duplicated(subset=keys).any():
            dup_keys = src[src.duplicated(subset=keys, keep=False)][keys]
            matched_dups = tgt.merge(dup_keys.drop_duplicates(), on=keys)
            if len(matched_dups):
                raise ValueError(
                    "multiple source rows matched the same target row"
                )

        def _eval_cond(row, cond: str | None, default: bool) -> bool:
            if cond is None:
                return default
            expr = re.sub(r"\bs\.(\w+)", r"\1", cond)
            expr = re.sub(r"(?<![<>!=])=(?!=)", "==", expr)
            expr = re.sub(r"\bNOT\b", "not", expr)
            return bool(row.to_frame().T.eval(expr).iloc[0])

        def _is_delete(row) -> bool:
            return _eval_cond(row, self._delete_cond, False)

        def _should_insert(row) -> bool:
            return _eval_cond(row, self._insert_cond, True)

        src_keyed = src.set_index(keys)
        out_rows = []
        for _, trow in tgt.iterrows():
            k = tuple(trow[c] for c in keys)
            k = k[0] if len(keys) == 1 else k
            if k in src_keyed.index:
                srow = src[
                    np.logical_and.reduce(
                        [src[c].to_numpy() == trow[c] for c in keys]
                    )
                ].iloc[0]
                if _is_delete(srow):
                    continue  # whenMatchedDelete
                out_rows.append(srow[tgt.columns])  # whenMatchedUpdateAll
            else:
                out_rows.append(trow)
        matched = tgt[keys].merge(src[keys].drop_duplicates(), on=keys)
        unmatched_src = src.merge(
            matched.drop_duplicates(), on=keys, how="left", indicator=True
        )
        unmatched_src = unmatched_src[unmatched_src["_merge"] == "left_only"]
        for _, srow in unmatched_src.iterrows():
            if _should_insert(srow):
                out_rows.append(srow[tgt.columns])  # whenNotMatchedInsertAll
        result = (
            pd.DataFrame(out_rows, columns=tgt.columns).reset_index(drop=True)
            if out_rows
            else tgt.iloc[0:0]
        )
        FakeDeltaTable._store[self._path] = result


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(r) for _, r in pdf[cols].iterrows()]
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


@pytest.fixture()
def fake_delta(monkeypatch):
    import lakehouse_ingestion_spark.sinks.delta as delta_mod

    monkeypatch.setattr(delta_mod, "DeltaTable", FakeDeltaTable)
    monkeypatch.setattr(delta_mod, "DELTA_AVAILABLE", True)
    FakeDeltaTable._store = {}
    yield FakeDeltaTable._store


def test_merge_upsert_equals_algebra_upsert(spark, fake_delta):
    from lakehouse_ingestion_spark.sinks.delta import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, amount double",
    )
    source = spark.createDataFrame(
        [(2, "B", 22.0), (4, "d", 40.0)],
        "id long, name string, amount double",
    )
    fake_delta["/fake/t1"] = target.toPandas()
    merge_upsert(spark, "/fake/t1", source, ["id"])

    expected = upsert(target, source, ["id"]).toPandas()
    assert _canon(fake_delta["/fake/t1"]) == _canon(expected)


def test_merge_upsert_delete_condition_equivalence(spark, fake_delta):
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.sinks.delta import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, amount double",
    )
    # op column drives CDC-style deletes; target has no op column, so the
    # algebra twin projects it away via select(*target.columns)
    source = spark.createDataFrame(
        [(2, "B", 22.0, "u"), (3, "c", 30.0, "d"), (5, "e", 50.0, "u")],
        "id long, name string, amount double, op string",
    )
    fake_delta["/fake/t2"] = target.toPandas()
    merge_upsert(
        spark, "/fake/t2", source, ["id"], delete_condition="s.op = 'd'"
    )

    algebra = upsert(
        target,
        source,
        ["id"],
        delete_condition=F.col("op") == "d",
    ).toPandas()
    assert _canon(fake_delta["/fake/t2"]) == _canon(algebra)


def test_merge_upsert_unmatched_delete_not_resurrected(spark, fake_delta):
    """Out-of-order CDC delete: source carries a delete for a key absent
    from the target. Neither formulation may insert it (round-2 review
    caught merge_upsert's unconditioned insert clause doing exactly
    that)."""
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.sinks.delta import merge_upsert

    target = spark.createDataFrame([(1, "a", 10.0)], "id long, name string, amount double")
    source = spark.createDataFrame(
        [(9, "ghost", 0.0, "d"), (2, "b", 20.0, "u")],
        "id long, name string, amount double, op string",
    )
    fake_delta["/fake/t4"] = target.toPandas()
    merge_upsert(
        spark, "/fake/t4", source, ["id"], delete_condition="s.op = 'd'"
    )
    algebra = upsert(
        target, source, ["id"], delete_condition=F.col("op") == "d"
    ).toPandas()
    assert _canon(fake_delta["/fake/t4"]) == _canon(algebra)
    assert 9 not in set(fake_delta["/fake/t4"]["id"])


def test_merge_upsert_rejects_duplicate_source_keys(spark, fake_delta):
    from lakehouse_ingestion_spark.sinks.delta import merge_upsert

    target = spark.createDataFrame([(1, "a")], "id long, name string")
    dup_source = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id long, name string"
    )
    fake_delta["/fake/t3"] = target.toPandas()
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_upsert(spark, "/fake/t3", dup_source, ["id"])


# ---------------------------------------------------------------------------
# scd2_merge replay equivalence vs scd2_from_history rebuild
# ---------------------------------------------------------------------------

def _scd2_canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = ["key", "attr", "ts", "valid_from", "valid_to", "is_current"]
    rows = [tuple(str(r[c]) for c in cols) for _, r in pdf.iterrows()]
    return sorted(rows)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_scd2_incremental_replay_equals_rebuild(spark, seed):
    """Random change stream, random batch boundaries: applying batches
    incrementally with scd2_merge must produce the same dimension as one
    scd2_from_history rebuild over the full stream. Covers multi-version
    batches, no-op replays (attr equal to current), new keys, reverts."""
    rng = np.random.default_rng(seed)
    n_events, n_keys = 40, 6
    events = []
    for ts in range(n_events):
        key = int(rng.integers(0, n_keys))
        # small attr alphabet -> frequent no-op repeats and reverts
        attr = ["red", "green", "blue"][int(rng.integers(0, 3))]
        events.append((key, attr, ts))

    full = spark.createDataFrame(events, "key long, attr string, ts long")
    rebuilt = scd2_from_history(
        full, ["key"], "ts", attr_columns=["attr"]
    ).toPandas()

    # split the SAME stream at random boundaries into 1..5 batches
    n_batches = int(rng.integers(2, 6))
    bounds = sorted(rng.choice(range(1, n_events), n_batches - 1, replace=False))
    spans = list(zip([0, *bounds], [*bounds, n_events]))

    first = spark.createDataFrame(
        events[spans[0][0] : spans[0][1]], "key long, attr string, ts long"
    )
    dim = scd2_from_history(first, ["key"], "ts", attr_columns=["attr"])
    for lo, hi in spans[1:]:
        batch = spark.createDataFrame(
            events[lo:hi], "key long, attr string, ts long"
        )
        dim = scd2_merge(dim, batch, ["key"], "ts", ["attr"])
        # materialize between batches like a real sink would (also keeps
        # the lineage from compounding across iterations)
        dim = spark.createDataFrame(dim.toPandas(), dim.schema)

    assert _scd2_canon(dim.toPandas()) == _scd2_canon(rebuilt)


def test_scd2_replay_property_200_sequences(spark):
    """Property sweep: 200 independent random CDC sequences, each with its
    own random batch boundaries (empty batches included), replayed
    incrementally through scd2_merge must land on the same dimension as a
    one-shot scd2_from_history rebuild.

    Vectorized into one Spark run: each sequence gets a disjoint key
    space (seq_id * 1000 + key) and contributes its b-th span to a global
    b-th batch — SCD2 semantics are per-key, so merging the unioned
    batches is exactly applying every sequence's batches independently,
    at 1/200th of the Spark-job cost of a per-sequence loop."""
    rng = np.random.default_rng(7)
    n_seq, n_batch = 200, 4
    all_events: list[tuple[int, str, int]] = []
    batches: list[list[tuple[int, str, int]]] = [[] for _ in range(n_batch)]
    for s in range(n_seq):
        n_events = int(rng.integers(5, 25))
        n_keys = int(rng.integers(1, 5))
        events = []
        for ts in range(n_events):
            key = s * 1000 + int(rng.integers(0, n_keys))
            attr = ["red", "green", "blue"][int(rng.integers(0, 3))]
            events.append((key, attr, ts))
        all_events.extend(events)
        bounds = sorted(int(b) for b in rng.integers(0, n_events + 1, n_batch - 1))
        for b, (lo, hi) in enumerate(zip([0, *bounds], [*bounds, n_events])):
            batches[b].extend(events[lo:hi])

    schema = "key long, attr string, ts long"
    assert batches[0], "seed must populate the bootstrap batch"
    rebuilt = scd2_from_history(
        spark.createDataFrame(all_events, schema), ["key"], "ts",
        attr_columns=["attr"],
    ).toPandas()

    dim = scd2_from_history(
        spark.createDataFrame(batches[0], schema), ["key"], "ts",
        attr_columns=["attr"],
    )
    for b in range(1, n_batch):
        dim = scd2_merge(
            dim, spark.createDataFrame(batches[b], schema),
            ["key"], "ts", ["attr"],
        )
        dim = spark.createDataFrame(dim.toPandas(), dim.schema)

    assert _scd2_canon(dim.toPandas()) == _scd2_canon(rebuilt)


# ---------------------------------------------------------------------------
# Three-way equivalence against REAL delta-spark (round-7 verdict #9):
# auto-activates the moment the driver image gains the wheel — no code
# changes needed. The skip reason names the recorded install failure.
# ---------------------------------------------------------------------------

try:  # NOT importorskip: that would skip the whole module, Fake tests included
    import delta as _delta_spark  # noqa: F401

    _HAVE_DELTA = True
except ImportError:
    _HAVE_DELTA = False

_needs_real_delta = pytest.mark.skipif(
    not _HAVE_DELTA,
    reason=(
        "delta-spark is not installable in this sandbox (install retry "
        "recorded in BASELINE.md 'delta-spark install retry': pip index "
        "unreachable, DNS 'Name or service not known'); this three-way "
        "suite lights up automatically once the wheel appears"
    ),
)


@pytest.fixture()
def delta_session(tmp_path):
    """A real Delta-enabled session (separate from the shared fixture:
    Delta needs its catalog/extension confs set at session build)."""
    from delta import configure_spark_with_delta_pip
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("delta-threeway")
        .config("spark.sql.shuffle.partitions", "4")
        .config(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = configure_spark_with_delta_pip(builder).getOrCreate()
    yield spark


@_needs_real_delta
def test_threeway_merge_real_delta_vs_fake_vs_algebra(delta_session, tmp_path):
    """REAL DeltaTable MERGE == FakeDeltaTable replay == oracle-green
    DataFrame-algebra upsert, on the same target/source (updates,
    inserts, and a delete-marked row that must not resurrect)."""
    from lakehouse_ingestion_spark.sinks.delta import merge_upsert

    spark = delta_session
    target = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    source = [(2, "B", 21.0), (4, "d", 40.0), (3, "c", 30.0)]
    schema = "k long, name string, v double"
    delete_cond = "s.name = 'c'"

    # real Delta
    path = str(tmp_path / "real_delta")
    spark.createDataFrame(target, schema).write.format("delta").save(path)
    merge_upsert(
        spark,
        path,
        spark.createDataFrame(source, schema),
        ["k"],
        delete_condition=delete_cond,
    )
    real = {
        tuple(r)
        for r in spark.read.format("delta").load(path).collect()
    }

    # algebra twin (oracle-verified by the upsert registry query)
    algebra = {
        tuple(r)
        for r in upsert(
            spark.createDataFrame(target, schema),
            spark.createDataFrame(source, schema),
            ["k"],
            delete_condition=F.expr("name = 'c'"),
        ).collect()
    }

    # fake-table replay of the same merge_upsert code path
    import lakehouse_ingestion_spark.sinks.delta as delta_mod

    orig = delta_mod.DeltaTable
    try:
        delta_mod.DeltaTable = FakeDeltaTable
        FakeDeltaTable._store = {
            "fake": spark.createDataFrame(target, schema).toPandas()
        }
        merge_upsert(
            spark,
            "fake",
            spark.createDataFrame(source, schema),
            ["k"],
            delete_condition=delete_cond,
        )
        fake = {
            tuple(r)
            for r in FakeDeltaTable._store["fake"].itertuples(index=False)
        }
    finally:
        delta_mod.DeltaTable = orig

    assert real == algebra == fake == {
        (1, "a", 10.0),
        (2, "B", 21.0),
        (4, "d", 40.0),
    }
