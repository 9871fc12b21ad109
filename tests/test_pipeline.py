import json

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_ingestion_spark.config import load_config, parse_config
from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.pipeline import Pipeline
from lakehouse_ingestion_spark.schema_registry import SchemaRegistry
from test_streaming import _pick_seed

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("user", StringType(), True),
        StructField("amount", DoubleType(), True, metadata={"min_value": 0.0}),
    ]
)


@pytest.fixture()
def registry(tmp_path):
    r = SchemaRegistry(tmp_path / "schemas")
    r.register("demo", "events", "v1", EVENT_SCHEMA)
    return r


@pytest.fixture()
def source_file(tmp_path):
    p = tmp_path / "in.jsonl"
    rows = [
        {"event_id": 1, "user": "a", "amount": 10.0},
        {"event_id": 2, "user": "b", "amount": -1.0},  # DQ violation
        {"event_id": 3, "user": "a", "amount": 5.0},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def _config(source_file, out_dir, quarantine_dir, on_fail="QUARANTINE"):
    return {
        "env": "test",
        "jobs": [
            {
                "name": "ingest-events",
                "layer": "bronze",
                "source_system": "unit-test",
                "source": {
                    "type": "json",
                    "options": {"path": source_file, "format": "json"},
                },
                "schema": {"domain": "demo", "dataset": "events", "version": "v1"},
                "data_quality": {
                    "on_fail": on_fail,
                    "derive_from_schema": True,
                    "quarantine_path": quarantine_dir,
                },
                "target": {
                    "format": "parquet",
                    "options": {"path": out_dir, "mode": "overwrite"},
                },
            }
        ],
    }


def test_parse_config_validates(registry, source_file, tmp_path):
    cfg = parse_config(_config(source_file, "o", "q"), registry)
    assert cfg.jobs[0].schema.domain == "demo"
    bad = _config(source_file, "o", "q")
    bad["jobs"][0]["schema"]["dataset"] = "missing"
    with pytest.raises(ConfigError):
        parse_config(bad, registry)


def test_load_config_yaml(registry, source_file, tmp_path):
    import yaml

    p = tmp_path / "pipe.yaml"
    p.write_text(yaml.safe_dump(_config(source_file, "o", "q")))
    cfg = load_config(p, registry)
    assert cfg.jobs[0].name == "ingest-events"


def test_batch_pipeline_end_to_end(spark, registry, source_file, tmp_path):
    out = str(tmp_path / "out")
    quarantine = str(tmp_path / "quarantine")
    cfg = parse_config(_config(source_file, out, quarantine), registry)
    results = Pipeline(spark, cfg, registry=registry).run()
    assert results[0].dq_summary is not None

    written = spark.read.parquet(out)
    assert written.count() == 2  # bad row routed away
    assert "_ingestion_time" in written.columns
    assert "_source_system" in written.columns
    assert written.filter("_source_system = 'unit-test'").count() == 2

    bad = spark.read.parquet(quarantine)
    assert bad.count() == 1
    assert bad.collect()[0].event_id == 2
    assert "range[amount]" in bad.collect()[0]._dq_failures


def test_batch_pipeline_fail_fast(spark, registry, source_file, tmp_path):
    from lakehouse_ingestion_spark.errors import DataQualityError

    cfg = parse_config(
        _config(source_file, str(tmp_path / "o"), None, on_fail="FAIL_FAST"), registry
    )
    with pytest.raises(DataQualityError):
        Pipeline(spark, cfg, registry=registry).run()


def test_transform_chain(spark, registry, source_file, tmp_path):
    out = str(tmp_path / "out2")
    raw = _config(source_file, out, None, on_fail="LOG_ONLY")
    raw["jobs"][0]["transforms"] = [
        {"op": "filter", "predicate": "amount > 0"},
        {"op": "derive_column", "name": "doubled", "expr": "amount * 2"},
        {
            "op": "aggregate",
            "group_by": ["user"],
            "aggs": [{"func": "sum", "column": "doubled", "alias": "total"}],
        },
    ]
    raw["jobs"][0].pop("schema")
    raw["jobs"][0].pop("data_quality")
    cfg = parse_config(raw, registry)
    Pipeline(spark, cfg, registry=registry).run()
    got = {r.user: r.total for r in spark.read.parquet(out).collect()}
    assert got == {"a": 30.0}


def test_conform_transform(spark, registry, tmp_path):
    """conform op (D13): casts to declared types and drops extras added
    by earlier transforms."""
    import json as _json

    src = tmp_path / "raw.jsonl"
    src.write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"event_id": 1, "user": "a", "amount": 5.5},
                {"event_id": 2, "user": "b", "amount": 7.0},
            ]
        )
    )
    cfg = parse_config(
        {
            "env": "t",
            "jobs": [
                {
                    "name": "conform-job",
                    "source_system": "t",
                    "source": {"type": "json", "options": {"path": str(src), "format": "json"}},
                    "schema": {"domain": "demo", "dataset": "events", "version": "v1"},
                    "transforms": [
                        # scratch column from an upstream step...
                        {"op": "derive_column", "name": "tmp_flag", "expr": "amount > 6"},
                        # ...conform drops it and re-asserts declared types
                        {"op": "conform", "drop_extra": True},
                    ],
                    "target": {"format": "parquet", "options": {"path": str(tmp_path / "out"), "mode": "overwrite"}},
                }
            ],
        },
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    back = spark.read.parquet(str(tmp_path / "out"))
    assert "tmp_flag" not in back.columns
    assert dict(back.dtypes)["amount"] == "double"
    assert back.count() == 2


def test_conform_requires_schema(spark, registry, source_file, tmp_path):
    from lakehouse_ingestion_spark.pipeline import apply_transform

    df = spark.range(1)
    with pytest.raises(ConfigError, match="schema"):
        apply_transform(df, "conform", {})


def _doc_config(source_file, out_dir, transforms):
    return {
        "env": "test",
        "jobs": [
            {
                "name": "curate-docs",
                "layer": "silver",
                "source_system": "unit-test",
                "source": {
                    "type": "json",
                    "options": {"path": source_file, "format": "json"},
                },
                "transforms": transforms,
                "target": {
                    "format": "parquet",
                    "options": {"path": out_dir, "mode": "overwrite"},
                },
            }
        ],
    }


@pytest.fixture()
def docs_file(tmp_path):
    p = tmp_path / "docs.jsonl"
    long_ok = " ".join(f"the word{i % 40} of text" for i in range(20))
    rows = [
        {"doc_id": 1, "text": long_ok, "domain": "a.com"},
        {"doc_id": 2, "text": "too short", "domain": "a.com"},
        {"doc_id": 3, "text": long_ok + " extra tail tokens", "domain": "a.com"},
        {"doc_id": 4, "text": long_ok + " reach me at bob@example.com ok",
         "domain": "b.com"},
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def test_curation_transforms_config_driven(spark, registry, docs_file, tmp_path):
    """The curation ops are drivable from a pipeline spec end-to-end:
    quality filter -> PII redaction -> per-domain cap -> split."""
    out = str(tmp_path / "curated")
    cfg = parse_config(
        _doc_config(
            docs_file,
            out,
            [
                {"op": "quality_filter", "min_tokens": 30, "keep_only": True},
                {"op": "redact_pii"},
                {"op": "group_cap", "group": "domain", "key": "doc_id",
                 "cap": 1, "order_by": "doc_id"},
                {"op": "hash_split",
                 "fractions": {"train": 0.9, "val": 0.1}, "key": "doc_id"},
            ],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    # doc 2 fails min_tokens; cap=1 per domain keeps the max doc_id of a.com
    assert set(got) == {3, 4}
    assert "bob@example.com" not in got[4]["text"]  # redacted
    assert all(r["split"] in ("train", "val") for r in got.values())


def test_chunk_and_sample_transforms(spark, registry, docs_file, tmp_path):
    out = str(tmp_path / "chunks")
    cfg = parse_config(
        _doc_config(
            docs_file,
            out,
            [
                {"op": "hash_sample", "key": "doc_id", "fraction": 1.0},
                {"op": "chunk", "chunk_size": 16, "stride": 16},
            ],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    rows = spark.read.parquet(out).collect()
    assert len(rows) > 4  # docs exploded into multiple chunks
    assert all(r["n_tokens"] <= 16 for r in rows)


def test_leakage_safe_split_config_driven(spark, registry, tmp_path):
    """The curation split surface drives from a spec end-to-end
    (round-8 verdict #4): bootstrap run with in-line near-dup pairs,
    then a sticky re-run against the persisted assignment table with a
    cluster-merging pairs_path — no assigned doc moves, the audit
    table lands on disk."""
    t1 = " ".join(f"alpha word{i % 17} beta" for i in range(30))
    t2 = " ".join(f"gamma item{i % 19} delta" for i in range(30))
    src1 = tmp_path / "docs1.jsonl"
    src1.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": t1},
                {"doc_id": 3, "text": t1 + " extra tail"},
                {"doc_id": 5, "text": t2},
                {"doc_id": 6, "text": t2 + " extra tail"},
            ]
        )
    )
    out1 = str(tmp_path / "split1")
    state = str(tmp_path / "assignments")
    audit = str(tmp_path / "audit")
    stage = {
        "op": "leakage_safe_split",
        "fractions": {"train": 0.7, "val": 0.15, "test": 0.15},
        "near_dup": {"threshold": 0.3},
        "assignments_path": state,
        "audit_path": audit,
    }
    cfg = parse_config(_doc_config(str(src1), out1, [stage]), registry)
    Pipeline(spark, cfg, registry=registry).run()
    run1 = {r["doc_id"]: r for r in spark.read.parquet(out1).collect()}
    assert set(run1) == {1, 3, 5, 6}
    assert run1[1]["split"] == run1[3]["split"]  # near-dup cluster together
    assert run1[5]["split"] == run1[6]["split"]
    assert spark.read.parquet(audit).count() == 0  # bootstrap
    saved = {r["doc_id"]: r["split"] for r in spark.read.parquet(state).collect()}
    assert saved == {d: r["split"] for d, r in run1.items()}

    # run 2: corpus grows by doc 7 and an explicit pairs table MERGES
    # the two clusters (3-5 edge) — sticky state must hold every split
    src2 = tmp_path / "docs2.jsonl"
    src2.write_text(
        "\n".join(
            json.dumps({"doc_id": d, "text": t})
            for d, t in [(1, t1), (3, t1), (5, t2), (6, t2), (7, "new doc")]
        )
    )
    pairs_path = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 3), (5, 6), (3, 5), (6, 7)], "doc_a long, doc_b long"
    ).write.parquet(pairs_path)
    out2 = str(tmp_path / "split2")
    stage2 = dict(stage, pairs_path=pairs_path)
    del stage2["near_dup"]
    cfg2 = parse_config(_doc_config(str(src2), out2, [stage2]), registry)
    Pipeline(spark, cfg2, registry=registry).run()
    run2 = {r["doc_id"]: r["split"] for r in spark.read.parquet(out2).collect()}
    for d in (1, 3, 5, 6):
        assert run2[d] == run1[d]["split"], f"doc {d} moved"
    assert run2[7] in {run1[d]["split"] for d in (1, 3, 5, 6)}  # inherited
    # state advanced to the new corpus
    assert set(
        r["doc_id"] for r in spark.read.parquet(state).collect()
    ) == {1, 3, 5, 6, 7}

    # audit without sticky state is a config error, caught pre-Spark
    bad = {"op": "leakage_safe_split", "fractions": {"train": 1.0},
           "near_dup": {"threshold": 0.3}, "audit_path": audit}
    cfgb = parse_config(_doc_config(str(src1), out1, [bad]), registry)
    with pytest.raises(ConfigError, match="assignments_path"):
        Pipeline(spark, cfgb, registry=registry).run()


def test_sticky_split_with_incremental_labels(spark, registry, tmp_path):
    """The fully incremental curation chain: leakage_safe_split with
    BOTH labels_path (persisted CC state, batch-sized maintenance) and
    assignments_path (sticky splits). A merging second epoch keeps
    every assigned doc's split and the label state reflects the merged
    clusters."""
    docs1 = tmp_path / "i1.jsonl"
    docs1.write_text(
        "\n".join(json.dumps({"doc_id": d, "text": "x"}) for d in (1, 2, 4, 5, 9))
    )
    labels = str(tmp_path / "labels")
    assigns = str(tmp_path / "assigns")

    def stage(pairs_rows, tag):
        pp = str(tmp_path / f"p_{tag}")
        spark.createDataFrame(pairs_rows, "doc_a long, doc_b long").write.parquet(pp)
        return {
            "op": "leakage_safe_split",
            "fractions": {"train": 0.5, "test": 0.5},
            "pairs_path": pp,
            "labels_path": labels,
            "assignments_path": assigns,
        }

    out1 = str(tmp_path / "io1")
    cfg = parse_config(
        _doc_config(str(docs1), out1, [stage([(1, 2), (4, 5)], "e1")]), registry
    )
    Pipeline(spark, cfg, registry=registry).run()
    r1 = {r["doc_id"]: r["split"] for r in spark.read.parquet(out1).collect()}

    docs2 = tmp_path / "i2.jsonl"
    docs2.write_text(
        "\n".join(
            json.dumps({"doc_id": d, "text": "x"}) for d in (1, 2, 4, 5, 6, 9)
        )
    )
    out2 = str(tmp_path / "io2")
    # epoch 2's pairs MERGE {1,2} and {4,5} and attach new doc 6
    cfg2 = parse_config(
        _doc_config(str(docs2), out2, [stage([(2, 4), (5, 6)], "e2")]), registry
    )
    Pipeline(spark, cfg2, registry=registry).run()
    r2 = {r["doc_id"]: r for r in spark.read.parquet(out2).collect()}
    for d in (1, 2, 4, 5, 9):
        assert r2[d]["split"] == r1[d], f"doc {d} moved"
    # label state holds the merged component under min-id rep 1
    state = {
        r["node"]: r["cluster_id"]
        for r in spark.read.parquet(labels).collect()
    }
    assert state == {1: 1, 2: 1, 4: 1, 5: 1, 6: 1}
    assert r2[6]["rep"] == 1
    assert r2[6]["split"] in {r1[1], r1[4]}  # inherited from the merge


def test_drift_check_from_stored_profile(spark, registry, tmp_path):
    """Round-8 verdict #5: profile -> stored parquet -> config-driven
    DriftCheck, no hand-carried constants. Job 1 profiles the
    reference slice through the numeric_profile transform; job 2's
    drift check loads the moments via profile_path and FAIL_FASTs on a
    unit-shifted batch while passing a steady one."""
    from lakehouse_ingestion_spark.errors import DataQualityError

    ref = tmp_path / "ref.jsonl"
    ref.write_text(
        "\n".join(
            json.dumps({"event_id": i, "user": "u", "amount": 10.0 + (i % 5)})
            for i in range(50)
        )
    )
    profile_out = str(tmp_path / "profile")
    cfg = parse_config(
        _doc_config(
            str(ref), profile_out,
            [{"op": "numeric_profile", "columns": ["amount"]}],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    prof = {r["col_name"]: r for r in spark.read.parquet(profile_out).collect()}
    assert prof["amount"]["n_rows"] == 50
    assert prof["amount"]["mean"] == pytest.approx(12.0)
    assert prof["amount"]["null_fraction"] == 0.0

    def gated_cfg(source, on_fail="FAIL_FAST"):
        c = _config(str(source), str(tmp_path / "gated"), None, on_fail=on_fail)
        c["jobs"][0]["data_quality"]["derive_from_schema"] = False
        c["jobs"][0]["data_quality"]["checks"] = [
            {"type": "drift", "column": "amount",
             "profile_path": profile_out, "max_sigmas": 3.0,
             "max_null_fraction_delta": 0.1}
        ]
        return parse_config(c, registry)

    steady = tmp_path / "steady.jsonl"
    steady.write_text(
        "\n".join(
            json.dumps({"event_id": i, "user": "u", "amount": 11.0 + (i % 3)})
            for i in range(20)
        )
    )
    res = Pipeline(spark, gated_cfg(steady), registry=registry).run()
    assert res[0].rows_written == 20  # within 3 sigma: passes

    drifted = tmp_path / "drifted.jsonl"
    drifted.write_text(
        "\n".join(
            json.dumps({"event_id": i, "user": "u", "amount": 10.0 * (i % 5) + 100.0})
            for i in range(20)
        )
    )
    with pytest.raises(DataQualityError, match="drift"):
        Pipeline(spark, gated_cfg(drifted), registry=registry).run()

    # config errors are pre-Spark and precise
    bad = gated_cfg(steady)
    bad.jobs[0].data_quality.checks[0]["profile_column"] = "nope"
    with pytest.raises(ConfigError, match="no row for column"):
        Pipeline(spark, bad, registry=registry).run()
    both = gated_cfg(steady)
    both.jobs[0].data_quality.checks[0]["ref_mean"] = 1.0
    with pytest.raises(ConfigError, match="not both"):
        Pipeline(spark, both, registry=registry).run()

    # an all-null reference slice profiles to NULL moments — gating
    # against it must fail loudly at config time, not divide by NaN
    from lakehouse_ingestion_spark.operators.profile import numeric_profile

    allnull = spark.createDataFrame(
        [(None,), (None,)], "amount double"
    )
    numeric_profile(allnull, ["amount"]).write.mode("overwrite").parquet(
        str(tmp_path / "nullprof")
    )
    nullgated = gated_cfg(steady)
    nullgated.jobs[0].data_quality.checks[0]["profile_path"] = str(
        tmp_path / "nullprof"
    )
    with pytest.raises(ConfigError, match="no mean/std"):
        Pipeline(spark, nullgated, registry=registry).run()
    with pytest.raises(ValueError, match="no numeric columns"):
        numeric_profile(spark.createDataFrame([("x",)], "s string"))


def test_cluster_reps_config_driven(spark, registry, docs_file, tmp_path):
    """cluster_reps attaches the near-dup cluster representative from
    a spec (rep-keyed downstream ops without a split)."""
    out = str(tmp_path / "reps")
    cfg = parse_config(
        _doc_config(
            docs_file, out,
            [{"op": "cluster_reps", "near_dup": {"threshold": 0.3}}],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    rows = {r["doc_id"]: r["rep"] for r in spark.read.parquet(out).collect()}
    assert rows[3] == 1  # docs 1/3 share long_ok text -> cluster rep 1
    assert rows[2] == 2  # singleton represents itself


def test_near_dup_drop_config_driven(spark, registry, tmp_path):
    """Fuzzy dedup from a spec: one survivor per near-dup cluster (the
    min id), singletons untouched — including a transitive chain the
    naive drop-all-right-sides rule would over-keep."""
    t1 = " ".join(f"alpha word{i % 17} beta" for i in range(30))
    src = tmp_path / "nd.jsonl"
    src.write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": t1},
                {"doc_id": 5, "text": t1 + " tail"},
                {"doc_id": 9, "text": t1 + " tail more"},
                {"doc_id": 7, "text": "totally different unique material"},
            ]
        )
    )
    out = str(tmp_path / "nd_out")
    cfg = parse_config(
        _doc_config(
            str(src), out,
            [{"op": "near_dup_drop", "near_dup": {"threshold": 0.3}}],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 7}


def test_cluster_reps_incremental_labels_config_driven(spark, registry, tmp_path):
    """cluster_reps with labels_path maintains the connected-components
    label table incrementally across runs: run 2's pairs MERGE two
    run-1 clusters and the final reps equal a full recompute."""
    docs = tmp_path / "d.jsonl"
    docs.write_text(
        "\n".join(json.dumps({"doc_id": i, "text": "x"}) for i in range(8))
    )
    labels = str(tmp_path / "cc_labels")

    def run(pairs_rows, out):
        pp = str(tmp_path / f"pairs_{out}")
        spark.createDataFrame(pairs_rows, "doc_a long, doc_b long").write.parquet(pp)
        cfg = parse_config(
            _doc_config(
                str(docs), str(tmp_path / out),
                [{"op": "cluster_reps", "pairs_path": pp,
                  "labels_path": labels}],
            ),
            registry,
        )
        Pipeline(spark, cfg, registry=registry).run()
        return {
            r["doc_id"]: r["rep"]
            for r in spark.read.parquet(str(tmp_path / out)).collect()
        }

    r1 = run([(1, 2), (4, 5)], "cc1")
    assert r1[2] == 1 and r1[5] == 4 and r1[0] == 0  # singleton self-rep
    r2 = run([(2, 4), (6, 7)], "cc2")  # merges {1,2} with {4,5}
    assert r2[1] == r2[2] == r2[4] == r2[5] == 1
    assert r2[7] == 6
    state = {
        r["node"]: r["cluster_id"]
        for r in spark.read.parquet(labels).collect()
    }
    assert state == {1: 1, 2: 1, 4: 1, 5: 1, 6: 6, 7: 6}


def test_unknown_transform_still_raises(spark, registry, docs_file, tmp_path):
    # r12: unknown ops now fail at LOAD (option-schema validation), not
    # at run — no Spark work happens for a spec that can never run
    with pytest.raises(ConfigError, match="unknown transform"):
        parse_config(
            _doc_config(docs_file, str(tmp_path / "x"), [{"op": "not_an_op"}]),
            registry,
        )


def test_analytics_transforms_config_driven(spark, registry, tmp_path):
    """funnel / retention / zscore_outliers drive from a spec."""
    import datetime as _dt

    src = tmp_path / "ev.jsonl"
    rows = [
        {"user_id": 1, "ts": "2024-01-01 10:00:00", "event_type": "view"},
        {"user_id": 1, "ts": "2024-01-01 10:01:00", "event_type": "click"},
        {"user_id": 2, "ts": "2024-01-01 10:00:00", "event_type": "view"},
    ]
    src.write_text("\n".join(json.dumps(r) for r in rows))
    out = str(tmp_path / "funnel_out")
    cfg = parse_config(
        _doc_config(
            str(src),
            out,
            [
                {"op": "derive_column", "name": "ts", "expr": "CAST(ts AS TIMESTAMP)"},
                {"op": "funnel", "user": "user_id", "ts": "ts",
                 "step": "event_type", "steps": ["view", "click"]},
            ],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    got = {r["step"]: r["n_users"] for r in spark.read.parquet(out).collect()}
    assert got == {"view": 2, "click": 1}


def test_shipped_curation_config_runs_end_to_end(spark, registry, tmp_path):
    """The shipped configs/curation-docs.yaml example must actually run:
    point its source/target at temp paths and execute the full chain."""
    import yaml

    with open("configs/curation-docs.yaml") as f:
        raw = yaml.safe_load(f)
    src = tmp_path / "raw.jsonl"
    text = " ".join(f"the word{i} of note{i}" for i in range(40))
    src.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": text + f" tail{i}", "source": "s"})
            for i in range(5)
        )
    )
    out = str(tmp_path / "chunks")
    raw["jobs"][0]["source"]["options"]["path"] = str(src)
    raw["jobs"][0]["target"]["options"]["path"] = out
    cfg = parse_config(raw, registry)
    Pipeline(spark, cfg, registry=registry).run()
    rows = spark.read.parquet(out)
    assert rows.count() == 5  # one 512-window chunk per short doc
    assert {"split", "chunk_text"} <= set(rows.columns)


def test_apply_transform_round5_ops(spark):
    """Config-driven dispatch of the round-5 operators: weighted_sample,
    frequent_items, quantile_sketch."""
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.pipeline import apply_transform

    df = spark.range(0, 2_000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 100 + 1).alias("w"),
        (F.col("id") % 50).cast("double").alias("v"),
    )
    s = apply_transform(
        df, "weighted_sample", {"key": "id", "weight": "w", "expected_n": 100}
    )
    n = s.count()
    assert 40 <= n <= 200
    assert set(s.columns) == {"id", "g", "w", "v"}

    fi = apply_transform(df, "frequent_items", {"item": "g", "min_share": 0.2})
    assert {r["item"] for r in fi.collect()} == {"0", "1", "2", "3"}

    qs = apply_transform(
        df,
        "quantile_sketch",
        {"group_by": ["g"], "value": "v", "quantiles": [0.5]},
    )
    rows = {r["g"]: (r["n"], r["p5"]) for r in qs.collect()}
    assert set(rows) == {"0", "1", "2", "3"}
    for n_g, p50 in rows.values():
        assert n_g == 500
        assert 15.0 <= p50 <= 35.0  # median of 0..49-ish values


def _op_frame(spark):
    """12 change events over 4 keys: insert/update/delete ops, daily
    timestamps, two strata and three users."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            i % 4,
            "ab"[i % 2],
            f"u{i % 3}",
            t0 + _dt.timedelta(days=i),
            "d" if i == 11 else ("u" if i > 3 else "c"),
            float(i * i % 7),
        )
        for i in range(12)
    ]
    return spark.createDataFrame(
        rows,
        "id long, k long, g string, user string, ts timestamp, op string, v double",
    )


def _direct_cdc_apply(df):
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.operators.cdc import cdc_apply

    return cdc_apply(df, ["k"], [F.col("ts").desc()], op_column="op")


def _direct_scd2(df):
    from lakehouse_ingestion_spark.operators.scd import scd2_from_history

    return scd2_from_history(df, ["k"], "ts", ["v"])


def _direct_retention(df):
    from lakehouse_ingestion_spark.operators.funnel import retention

    return retention(df, "user", "ts", period_days=3)


def _direct_stratified_sample(df):
    from lakehouse_ingestion_spark.operators.sampling import stratified_sample

    return stratified_sample(df, "g", {"a": 0.5}, "id", default_fraction=1.0)


def _direct_zscore_outliers(df):
    from lakehouse_ingestion_spark.operators.anomaly import zscore_outliers

    return zscore_outliers(df, ["g"], "v", z=1.0, min_group_count=3)


def _direct_sql(df):
    df.createOrReplaceTempView("direct_src")
    return df.sparkSession.sql(
        "SELECT g, count(*) AS n, sum(v) AS s FROM direct_src GROUP BY g"
    )


# op -> (config options, the same call made on the operator directly)
_OP_CASES = {
    "cdc_apply": (
        {"keys": ["k"], "order_by": ["ts"], "op_column": "op"},
        _direct_cdc_apply,
    ),
    "scd2": (
        {"keys": ["k"], "ts_column": "ts", "attr_columns": ["v"]},
        _direct_scd2,
    ),
    "retention": (
        {"user": "user", "ts": "ts", "period_days": 3}, _direct_retention,
    ),
    "stratified_sample": (
        {"strata": "g", "fractions": {"a": 0.5}, "key": "id",
         "default_fraction": 1.0},
        _direct_stratified_sample,
    ),
    "zscore_outliers": (
        {"group_by": ["g"], "value": "v", "z": 1.0, "min_group_count": 3},
        _direct_zscore_outliers,
    ),
    "select": (
        {"exprs": ["id", "v * 2 AS v2", "upper(g) AS g"]},
        lambda df: df.selectExpr("id", "v * 2 AS v2", "upper(g) AS g"),
    ),
    "sql": (
        {"view": "op_src",
         "query": "SELECT g, count(*) AS n, sum(v) AS s FROM op_src GROUP BY g"},
        _direct_sql,
    ),
}


@pytest.mark.parametrize("op", list(_OP_CASES))
def test_apply_transform_matches_operator(spark, op):
    """Config dispatch of each op returns exactly what the underlying
    operator returns when called directly with the same arguments."""
    from lakehouse_ingestion_spark.pipeline import apply_transform

    options, direct = _OP_CASES[op]
    df = _op_frame(spark)
    got = apply_transform(df, op, options)
    want = direct(df)
    assert got.columns == want.columns
    assert got.count() > 0
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_apply_transform_curation_ops(spark):
    """Config-driven dispatch of the round-5 curation operators:
    scrub_text, line_dedup, lm_perplexity, semantic_dedup, dup_stats,
    ngram_novelty."""
    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.pipeline import apply_transform

    docs = spark.createDataFrame(
        [
            (1, "boiler plate\nreach me a@b.io now"),
            (2, "boiler plate\nfresh words entirely here"),
        ],
        "doc_id long, text string",
    )
    s = apply_transform(docs, "scrub_text", {"out_col": "clean"})
    r = {x["doc_id"]: x for x in s.collect()}
    assert "<EMAIL>" in r[1]["clean"] and r[1]["pii_email_n"] == 1

    ld = apply_transform(docs, "line_dedup", {"max_occurrences": 1})
    out = {x["doc_id"]: x["text"] for x in ld.collect()}
    assert "boiler plate" not in out[1] and "a@b.io" in out[1]

    lm = apply_transform(docs, "lm_perplexity", {})
    assert all(x["bits_per_token"] > 0 for x in lm.collect())

    ds = apply_transform(docs, "dup_stats", {"k": 2})
    st = {x["doc_id"]: x["n_dup_spans"] for x in ds.collect()}
    assert st[1] >= 1  # "boiler plate" repeats across docs

    nv = apply_transform(docs, "ngram_novelty", {"k": 2})
    nov = {x["doc_id"]: x["novelty"] for x in nv.collect()}
    assert nov[1] == 1.0 and nov[2] < 1.0

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [-1.0, 0.0])],
        "doc_id long, embedding array<double>",
    )
    sd = apply_transform(
        emb, "semantic_dedup", {"threshold": 0.9, "n_bits": 2, "keep_only": True}
    )
    assert {x["doc_id"] for x in sd.collect()} == {1, 3}


def test_streaming_fanout_pipeline(spark, registry, tmp_path):
    """Config-driven exactly-once fan-out: one streaming job feeds a
    raw bronze sink and a shaped silver sink (select + where), with
    the commit ledger recording both per epoch."""
    indir = tmp_path / "fan_in"
    indir.mkdir()
    (indir / "b0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"event_id": 1, "user": "a", "amount": 10.0},
                {"event_id": 2, "user": "b", "amount": -1.0},
                {"event_id": 3, "user": None, "amount": 5.0},
            ]
        )
    )
    bronze = str(tmp_path / "fan_bronze")
    silver = str(tmp_path / "fan_silver")
    ledger = str(tmp_path / "fan_ledger")
    cfg = parse_config(
        {
            "env": "test",
            "jobs": [
                {
                    "name": "fanout-events",
                    "source": {
                        "type": "json",
                        "options": {
                            "path": str(indir),
                            "format": "json",
                            "streaming": "true",
                        },
                    },
                    "schema": {
                        "domain": "demo", "dataset": "events", "version": "v1",
                    },
                    "target": {
                        "format": "fanout",
                        "options": {
                            "ledger_path": ledger,
                            "sinks": {
                                "bronze": {"path": bronze},
                                "silver": {
                                    "path": silver,
                                    "select": ["event_id", "amount"],
                                    "where": "user IS NOT NULL",
                                },
                            },
                            "checkpoint_location": str(tmp_path / "fan_cp"),
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

    assert spark.read.parquet(bronze).count() == 3
    sil = spark.read.parquet(silver)
    assert sil.count() == 2  # null-user row filtered
    assert set(sil.columns) == {"event_id", "amount", "_epoch"}
    led = spark.read.parquet(ledger)
    assert {r.sink for r in led.collect()} == {"bronze", "silver"}


def test_streaming_sticky_split_pipeline(spark, registry, tmp_path):
    """Config-driven streaming curation split (round 8): two
    micro-batches through the sticky_split target — batch-2 near-dups
    inherit batch-1's cluster split, output routes exactly-once
    through the epoch ledger, states persist under state_dir."""
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    indir = tmp_path / "ss_in"
    indir.mkdir()
    (indir / "b0.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": t1},
                {"doc_id": 2, "text": t1 + " tail"},
                {"doc_id": 3, "text": "unrelated material entirely here"},
            ]
        )
    )
    (indir / "b1.jsonl").write_text(
        json.dumps({"doc_id": 11, "text": t1 + " extra"}) + "\n"
    )
    out = str(tmp_path / "ss_out")
    state = str(tmp_path / "ss_state")
    ledger = str(tmp_path / "ss_ledger")
    registry.register(
        "demo", "docs", "v1",
        StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("text", StringType(), True),
            ]
        ),
    )
    cfg = parse_config(
        {
            "env": "test",
            "jobs": [
                {
                    "name": "curate-split",
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
                        "domain": "demo", "dataset": "docs", "version": "v1",
                    },
                    "target": {
                        "format": "sticky_split",
                        "options": {
                            "path": out,
                            "state_dir": state,
                            "threshold": 0.3,
                            "fractions": {"train": 0.5, "test": 0.5},
                            "num_hashes": 8,
                            "num_bands": 4,
                            "ledger_path": ledger,
                            "checkpoint_location": str(tmp_path / "ss_cp"),
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

    from lakehouse_ingestion_spark.streaming.multi_sink import read_committed

    rows = {
        r["doc_id"]: r
        for r in read_committed(spark, out, ledger, "split").collect()
    }
    assert set(rows) == {1, 2, 3, 11}
    assert rows[1]["split"] == rows[2]["split"] == rows[11]["split"]
    assert rows[11]["rep"] == 1  # cross-batch cluster inheritance
    # the persisted states are the batch-pipeline layouts
    assert {
        r["node"] for r in spark.read.parquet(f"{state}/labels").collect()
    } == {1, 2, 11}
    assert spark.read.parquet(f"{state}/assignments").count() == 4

    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    with pytest.raises(ConfigError, match="state_dir"):
        get_writer("sticky_split").write_batch(
            spark.range(1),
            WriteOptions(path="/tmp/x", options={"threshold": 0.3,
                                                 "fractions": {"a": 1.0}}),
        )
    with pytest.raises(ConfigError, match="fractions"):
        get_writer("sticky_split").write_batch(
            spark.range(1),
            WriteOptions(path="/tmp/x", options={"threshold": 0.3,
                                                 "state_dir": "/tmp/s"}),
        )


def test_fanout_config_validation(spark, registry, tmp_path):
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    df = spark.range(1)
    with pytest.raises(ConfigError, match="ledger_path"):
        get_writer("fanout").write_batch(df, WriteOptions(options={"sinks": {"a": {"path": "/tmp/x"}}}))
    with pytest.raises(ConfigError, match="needs a 'path'"):
        get_writer("fanout").write_batch(
            df,
            WriteOptions(options={"ledger_path": "/tmp/l", "sinks": {"a": {}}}),
        )


def test_fanout_batch_rerun_replaces_stale_output(spark, tmp_path):
    """A deliberate batch re-run with CHANGED input must replace the
    previous epoch's output, not silently no-op on the ledger skip
    (force=True on the batch path; the skip is only for streaming
    crash redelivery)."""
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    sink = str(tmp_path / "rr_sink")
    ledger = str(tmp_path / "rr_ledger")
    opts = WriteOptions(
        options={
            "ledger_path": ledger,
            "sinks": {"main": {"path": sink}},
        }
    )
    w = get_writer("fanout")
    w.write_batch(
        spark.createDataFrame([(1, "old")], "id long, v string"), opts
    )
    assert [r.v for r in spark.read.parquet(sink).collect()] == ["old"]
    # re-run with changed input: output must reflect the new data
    w.write_batch(
        spark.createDataFrame(
            [(1, "new"), (2, "new2")], "id long, v string"
        ),
        opts,
    )
    got = spark.read.parquet(sink)
    assert sorted(r.v for r in got.collect()) == ["new", "new2"]
    # ledger is a log: both runs recorded, latest row count visible
    led = spark.read.parquet(ledger)
    assert led.count() == 2
    assert sorted(r.rows for r in led.collect()) == [1, 2]


def test_streaming_ann_index_pipeline(spark, registry, tmp_path):
    """Config-driven maintained ANN index (round 9): two micro-batches
    of embeddings through the ann_index target — postings accumulate
    under the index dir cell-partitioned, and search_index over the
    maintained state matches the one-shot ivf_topk."""
    from pyspark.sql.types import ArrayType

    import numpy as np

    rng = np.random.default_rng(3)
    vecs = {i: [float(x) for x in rng.normal(size=4).round(3)] for i in range(12)}
    seeds_path = str(tmp_path / "ann_seeds")
    spark.createDataFrame(
        [(i, vecs[i]) for i in range(2)], "cid long, cv array<double>"
    ).write.parquet(seeds_path)

    indir = tmp_path / "ann_in"
    indir.mkdir()
    (indir / "b0.jsonl").write_text(
        "\n".join(
            json.dumps({"vec_id": i, "v": vecs[i]}) for i in range(2, 7)
        )
    )
    (indir / "b1.jsonl").write_text(
        "\n".join(
            json.dumps({"vec_id": i, "v": vecs[i]}) for i in range(7, 12)
        )
    )
    registry.register(
        "demo", "emb", "v1",
        StructType(
            [
                StructField("vec_id", LongType(), False),
                StructField("v", ArrayType(DoubleType()), True),
            ]
        ),
    )
    idx = str(tmp_path / "ann_idx")
    cfg = parse_config(
        {
            "env": "test",
            "jobs": [
                {
                    "name": "maintain-ann",
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
                        "domain": "demo", "dataset": "emb", "version": "v1",
                    },
                    "target": {
                        "format": "ann_index",
                        "options": {
                            "path": idx,
                            "centroids_path": seeds_path,
                            "checkpoint_location": str(tmp_path / "ann_cp"),
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

    from lakehouse_ingestion_spark.operators.ann import ivf_topk
    from lakehouse_ingestion_spark.streaming.ann_index import (
        committed_postings,
        search_index,
    )

    assert committed_postings(spark, idx).count() == 10
    corpus = spark.createDataFrame(
        [(i, vecs[i]) for i in range(2, 12)], "vec_id long, v array<double>"
    )
    seeds = spark.read.parquet(seeds_path)
    queries = corpus.limit(2)
    got = search_index(spark, idx, queries, k=3, nprobe=1)
    want = ivf_topk(corpus, queries, seeds, k=3, nprobe=1)
    rows = lambda df: sorted(
        (r["q_id"], r["neighbor_id"], round(r["cos_sim"], 6), r["rk"])
        for r in df.collect()
    )
    assert rows(got) == rows(want)

    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer

    with pytest.raises(ConfigError, match="centroids_path"):
        get_writer("ann_index").write_batch(
            spark.range(1), WriteOptions(path="/tmp/x", options={})
        )


def test_html_extract_config_driven(spark, registry, tmp_path):
    """HTML -> text from a spec: tags stripped, entities decoded, then
    the C4-style line filter keeps only content lines."""
    page = (
        "<html><body><script>nav();</script><p>This paragraph is easily "
        "long enough to keep &amp; it ends correctly.</p>"
        "<div>Home | About</div></body></html>"
    )
    src = tmp_path / "pages.jsonl"
    src.write_text(json.dumps({"doc_id": 1, "html": page}))
    out = str(tmp_path / "extracted")
    cfg = parse_config(
        _doc_config(
            str(src), out,
            [{"op": "html_extract", "html_col": "html", "output_col": "text",
              "line_filter": True, "min_line_chars": 20}],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    row = spark.read.parquet(out).collect()[0]
    assert row["text"] == (
        "This paragraph is easily long enough to keep & it ends correctly."
    )
    assert "nav()" not in row["text"] and "Home" not in row["text"]


def test_token_budget_select_config_driven(spark, registry, tmp_path):
    """Budget selection from a spec: the (score DESC, id) prefix whose
    cost sum fits the budget survives; the straddling doc does not."""
    src = tmp_path / "scored.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": "x", "score": s, "n_tokens": c})
            for i, s, c in [(1, 9, 40), (2, 8, 40), (3, 7, 40), (4, 6, 40)]
        )
    )
    out = str(tmp_path / "selected")
    cfg = parse_config(
        _doc_config(
            str(src), out,
            [{"op": "token_budget_select", "score_col": "score",
              "cost_col": "n_tokens", "budget": 100, "key_col": "doc_id"}],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    got = {r["doc_id"]: r["cum_cost"] for r in spark.read.parquet(out).collect()}
    assert got == {1: 40, 2: 80}  # doc 3 would overflow to 120


def test_shards_sink_config_driven(spark, registry, tmp_path):
    """target format 'shards' writes shard=K dirs holding every row; the
    append mode is rejected (it would interleave shuffle orders)."""
    import glob
    import os

    src = tmp_path / "exp.jsonl"
    src.write_text(
        "\n".join(json.dumps({"doc_id": i, "text": f"d{i}"}) for i in range(60))
    )
    out = str(tmp_path / "shards_out")
    cfg_dict = _doc_config(str(src), out, [])
    cfg_dict["jobs"][0]["target"] = {
        "format": "shards",
        "options": {"path": out, "mode": "overwrite", "key_col": "doc_id",
                    "n_shards": 4},
    }
    cfg = parse_config(cfg_dict, registry)
    Pipeline(spark, cfg, registry=registry).run()
    dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert len(dirs) == 4
    assert spark.read.parquet(out).count() == 60

    bad = _doc_config(str(src), str(tmp_path / "bad"), [])
    bad["jobs"][0]["target"] = {
        "format": "shards",
        "options": {"path": str(tmp_path / "bad"), "mode": "append",
                    "key_col": "doc_id"},
    }
    with pytest.raises(ConfigError, match="overwrite-only"):
        Pipeline(spark, parse_config(bad, registry), registry=registry).run()


@pytest.mark.parametrize("fmt,extra", [("shards", {"key_col": "event_id"}),
                                       ("parquet", {})])
def test_streaming_overwrite_target_rejected(spark, registry, tmp_path, fmt, extra):
    """A streaming job whose target mode is overwrite raises before the
    stream starts: each micro-batch would replace the one before it, so
    a multi-batch stream would keep only its last batch."""
    indir = tmp_path / "ow_in"
    indir.mkdir()
    for f in range(2):
        (indir / f"b{f}.jsonl").write_text("\n".join(
            json.dumps({"event_id": f * 5 + i, "user": "u", "amount": 1.0})
            for i in range(5)
        ))
    out = tmp_path / "ow_out"
    cfg = _doc_config(str(indir), str(out), [])
    cfg["jobs"][0]["schema"] = {
        "domain": "demo", "dataset": "events", "version": "v1",
    }
    cfg["jobs"][0]["source"]["options"].update(
        streaming="true", maxFilesPerTrigger=1
    )
    cfg["jobs"][0]["target"] = {
        "format": fmt,
        "options": {"path": str(out), "mode": "overwrite",
                    "checkpoint_location": str(tmp_path / "ow_cp"),
                    "trigger_interval": "availableNow", **extra},
    }
    with pytest.raises(ConfigError, match="overwrite"):
        Pipeline(spark, parse_config(cfg, registry), registry=registry).run()
    assert not out.exists()


def test_stratified_budget_select_config_driven(spark, registry, tmp_path):
    """Per-domain quota from a spec: each domain independently keeps its
    (score DESC, id) prefix; a domain missing from `budgets` is dropped
    (default_budget 0)."""
    src = tmp_path / "mix.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": "x", "dom": d, "score": s,
                        "n_tokens": 30})
            for i, d, s in [(1, "web", 9), (2, "web", 8), (3, "web", 7),
                            (4, "code", 9), (5, "code", 8), (6, "junk", 9)]
        )
    )
    out = str(tmp_path / "mix_out")
    cfg = parse_config(
        _doc_config(
            str(src), out,
            [{"op": "stratified_budget_select", "strata_col": "dom",
              "score_col": "score", "cost_col": "n_tokens",
              "budgets": {"web": 60, "code": 30}, "key_col": "doc_id"}],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 4}  # web keeps 2, code keeps 1, junk dropped


def test_semantic_decontaminate_config_driven(spark, registry, tmp_path):
    """Embedding screen from a spec: contaminated rows dropped when the
    policy says so; eval set comes from a parquet path."""
    ev_path = str(tmp_path / "eval_emb")
    spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<float>"
    ).write.parquet(ev_path)
    src = tmp_path / "emb.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": "x", "embedding": v})
            for i, v in [(1, [0.99, 0.01]), (2, [0.0, 1.0])]
        )
    )
    out = str(tmp_path / "clean")
    cfg = parse_config(
        _doc_config(
            str(src), out,
            [{"op": "semantic_decontaminate", "eval_path": ev_path,
              "id_col": "vec_id", "vec_col": "embedding",
              "threshold": 0.9, "drop_contaminated": True}],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    kept = [r["doc_id"] for r in spark.read.parquet(out).collect()]
    assert kept == [2]


def test_dedup_priorities_config_driven(spark, registry, tmp_path):
    """dedup with a priorities mapping canonicalizes across sources."""
    src = tmp_path / "ps.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t, "source": s})
            for i, t, s in [(1, "dup text", "crawl"), (2, "dup text", "curated"),
                            (3, "solo", "crawl")]
        )
    )
    out = str(tmp_path / "ps_out")
    cfg = parse_config(
        _doc_config(
            str(src), out,
            [{"op": "dedup", "priorities": {"curated": 10, "crawl": 1},
              "hash_fn": "md5"}],
        ),
        registry,
    )
    Pipeline(spark, cfg, registry=registry).run()
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {2, 3}
    assert rows[2]["source"] == "curated" and rows[2]["n_copies"] == 2


def test_export_train_chain_end_to_end(spark, registry, tmp_path):
    """The full export chain from one YAML shape (configs/
    export-train.yaml): html_extract -> priority dedup -> budget
    selection -> shards sink. Asserts the bundled example config
    parses, then runs the same chain on synthesized pages."""
    import glob
    import os

    import yaml

    # the shipped example must at least parse structurally
    shipped = yaml.safe_load(open("configs/export-train.yaml"))
    ops = [t["op"] for t in shipped["jobs"][0]["transforms"]]
    assert ops == ["html_extract", "dedup", "derive_column",
                   "derive_column", "token_budget_select"]
    assert shipped["jobs"][0]["target"]["format"] == "shards"

    page = (
        "<html><body><p>This is a perfectly reasonable training "
        "document with enough length to keep.</p></body></html>"
    )
    src = tmp_path / "pages.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "html": page + f"<p>v{i % 3}.</p>",
                        "source": s})
            for i, s in [(1, "crawl_2023"), (2, "curated_dump"),
                         (3, "crawl_2023"), (4, "crawl_2024"),
                         (5, "crawl_2023"), (6, "crawl_2023")]
        )
    )
    out = str(tmp_path / "shards")
    cfg_dict = {
        "env": "test",
        "jobs": [
            {
                "name": "export",
                "source_system": "t",
                "source": {"type": "json",
                           "options": {"path": str(src), "format": "json"}},
                "transforms": [
                    {"op": "html_extract", "html_col": "html",
                     "output_col": "text"},
                    {"op": "dedup",
                     "priorities": {"curated_dump": 10, "crawl_2024": 2},
                     "hash_fn": "md5"},
                    {"op": "derive_column", "name": "n_tokens",
                     "expr": "size(split(trim(text), '\\\\s+'))"},
                    {"op": "token_budget_select", "score_col": "n_tokens",
                     "cost_col": "n_tokens", "budget": 1000,
                     "key_col": "doc_id"},
                ],
                "target": {
                    "format": "shards",
                    "options": {"path": out, "mode": "overwrite",
                                "key_col": "doc_id", "n_shards": 2},
                },
            }
        ],
    }
    Pipeline(spark, parse_config(cfg_dict, registry), registry=registry).run()
    back = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in back.collect()}
    # docs 1,3,5,6 share page-variant texts only pairwise: v1==v4 text?
    # ids 1..6 produce suffixes v1,v2,v0,v1,v2,v0 -> three content
    # groups {1,4},{2,5},{3,6}; priorities pick 4 (crawl_2024 > default),
    # 2 (curated), and min-id 3
    assert set(rows) == {2, 3, 4}
    assert {r["shard"] is not None for r in rows.values()} == {True}
    assert glob.glob(os.path.join(out, "shard=*"))


def test_shipped_curate_split_export_config_runs_end_to_end(
    spark, registry, tmp_path
):
    """configs/curate-split-export.yaml: the composed chain quality ->
    sticky leakage-safe split (quarantine_eval) -> per-split budget ->
    shards, config-only.  Seeds a legacy state that split a near-dup
    pair across train/test so the run hits a real cluster conflict, then
    asserts the quarantined cluster NEVER reaches val/test shards."""
    import glob
    import os

    import yaml

    with open("configs/curate-split-export.yaml") as f:
        raw = yaml.safe_load(f)

    # stopword-bearing text: the quality gate's stopword rule must pass
    base = " ".join(f"the token{i} of filler{i}" for i in range(15))
    docs = [(1, base + " same"), (2, base + " tail")]  # near-dup pair
    docs += [
        (i, " ".join(f"the unique{i}w{j} of body{i}x{j}" for j in range(12)))
        for i in range(3, 9)
    ]
    src = tmp_path / "raw.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t, "source": "crawl"})
            for i, t in docs
        )
    )
    state = str(tmp_path / "state")
    audit_p = str(tmp_path / "audit")
    out = str(tmp_path / "shards")
    # legacy assigner split the near-dup pair across train/test
    spark.createDataFrame(
        [(1, "train"), (2, "test")], "doc_id long, split string"
    ).write.parquet(f"{state}/assignments")

    job = raw["jobs"][0]
    job["source"]["options"]["path"] = str(src)
    job["target"]["options"]["path"] = out
    job["target"]["options"]["n_shards"] = 4
    for t in job["transforms"]:
        if t["op"] == "leakage_safe_split":
            t["assignments_path"] = f"{state}/assignments"
            t["audit_path"] = audit_p
    cfg = parse_config(raw, registry)
    Pipeline(spark, cfg, registry=registry).run()

    back = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in back.collect()}
    assert set(rows) == set(range(1, 9))  # budgets fit everything
    assert glob.glob(os.path.join(out, "shard=*"))
    # the conflicted cluster was audited and quarantined into train
    audit = spark.read.parquet(audit_p)
    conflicted = {
        r["doc_id"]
        for r in audit.filter(audit.reason == "cluster_conflict").collect()
    }
    assert conflicted == {1, 2}
    eval_docs = {
        i for i, r in rows.items() if r["split"] in ("val", "test")
    }
    assert not (conflicted & eval_docs), "quarantined docs leaked into eval"
    assert rows[1]["split"] == rows[2]["split"] == "train"
    # each survivor carries its per-split running budget total
    assert all(r["cum_cost"] >= r["n_tokens"] for r in rows.values())


def test_pipeline_sticky_partial_run_keeps_absent_assignments(
    spark, registry, tmp_path
):
    """r8 ADVICE: a partial-corpus sticky run must not discard prior
    assignments of absent docs (union on write), and the new doc must
    inherit from cluster-mates that are only in HISTORY (history-wide
    majority); the audit log APPENDS across runs."""
    from lakehouse_ingestion_spark.config import parse_config
    from lakehouse_ingestion_spark.pipeline import Pipeline

    fr = {"a": 0.5, "b": 0.5}
    # discriminating seed: hash(0) != hash(1) and hash(-1) != hash(1)
    seed, m = _pick_seed(spark, fr, [-1, 0, 1], [(0, 1), (-1, 1)])
    state = str(tmp_path / "assigns")
    audit_p = str(tmp_path / "audit")

    def run(doc_rows, pair_rows, tag):
        src = tmp_path / f"{tag}.jsonl"
        src.write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": "x"}) for d in doc_rows
            )
        )
        pp = str(tmp_path / f"pairs_{tag}")
        spark.createDataFrame(
            pair_rows, "doc_a long, doc_b long"
        ).write.parquet(pp)
        out = str(tmp_path / f"out_{tag}")
        stage = {
            "op": "leakage_safe_split",
            "fractions": fr,
            "pairs_path": pp,
            "assignments_path": state,
            "audit_path": audit_p,
            "seed": seed,
        }
        cfg = parse_config(_doc_config(str(src), out, [stage]), registry)
        Pipeline(spark, cfg, registry=registry).run()
        return {r["doc_id"]: r for r in spark.read.parquet(out).collect()}

    r1 = run([1, 2, 5], [(1, 2)], "r1")
    assert r1[1]["split"] == r1[2]["split"] == m[1]

    # run 2: df contains ONLY doc 0 — its cluster-mates are history-only
    r2 = run([0], [(0, 1)], "r2")
    assert r2[0]["split"] == m[1] != m[0]  # inherited, not hash-of-rep-0
    saved = {
        r["doc_id"]: r["split"] for r in spark.read.parquet(state).collect()
    }
    assert set(saved) == {0, 1, 2, 5}  # absent docs kept
    assert saved[1] == saved[2] == m[1]
    c2 = spark.read.parquet(audit_p).count()
    assert c2 >= 1  # doc 0's inherited row

    # run 3: another partial slice; the audit log grows, never resets
    r3 = run([-1], [(-1, 0)], "r3")
    assert r3[-1]["split"] == m[1]
    assert spark.read.parquet(audit_p).count() > c2
    assert set(
        r["doc_id"] for r in spark.read.parquet(state).collect()
    ) == {-1, 0, 1, 2, 5}


def test_pipeline_conflict_quarantine_and_drop(spark, registry, tmp_path):
    """r8 verdict #3 done-criteria: a merged pre-straddled cluster
    lands train-only under conflict_action=quarantine_eval (and the
    forced split persists); under drop_cluster its members are withheld
    from the output while the state keeps them deterministic."""
    from lakehouse_ingestion_spark.config import parse_config
    from lakehouse_ingestion_spark.pipeline import Pipeline

    def run(action, tag):
        state = str(tmp_path / f"assigns_{tag}")
        spark.createDataFrame(
            [(1, "train"), (2, "test")], "doc_id long, split string"
        ).write.parquet(state)
        src = tmp_path / f"{tag}.jsonl"
        src.write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": "x"}) for d in (1, 2, 3)
            )
        )
        pp = str(tmp_path / f"pairs_{tag}")
        spark.createDataFrame([(1, 2)], "doc_a long, doc_b long").write.parquet(pp)
        out = str(tmp_path / f"out_{tag}")
        stage = {
            "op": "leakage_safe_split",
            "fractions": {"train": 0.5, "test": 0.5},
            "pairs_path": pp,
            "assignments_path": state,
            "audit_path": str(tmp_path / f"audit_{tag}"),
            "conflict_action": action,
        }
        cfg = parse_config(_doc_config(str(src), out, [stage]), registry)
        Pipeline(spark, cfg, registry=registry).run()
        got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
        saved = {
            r["doc_id"]: r["split"]
            for r in spark.read.parquet(state).collect()
        }
        aud = spark.read.parquet(str(tmp_path / f"audit_{tag}")).collect()
        return got, saved, aud

    got, saved, aud = run("quarantine_eval", "q")
    assert got[1]["split"] == got[2]["split"] == "train"  # train-only
    assert saved[1] == saved[2] == "train"  # persisted: conflict melts
    assert {r["doc_id"] for r in aud if r["reason"] == "cluster_conflict"} \
        >= {1, 2}

    got, saved, aud = run("drop_cluster", "d")
    assert 1 not in got and 2 not in got  # withheld from output
    assert 3 in got
    assert saved[1] == "train" and saved[2] == "test"  # state deterministic
    assert any(r["reason"] == "cluster_conflict" for r in aud)


def test_pipeline_rejects_unknown_conflict_action(spark, registry, tmp_path):
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.operators.split_guard import (
        apply_conflict_policy,
    )

    df = spark.createDataFrame([(1, "a", 1)], "doc_id long, split string, rep long")
    with pytest.raises(ConfigError, match="conflict_action"):
        apply_conflict_policy(df, df, "explode", {"a": 1.0})
