import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, DoubleType

from lakehouse_ingestion_spark.dq import (
    DQRuleSet,
    DQStatus,
    FreshnessCheck,
    NotNullCheck,
    OnFailPolicy,
    RangeCheck,
    ReferentialIntegrityCheck,
    RegexCheck,
    RowCountCheck,
    SetMembershipCheck,
    UniqueKeyCheck,
    checks_from_schema,
)
from lakehouse_ingestion_spark.errors import DataQualityError


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            ("a", 10.0, "USD", "k1"),
            ("b", -5.0, "USD", "k2"),   # range violation
            (None, 20.0, "EUR", "k3"),  # null violation
            ("d", 30.0, "XXX", "k4"),   # set violation
            ("e", 40.0, "GBP", "k4"),   # duplicate key
        ],
        schema="name string, amount double, currency string, key string",
    )


def test_not_null(df):
    r = NotNullCheck(column="name").run(df)
    assert r.status is DQStatus.FAIL
    assert r.metrics["violations"] == 1
    r2 = NotNullCheck(column="name", failure_threshold=0.5).run(df)
    assert r2.status is DQStatus.WARNING


def test_range(df):
    r = RangeCheck(column="amount", min_value=0.0, max_value=100.0).run(df)
    assert r.status is DQStatus.FAIL
    assert r.metrics["violations"] == 1


def test_range_requires_bound():
    with pytest.raises(ValueError):
        RangeCheck(column="x")


def test_regex(df):
    r = RegexCheck(column="currency", pattern="^[A-Z]{3}$").run(df)
    assert r.status is DQStatus.PASS


def test_set_membership(df):
    r = SetMembershipCheck(column="currency", allowed_values=["USD", "EUR", "GBP"]).run(df)
    assert r.status is DQStatus.FAIL
    assert r.metrics["violations"] == 1


def test_unique_key(df):
    r = UniqueKeyCheck(key_columns=["key"]).run(df)
    assert r.status is DQStatus.FAIL
    assert r.metrics["duplicates"] == 1


def test_row_count(df):
    assert RowCountCheck(min_rows=1, max_rows=10).run(df).status is DQStatus.PASS
    assert RowCountCheck(min_rows=100).run(df).status is DQStatus.FAIL


def test_freshness(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2030-01-01 00:00:00",)], schema="ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    r = FreshnessCheck(
        column="ts", now=F.lit("2025-01-01 00:00:00").cast("timestamp")
    ).run(df)
    assert r.status is DQStatus.FAIL
    assert r.metrics["violations"] == 1


def test_referential_integrity(spark, df):
    parent = spark.createDataFrame([("USD",), ("EUR",)], schema="code string")
    r = ReferentialIntegrityCheck(
        fk_columns=["currency"], parent_df=parent, parent_key_columns=["code"]
    ).run(df)
    assert r.status is DQStatus.FAIL
    assert r.metrics["orphans"] == 2  # XXX and GBP


def test_fused_ruleset_single_pass(df):
    rs = DQRuleSet(
        [
            NotNullCheck(column="name"),
            RangeCheck(column="amount", min_value=0.0),
            UniqueKeyCheck(key_columns=["key"]),
            RowCountCheck(min_rows=1),
        ]
    )
    summary = rs.apply(df)
    assert summary.status is DQStatus.FAIL
    assert len(summary.results) == 4
    assert len(summary.failed) == 3


def test_missing_column_fails_gracefully(df):
    rs = DQRuleSet([NotNullCheck(column="nope")])
    s = rs.apply(df)
    assert s.status is DQStatus.FAIL
    assert "missing columns" in s.results[0].message


def test_policy_fail_fast(df):
    rs = DQRuleSet([NotNullCheck(column="name")])
    with pytest.raises(DataQualityError):
        rs.enforce(df, OnFailPolicy.FAIL_FAST)


def test_policy_log_only(df):
    rs = DQRuleSet([NotNullCheck(column="name")])
    out, summary = rs.enforce(df, OnFailPolicy.LOG_ONLY)
    assert out.count() == 5
    assert summary.status is DQStatus.FAIL


def test_policy_quarantine_split(df):
    rs = DQRuleSet(
        [
            NotNullCheck(column="name"),
            RangeCheck(column="amount", min_value=0.0),
        ]
    )
    captured = {}
    out, summary = rs.enforce(
        df, OnFailPolicy.QUARANTINE, quarantine_writer=lambda bad: captured.update(n=bad.count())
    )
    assert out.count() == 3
    assert captured["n"] == 2
    good, bad = rs.split(df)
    tags = {r.name: r._dq_failures for r in bad.collect()}
    assert tags[None] == ["not_null[name]"]
    assert tags["b"] == ["range[amount]"]


def test_checks_from_schema_metadata():
    schema = StructType(
        [
            StructField("amount", DoubleType(), False,
                        metadata={"min_value": 0.0, "max_value": 10.0}),
            StructField("currency", StringType(), True,
                        metadata={"allowed_values": ["USD"]}),
            StructField("id", StringType(), True, metadata={"unique": True}),
            StructField("_ingestion_time", StringType(), False,
                        metadata={"system_column": True}),
        ]
    )
    checks = checks_from_schema(schema, primary_key=["id", "currency"])
    kinds = sorted(type(c).__name__ for c in checks)
    assert kinds == [
        "NotNullCheck",
        "RangeCheck",
        "SetMembershipCheck",
        "UniqueKeyCheck",
        "UniqueKeyCheck",
    ]


def test_drift_check(spark):
    """Mean-shift + null-fraction drift vs a stored profile, fused into
    the single-pass aggregate; empty batches pass; ref_std=0 means any
    change fails."""
    import pytest

    from lakehouse_ingestion_spark.dq.checks import DriftCheck
    from lakehouse_ingestion_spark.dq.model import DQStatus
    from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet

    ok = spark.createDataFrame([(float(v),) for v in (98, 100, 102, 100)], "v double")
    shifted = spark.createDataFrame([(float(v),) for v in (198, 200, 202)], "v double")

    chk = DriftCheck(column="v", ref_mean=100.0, ref_std=5.0, max_sigmas=3.0)
    assert chk.run(ok).status == DQStatus.PASS
    r = chk.run(shifted)
    assert r.status == DQStatus.FAIL and r.metrics["mean_delta"] == 100.0

    # fused alongside other checks (no standalone scan)
    summary = DQRuleSet([chk]).apply(ok)
    assert all(res.status == DQStatus.PASS for res in summary.results)

    # empty batch passes; constant reference fails on any change
    empty = spark.createDataFrame([], "v double")
    assert chk.run(empty).status == DQStatus.PASS
    const = DriftCheck(column="v", ref_mean=100.0, ref_std=0.0)
    assert const.run(shifted).status == DQStatus.FAIL
    assert const.run(spark.createDataFrame([(100.0,)], "v double")).status == DQStatus.PASS

    # null-fraction guard
    nully = spark.createDataFrame([(100.0,), (None,), (None,), (None,)], "v double")
    ng = DriftCheck(column="v", ref_mean=100.0, ref_std=5.0,
                    ref_null_fraction=0.0, max_null_fraction_delta=0.25)
    rn = ng.run(nully)
    assert rn.status == DQStatus.FAIL and rn.metrics["null_fraction"] == 0.75

    with pytest.raises(ValueError, match="ref_std"):
        DriftCheck(column="v", ref_mean=0.0, ref_std=-1.0)
    with pytest.raises(ValueError, match="max_sigmas"):
        DriftCheck(column="v", ref_mean=0.0, ref_std=1.0, max_sigmas=0)


def test_drift_check_config_factory():
    from lakehouse_ingestion_spark.pipeline import build_check

    chk = build_check(
        {"type": "drift", "column": "amount", "ref_mean": 120.5, "ref_std": 10,
         "max_sigmas": 2, "ref_null_fraction": 0.1,
         "max_null_fraction_delta": 0.05}
    )
    assert chk.name == "drift[amount]"
    assert chk.ref_mean == 120.5 and chk.ref_std == 10.0
    assert chk.max_sigmas == 2.0 and chk.max_null_fraction_delta == 0.05


# -- enforce: one eager pin carries the verdict ------------------------------


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


def test_quarantine_micro_batch_runs_four_jobs_one_file_per_value(spark, tmp_path):
    """A QUARANTINE micro-batch into a partitioned parquet target: the
    pin (data + verdict), the quarantine write, and the rebalanced
    write's shuffle map and result."""
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer
    from lakehouse_ingestion_spark.streaming.foreach_batch import dq_epoch

    batch = spark.range(0, 40, numPartitions=2).select(
        F.col("id"), (F.col("id") % 4).alias("d"),
        F.when(F.col("id") % 10 == 0, -1.0).otherwise(1.0).alias("v"),
    )
    assert batch.rdd.getNumPartitions() == 2
    out, q = str(tmp_path / "out"), str(tmp_path / "q")
    opts = WriteOptions(path=out, partition_by="d")
    jobs = _jobs_in_group(spark, "dq-micro-batch", lambda: dq_epoch(
        batch, 0,
        ruleset=DQRuleSet([RangeCheck(column="v", min_value=0.0)]),
        policy=OnFailPolicy.QUARANTINE,
        sink=lambda b, e: get_writer("parquet").write_epoch_batch(b, opts, e),
        quarantine_sink=lambda b, e: b.write.mode("append").parquet(q),
    ))
    assert jobs == 4
    assert spark.read.parquet(out).count() == 36
    assert spark.read.parquet(q).count() == 4
    for value in range(4):
        files = list((tmp_path / "out" / f"d={value}").glob("*.parquet"))
        assert len(files) == 1, files


@pytest.mark.parametrize("behind_shuffle", [False, True])
def test_enforce_empty_batch_passes_with_zero_counts(spark, tmp_path, behind_shuffle):
    from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer
    from lakehouse_ingestion_spark.streaming.foreach_batch import dq_epoch

    empty = spark.range(0).select(F.col("id"), F.lit(1.0).alias("v"))
    if behind_shuffle:
        empty = empty.repartition(3, "id").filter("v > 0")
    rs = DQRuleSet(
        [NotNullCheck(column="v"), RangeCheck(column="v", min_value=0.0),
         UniqueKeyCheck(key_columns=["id"]), RowCountCheck(max_rows=10)]
    )
    good, summary = rs.enforce(empty, OnFailPolicy.QUARANTINE)
    assert summary.status is DQStatus.PASS
    assert [r.metrics["total_rows"] for r in summary.results] == [0, 0, 0, 0]
    assert good.count() == 0
    out = str(tmp_path / "out")
    opts = WriteOptions(path=out, partition_by=["id"])
    dq_epoch(
        empty, 0, ruleset=rs, policy=OnFailPolicy.QUARANTINE,
        sink=lambda b, e: get_writer("parquet").write_epoch_batch(b, opts, e),
    )
    assert spark.read.schema("id long, v double").parquet(out).count() == 0


def test_enforce_without_observed_metrics_passes_empty(spark, monkeypatch):
    """AQE may prove an empty batch empty and drop the CollectMetrics
    node: the observation then holds no metrics at all."""
    from lakehouse_ingestion_spark.metrics import ObservedMetrics

    monkeypatch.setattr(ObservedMetrics, "get", lambda self: {})
    empty = spark.range(0).select(F.col("id"), F.lit(1.0).alias("v"))
    _, summary = DQRuleSet(
        [NotNullCheck(column="v"), RangeCheck(column="v", max_value=0.0)]
    ).enforce(empty, OnFailPolicy.FAIL_FAST)
    assert summary.status is DQStatus.PASS
    assert [r.metrics["violations"] for r in summary.results] == [0, 0]


def test_enforce_exact_unique_key_matches_apply(df):
    """observe() rejects count_distinct: the exact check reads the pin
    and the summary equals the single-agg pass's."""
    rs = DQRuleSet(
        [NotNullCheck(column="name"), UniqueKeyCheck(key_columns=["key"]),
         RangeCheck(column="amount", min_value=0.0)]
    )
    good, summary = rs.enforce(df, OnFailPolicy.QUARANTINE)
    assert summary == rs.apply(df)
    unique = [r for r in summary.results if r.check_name == "unique_key[key]"][0]
    assert unique.status is DQStatus.FAIL and unique.metrics["duplicates"] == 1
    assert good.count() == 3


def test_fail_fast_raises_before_output_and_releases_pin(spark, df, tmp_path, monkeypatch):
    import lakehouse_ingestion_spark.dq.ruleset as ruleset
    from lakehouse_ingestion_spark.streaming.foreach_batch import dq_epoch

    released = []
    real = ruleset.release_local_checkpoint
    monkeypatch.setattr(
        ruleset, "release_local_checkpoint",
        lambda *dfs: released.append(real(*dfs)),
    )
    out = tmp_path / "out"
    with pytest.raises(DataQualityError):
        dq_epoch(
            df, 0, ruleset=DQRuleSet([NotNullCheck(column="name")]),
            policy=OnFailPolicy.FAIL_FAST,
            sink=lambda b, e: b.write.parquet(str(out)),
        )
    assert not out.exists()
    assert released == [1]
