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
