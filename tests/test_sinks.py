"""Sink tests: parquet round-trip + gated Delta/Iceberg behavior."""

from __future__ import annotations

import pytest

from lakehouse_ingestion_spark.errors import UnsupportedFeatureError
from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer


def test_writer_registry():
    assert get_writer("parquet") is not None
    assert get_writer("s3-parquet") is not None  # reference alias
    assert get_writer("delta") is not None
    assert get_writer("deltalake") is not None  # reference alias
    assert get_writer("iceberg") is not None
    with pytest.raises(UnsupportedFeatureError):
        get_writer("no-such-format")


def test_parquet_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "id int, v string, d string"
    )
    opts = WriteOptions(
        path=str(tmp_path / "t"), mode="overwrite", partition_by=["d"]
    )
    get_writer("parquet").write_batch(df, opts)
    back = spark.read.parquet(str(tmp_path / "t"))
    assert back.count() == 2
    assert any(p.name.startswith("d=") for p in (tmp_path / "t").iterdir() if p.is_dir())


def test_scalar_partition_by_loads_as_one_column(spark, tmp_path):
    """``partition_by: transaction_date`` (a YAML/HOCON scalar) is one
    column, not one per character."""
    from lakehouse_ingestion_spark.config import load_config
    from lakehouse_ingestion_spark.pipeline import Pipeline

    spec = tmp_path / "job.yaml"
    spec.write_text(
        "jobs:\n"
        "  - name: j\n"
        "    source: {type: json, options: {path: /in}}\n"
        "    target:\n"
        "      format: parquet\n"
        "      options: {path: /out, partition_by: transaction_date}\n"
    )
    cfg = load_config(spec)
    opts = Pipeline(spark, cfg)._write_options(cfg.jobs[0])
    assert opts.partition_by == ["transaction_date"]


def test_scalar_partition_by_writes_one_partition_column(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "id int, transaction_date string"
    )
    opts = WriteOptions.from_target(
        {"path": str(tmp_path / "t"), "partition_by": "transaction_date"}
    )
    get_writer("parquet").write_batch(df, opts)
    dirs = sorted(p.name for p in (tmp_path / "t").iterdir() if p.is_dir())
    assert dirs == ["transaction_date=2024-01-01", "transaction_date=2024-01-02"]


def test_delta_gated(spark, tmp_path):
    from lakehouse_ingestion_spark.sinks.delta import DeltaTable

    if DeltaTable is not None:
        pytest.skip("delta-spark present; gate not exercised")
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(UnsupportedFeatureError, match="delta"):
        get_writer("delta").write_batch(df, WriteOptions(path=str(tmp_path / "d")))


def test_iceberg_gated(spark, tmp_path):
    from lakehouse_ingestion_spark.sinks.iceberg import iceberg_available

    if iceberg_available(spark):
        pytest.skip("iceberg runtime present; gate not exercised")
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(UnsupportedFeatureError, match="iceberg"):
        get_writer("iceberg").write_batch(df, WriteOptions(table="ns.t"))


class _RecordingWriterV2:
    """Stands in for ``DataFrame.writeTo(table)``: records every builder
    call instead of talking to a catalog."""

    def __init__(self, calls, table):
        self.calls = calls
        calls.append(("writeTo", table))

    def options(self, **kw):
        self.calls.append(("options", kw))
        return self

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", cols))
        return self

    def __getattr__(self, terminal):  # append / create / createOrReplace
        return lambda: self.calls.append((terminal,))


class _FakeSpark:
    def __init__(self, exists):
        self.exists = exists
        self.catalog = self

    def sql(self, _stmt):
        return None

    def tableExists(self, _table):
        return self.exists


class _FakeFrame:
    def __init__(self, exists):
        self.sparkSession = _FakeSpark(exists)
        self.calls = []

    def writeTo(self, table):
        return _RecordingWriterV2(self.calls, table)


@pytest.mark.parametrize(
    "mode, exists, terminal, partitioned",
    [
        ("append", False, "create", True),
        ("overwrite", True, "createOrReplace", True),
        ("append", True, "append", False),
    ],
)
def test_iceberg_forwards_partitioning_and_options(
    monkeypatch, mode, exists, terminal, partitioned
):
    """The target's options reach the writeTo builder, and partition_by
    partitions the table wherever the write defines it (create /
    createOrReplace); an append to an existing table keeps its spec."""
    import lakehouse_ingestion_spark.sinks.iceberg as ice

    monkeypatch.setattr(ice, "iceberg_available", lambda _spark: True)
    df = _FakeFrame(exists)
    opts = WriteOptions.from_target(
        {"table": "ns.t", "mode": mode, "partition_by": ["d"],
         "write.format.default": "orc"}
    )
    get_writer("iceberg").write_batch(df, opts)
    want = [("writeTo", "ns.t"), ("options", {"write.format.default": "orc"})]
    if partitioned:
        want.append(("partitionedBy", ("d",)))
    want.append((terminal,))
    assert df.calls == want
