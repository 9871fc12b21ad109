"""E2E over the shipped registry schemas (schemas_registry/) and example
configs (configs/): metadata-derived DQ, partitioned writes, Debezium
envelope decode."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
import yaml
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.config import load_config
from lakehouse_ingestion_spark.pipeline import Pipeline
from lakehouse_ingestion_spark.schema_registry import SchemaRegistry

ROOT = Path(__file__).resolve().parents[1]
REGISTRY = str(ROOT / "schemas_registry")


def test_shipped_schemas_load():
    reg = SchemaRegistry(REGISTRY)
    pay = reg.get_schema("payments", "transactions", "v1")
    assert pay["amount"].dataType.simpleString() == "decimal(10,2)"
    assert pay["currency"].metadata["allowed_values"] == ["USD", "EUR", "GBP", "JPY"]
    cdc = reg.get_schema("music_school", "cdc", "latest")
    assert cdc["source"].dataType["lsn"].dataType.simpleString() == "bigint"
    assert reg.latest_version("clickstream", "user_events") == "v1"


def test_payments_config_end_to_end(spark, tmp_path):
    rows = [
        # good
        {"transaction_id": "t1", "customer_id": "c1", "merchant_id": "m1",
         "amount": 10.50, "currency": "USD", "transaction_status": "completed",
         "payment_method": "credit_card", "transaction_time": "2024-01-01T10:00:00Z"},
        # bad: negative amount AND unknown currency
        {"transaction_id": "t2", "customer_id": "c2", "merchant_id": "m2",
         "amount": -5.00, "currency": "XXX", "transaction_status": "completed",
         "payment_method": "credit_card", "transaction_time": "2024-01-01T11:00:00Z"},
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "batch1.jsonl").write_text("\n".join(json.dumps(r) for r in rows))

    raw = yaml.safe_load(open(ROOT / "configs" / "payments-batch.yaml"))
    job = raw["jobs"][0]
    job["source"]["options"]["path"] = str(src)
    job["data_quality"]["quarantine_path"] = str(tmp_path / "quarantine")
    job["target"]["options"]["path"] = str(tmp_path / "bronze")
    raw["schema_registry_path"] = REGISTRY
    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(raw))

    results = Pipeline(spark, load_config(cfg_path)).run()
    assert results[0].rows_written == 1

    good = spark.read.parquet(str(tmp_path / "bronze"))
    assert good.count() == 1
    assert good.select("transaction_date").collect()[0][0] is not None
    # partitioned layout on the derived column
    assert any(
        p.name.startswith("transaction_date=")
        for p in (tmp_path / "bronze").iterdir()
        if p.is_dir()
    )

    bad = spark.read.parquet(str(tmp_path / "quarantine")).collect()
    assert len(bad) == 1 and bad[0].transaction_id == "t2"
    # both schema-derived checks flagged the row
    assert "range[amount]" in bad[0]._dq_failures
    assert "in_set[currency]" in bad[0]._dq_failures


def test_debezium_decode_with_shipped_schema(spark):
    from lakehouse_ingestion_spark.operators.cdc import parse_debezium
    from lakehouse_ingestion_spark.sources.kafka import decode_json_value

    reg = SchemaRegistry(REGISTRY)
    cdc_schema = reg.get_schema("music_school", "cdc", "v1")
    row_schema = "id LONG, name STRING"

    envelope = {
        "op": "u", "ts_ms": 1700000000123,
        "before": json.dumps({"id": 1, "name": "old"}),
        "after": json.dumps({"id": 1, "name": "new"}),
        "source": {"db": "music", "schema": "public", "table": "students",
                   "lsn": 42, "txId": 7},
    }
    raw = spark.createDataFrame([(json.dumps(envelope),)], "value string")
    decoded = decode_json_value(raw, cdc_schema)
    assert decoded.select("source.lsn").collect()[0][0] == 42

    applied = parse_debezium(decoded, row_schema)
    got = applied.select("__row.id", "__row.name", "op").collect()[0]
    assert (got.id, got.name, got.op) == (1, "new", "u")


def test_pii_mask_from_registry_metadata(spark):
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.operators.pii import (
        REDACTED,
        mask_pii,
        pii_columns,
    )

    reg = SchemaRegistry(REGISTRY)
    schema = reg.get_schema("payments", "transactions", "v1")
    assert pii_columns(schema) == ["customer_id"]

    df = spark.createDataFrame(
        [("t1", "c1", 10.0), ("t2", "c1", 20.0), ("t3", None, 30.0)],
        "transaction_id string, customer_id string, amount double",
    )
    hashed = mask_pii(df, schema, strategy="hash", salt="s1").collect()
    vals = {r.transaction_id: r.customer_id for r in hashed}
    assert vals["t3"] is None
    assert vals["t1"] == vals["t2"]          # joinability preserved
    assert vals["t1"] != "c1" and len(vals["t1"]) == 64
    # different salt -> different pseudonyms
    other = mask_pii(df, schema, strategy="hash", salt="s2").collect()
    assert {r.customer_id for r in other if r.customer_id} != {vals["t1"]}

    red = mask_pii(df, schema, strategy="redact").collect()
    assert {r.customer_id for r in red} == {REDACTED, None}

    nulled = mask_pii(df, schema, strategy="null").collect()
    assert all(r.customer_id is None for r in nulled)
    # untouched columns survive every strategy
    assert sorted(r.amount for r in nulled) == [10.0, 20.0, 30.0]

    import pytest as _pytest

    with _pytest.raises(ConfigError):
        mask_pii(df, schema, strategy="rot13")

    # explicit empty override means "mask nothing" — must not fall back
    # to the schema-flagged list
    untouched = mask_pii(df, schema, strategy="redact", columns=[]).collect()
    assert {r.customer_id for r in untouched} == {"c1", None}
