"""Iceberg sink (reference ``lakehouse/IcebergAppendWriter.scala:29-82``).

Gated on the Iceberg runtime being on the Spark classpath (not bundled
with the engine): ``CREATE NAMESPACE IF NOT EXISTS`` + writeTo append,
for batch jobs and for each streaming micro-batch alike. The target's
options go to the ``writeTo`` builder; ``partition_by`` partitions the
table when the write creates (or replaces) it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from lakehouse_ingestion_spark.errors import UnsupportedFeatureError
from lakehouse_ingestion_spark.sinks.base import sink


def iceberg_available(spark: SparkSession) -> bool:
    # Class.forName, not bare _jvm attribute access: py4j package lookups
    # return a JavaPackage object without validating the class exists
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


@sink("iceberg")
def _iceberg(df, opts, **options):
    spark = df.sparkSession
    if not iceberg_available(spark):
        raise UnsupportedFeatureError("iceberg runtime not on the Spark classpath")
    table = opts.table
    if not table:
        raise ValueError("iceberg sink requires 'table'")
    ns = table.rsplit(".", 1)[0] if "." in table else None
    if ns:
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")
    writer = df.writeTo(table).options(**options)
    if opts.mode != "overwrite" and spark.catalog.tableExists(table):
        # no try/except fallback: swallowing a real append failure
        # (schema mismatch, commit conflict) and re-raising create()'s
        # "table already exists" would mask the root cause
        writer.append()
        return
    # partitioning is part of the table definition: set where it is made
    if opts.partition_by:
        writer = writer.partitionedBy(*opts.partition_by)
    if opts.mode == "overwrite":
        writer.createOrReplace()
    else:
        writer.create()
