"""Parquet sink — batch (reference ``io/S3ParquetWriter.scala:19-41``);
streaming jobs reach it once per micro-batch through ``foreachBatch``.

Works against any Hadoop-FS path (local, s3a://, ...). Partitioned writes
(reference D18) via ``partitionBy``; at scale pair with
``df.repartition(partition_cols)`` upstream if small-files pressure
matters (exposed as option ``repartitionByPartitionCols``).
"""

from __future__ import annotations

from lakehouse_ingestion_spark.sinks.base import sink


@sink("parquet")
@sink("s3-parquet")
@sink("file")
@sink("files")
def _parquet(
    df, opts, *, format="parquet", repartitionByPartitionCols="false",  # noqa: A002,N803
    bucket_by=None, num_buckets=8, sort_by=None, **options,
):
    if str(repartitionByPartitionCols).lower() == "true" and opts.partition_by:
        df = df.repartition(*opts.partition_by)
    w = df.write.format(format).mode(opts.mode)
    if opts.partition_by:
        w = w.partitionBy(*opts.partition_by)
    if bucket_by:
        # bucketed writes are catalog tables (co-located join support,
        # sinks/bucketed.py); bucket count shared across join partners
        cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        w = w.bucketBy(int(num_buckets), *cols)
        if sort_by:
            w = w.sortBy(*([sort_by] if isinstance(sort_by, str) else list(sort_by)))
        if not opts.table:
            raise ValueError("bucketed writes require 'table' (catalog), not 'path'")
    for k, v in options.items():
        w = w.option(k, v)
    if opts.path and not bucket_by:
        w.save(opts.path)
    else:
        w.saveAsTable(opts.table)
