"""Parquet sink — batch (reference ``io/S3ParquetWriter.scala:19-41``);
streaming jobs reach it once per micro-batch through ``foreachBatch``.

Works against any Hadoop-FS path (local, s3a://, ...). Partitioned writes
(reference D18) via ``partitionBy`` behind a ``rebalance`` hint on those
columns: AQE packs a small batch into one file per partition value, and
splits a skewed value across tasks (``optimizeSkewsInRebalancePartitions``).
"""

from __future__ import annotations

from lakehouse_ingestion_spark.sinks.base import sink


@sink("parquet")
@sink("s3-parquet")
@sink("file")
@sink("files")
def _parquet(
    df, opts, *, format="parquet", bucket_by=None, num_buckets=8,  # noqa: A002
    sort_by=None, **options,
):
    if opts.partition_by:
        df = df.hint("rebalance", *opts.partition_by)
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
