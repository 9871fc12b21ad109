"""Delta Lake sink (reference ``lakehouse/DeltaLakeWriter.scala:46-168``).

delta-spark is not bundled in this test container, so everything gates on
import: when available, writes (batch jobs and streaming micro-batches)
and real ``MERGE`` upserts (:func:`merge_upsert`) route to Delta;
otherwise UnsupportedFeatureError (callers fall back to the parquet sink
+ DataFrame-algebra merge in operators/merge.py, which preserves
semantics without the format).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_ingestion_spark.errors import UnsupportedFeatureError
from lakehouse_ingestion_spark.sinks.base import sink

try:  # pragma: no cover - environment-dependent
    from delta.tables import DeltaTable  # type: ignore

    DELTA_AVAILABLE = True
except Exception:  # ImportError or missing jars
    DeltaTable = None
    DELTA_AVAILABLE = False


def _require_delta():
    if not DELTA_AVAILABLE:
        raise UnsupportedFeatureError(
            "delta-spark is not installed in this environment; "
            "use the parquet sink + operators.merge for merge semantics"
        )


@sink("delta")
@sink("deltalake")
def _delta(df, opts, **options):
    _require_delta()
    w = df.write.format("delta").mode(opts.mode)
    if opts.partition_by:
        w = w.partitionBy(*opts.partition_by)
    for k, v in options.items():
        w = w.option(k, v)
    # path-vs-catalog dispatch, reference DeltaLakeWriter.scala:117-127
    if opts.path:
        w.save(opts.path)
    else:
        w.saveAsTable(opts.table)


# -- merge (SURVEY.md D6): real Delta MERGE when available -----------------
def merge_upsert(
    spark: SparkSession,
    target_path_or_table: str,
    source: DataFrame,
    key_columns: list[str],
    is_path: bool = True,
    delete_condition: str | None = None,
) -> None:
    _require_delta()
    tgt = (
        DeltaTable.forPath(spark, target_path_or_table)
        if is_path
        else DeltaTable.forName(spark, target_path_or_table)
    )
    cond = " AND ".join(f"t.{k} = s.{k}" for k in key_columns)
    m = tgt.alias("t").merge(source.alias("s"), cond)
    if delete_condition:
        # whenMatchedDelete only fires for MATCHED rows; an unmatched
        # delete-marked source row (out-of-order CDC delete) must not
        # be resurrected by the insert clause — gate the insert too,
        # matching the algebra twin (operators/merge.upsert filters
        # delete rows out of the source entirely)
        m = m.whenMatchedDelete(condition=delete_condition)
        m = m.whenMatchedUpdateAll().whenNotMatchedInsertAll(
            condition=f"NOT ({delete_condition})"
        )
    else:
        m = m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
    m.execute()
