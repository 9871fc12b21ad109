from lakehouse_ingestion_spark.sinks.base import SINKS, WriteOptions, get_writer  # noqa: F401

# importing a sink module registers its format builders in SINKS
from lakehouse_ingestion_spark.sinks import (  # noqa: F401
    ann_index,
    budget,
    contamination,
    curation,
    export,
    fanout,
    parquet,
)
from lakehouse_ingestion_spark.sinks.delta import DELTA_AVAILABLE, merge_upsert  # noqa: F401
from lakehouse_ingestion_spark.sinks.iceberg import iceberg_available  # noqa: F401
