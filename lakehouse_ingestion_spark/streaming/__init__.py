from lakehouse_ingestion_spark.streaming.manager import StreamManager  # noqa: F401
from lakehouse_ingestion_spark.streaming.foreach_batch import dq_epoch  # noqa: F401
