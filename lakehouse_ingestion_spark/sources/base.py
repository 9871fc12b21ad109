"""Reader abstraction + registry.

Parity with reference ``io/BaseReader.scala:24-28`` (read(spark, options,
schema) -> DataFrame, batch or streaming decided by options) and the
type-dispatch factory in ``core/IngestionRunner.scala:98-116`` (which only
knows 'kafka'; here the registry covers the declared source matrix D1-D3).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from lakehouse_ingestion_spark.errors import ConfigError, UnsupportedFeatureError

_READERS: dict[str, type] = {}


def register_reader(name: str):
    def deco(cls):
        _READERS[name.lower()] = cls
        for alias in getattr(cls, "aliases", []):
            _READERS[alias.lower()] = cls
        return cls

    return deco


def validate_source_type(source_type: str) -> None:
    """Load-time check: a source type no reader registers raises
    ConfigError naming the known types."""
    if str(source_type).lower() not in _READERS:
        raise ConfigError(
            f"unknown source type {source_type!r}; known: {sorted(_READERS)}"
        )


def get_reader(source_type: str) -> "BaseReader":
    cls = _READERS.get(source_type.lower())
    if cls is None:
        raise UnsupportedFeatureError(
            f"no reader for source type '{source_type}'; known: {sorted(_READERS)}"
        )
    return cls()


class BaseReader:
    aliases: list[str] = []

    def read(
        self,
        spark: SparkSession,
        options: dict,
        schema: Optional[StructType] = None,
    ) -> DataFrame:
        raise NotImplementedError
