"""Sink registry: one builder per target format.

Parity with reference writer dispatch (``core/IngestionRunner.scala:
98-116``: parquet/s3-parquet | iceberg | delta/deltalake) and the write
surface of ``io/S3ParquetWriter.scala`` / ``lakehouse/DeltaLakeWriter
.scala`` / ``lakehouse/IcebergAppendWriter.scala``: batch append/
overwrite, optional partition columns.

Each format is ONE ``@sink`` builder (``registry.py``): its keyword-only
parameters are the format's own option keys, and its positional
parameters name the context it needs — ``df``, ``opts`` (the
:class:`WriteOptions`), ``epoch`` and ``force``. The open-surface sinks
(parquet/delta/iceberg) take ``**options`` and forward them to Spark.
An alias is one more stacked ``@sink`` line.

Streaming jobs never reach a ``writeStream`` sink: the pipeline drives
every format per micro-batch through ``foreachBatch``
(``write_epoch_batch``), after schema validation and DQ.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields
from typing import Optional

from pyspark.sql import DataFrame

from lakehouse_ingestion_spark.errors import ConfigError, UnsupportedFeatureError
from lakehouse_ingestion_spark.registry import Registry

SINKS = Registry("sink", "format", context=("df", "opts", "epoch", "force"))
sink = SINKS.register


@dataclass
class WriteOptions:
    """What the pipeline hands a sink. Every field but ``options`` is a
    carrier key: legal in any target's options, read here, never seen by
    the sink's builder; ``options`` holds the rest."""

    path: Optional[str] = None
    table: Optional[str] = None
    mode: str = "append"  # append | overwrite (reference default: append)
    partition_by: list[str] = field(default_factory=list)
    checkpoint_location: Optional[str] = None
    trigger_interval: str = "30 seconds"  # reference default, DeltaLakeWriter.scala:62
    run_epoch: int = 0  # the epoch a batch write lands as (epoch-keyed sinks)
    options: dict = field(default_factory=dict)

    def __post_init__(self):
        self.partition_by = list(self.partition_by or [])

    @classmethod
    def from_target(cls, options: dict, **defaults) -> "WriteOptions":
        """Split a target's options into the carrier fields and the rest."""
        rest = dict(options)
        carried = {
            f.name: rest.pop(f.name)
            for f in fields(cls)
            if f.name != "options" and f.name in rest
        }
        return cls(**{**defaults, **carried}, options=rest)

    @property
    def target(self) -> str:
        t = self.path or self.table
        if not t:
            raise ValueError("write requires 'path' or 'table'")
        return t


class Writer:
    """The two entry points the pipeline calls on one registered format.
    A batch job is one epoch, ``opts.run_epoch``, written with
    ``force=True`` (a deliberate re-run replaces its epoch); a streaming
    micro-batch is the stream's epoch, with ``force=False`` (a redelivery
    the ledger already records is skipped)."""

    def __init__(self, fmt: str):
        self.fmt = fmt

    def write_batch(self, df: DataFrame, opts: WriteOptions) -> None:
        SINKS.call(self.fmt, opts.options, df=df, opts=opts,
                   epoch=int(opts.run_epoch), force=True)

    def write_epoch_batch(
        self, df: DataFrame, opts: WriteOptions, epoch: int
    ) -> None:
        SINKS.call(self.fmt, opts.options, df=df, opts=opts,
                   epoch=epoch, force=False)


def get_writer(fmt: str) -> Writer:
    if fmt.lower() not in SINKS:
        raise UnsupportedFeatureError(
            f"no writer for format '{fmt}'; known: {SINKS.names()}"
        )
    return Writer(fmt.lower())


def validate_writer_options(fmt: str, options: dict) -> None:
    """Load-time check of a target's options against its format's
    builder: unknown keys (closed-surface sinks) and missing required
    keys raise ConfigError naming the valid set. Formats not in the
    registry are left to fail at dispatch (UnsupportedFeatureError)."""
    if fmt.lower() not in SINKS:
        return
    try:
        SINKS.bind(fmt.lower(), WriteOptions.from_target(options).options)
    except ConfigError as e:
        carrier = [f.name for f in fields(WriteOptions) if f.name != "options"]
        raise ConfigError(f"{e} (plus {carrier})") from None
