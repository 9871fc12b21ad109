"""Pipeline runner: compile a JobConfig into a DataFrame program and run it.

Parity with reference ``core/IngestionJob.scala:31-163`` (resolve schema ->
read -> validate -> DQ -> write) and ``core/IngestionRunner.scala`` (factory
dispatch + sequential jobs), with the SURVEY-mandated fixes:

- streaming jobs run schema validation + DQ per micro-batch via
  foreachBatch instead of skipping them (reference skips: ``IngestionJob
  .scala:73,87,123-125``);
- streaming queries are returned/managed, not awaited inside the writer;
- QUARANTINE policy actually routes rows (reference stub logs only).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.config import JobConfig, PipelineConfig
from lakehouse_ingestion_spark.dq import checks_from_schema
from lakehouse_ingestion_spark.dq.checks import (
    DriftCheck,
    FreshnessCheck,
    NotNullCheck,
    RangeCheck,
    RegexCheck,
    RowCountCheck,
    SetMembershipCheck,
    UniqueKeyCheck,
)
from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet, OnFailPolicy
from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators import add_audit_columns
from lakehouse_ingestion_spark.registry import Registry
from lakehouse_ingestion_spark.schema_registry import SchemaRegistry
from lakehouse_ingestion_spark.schema_validator import validate_or_throw
from lakehouse_ingestion_spark.sinks.base import WriteOptions, get_writer
from lakehouse_ingestion_spark.sources.base import get_reader
from lakehouse_ingestion_spark.streaming.foreach_batch import dq_foreach_batch
from lakehouse_ingestion_spark.streaming.manager import StreamManager
from lakehouse_ingestion_spark.transforms import (  # noqa: F401  (public API)
    apply_transform,
    validate_transform_options,
)

log = logging.getLogger(__name__)

# DQ check types: one builder each, keyword-only parameters = spec keys
# (registry.py); ``drift`` takes the session as context for profile_path
CHECKS = Registry("DQ check", "type", context=("spark",))
check = CHECKS.register


@check("not_null")
def _not_null(*, column, failure_threshold=0.0):
    return NotNullCheck(column=column, failure_threshold=failure_threshold)


@check("range")
def _range(*, column, min=None, max=None, failure_threshold=0.0):  # noqa: A002
    return RangeCheck(
        column=column, min_value=min, max_value=max,
        failure_threshold=failure_threshold,
    )


@check("regex")
def _regex(*, column, pattern, failure_threshold=0.0):
    return RegexCheck(
        column=column, pattern=pattern, failure_threshold=failure_threshold
    )


@check("unique_key")
def _unique_key(*, columns, failure_threshold=0.0):
    return UniqueKeyCheck(
        key_columns=list(columns), failure_threshold=failure_threshold
    )


@check("row_count")
def _row_count(*, min_rows=None, max_rows=None):
    return RowCountCheck(min_rows=min_rows, max_rows=max_rows)


@check("in_set")
def _in_set(*, column, values, failure_threshold=0.0):
    return SetMembershipCheck(
        column=column, allowed_values=list(values),
        failure_threshold=failure_threshold,
    )


@check("freshness")
def _freshness(*, column, max_age_hours=None, failure_threshold=0.0):
    return FreshnessCheck(
        column=column, max_age_hours=max_age_hours,
        failure_threshold=failure_threshold,
    )


@check("drift")
def _drift(
    spark, *, column, ref_mean=None, ref_std=None, max_sigmas=3.0,
    ref_null_fraction=None, max_null_fraction_delta=None, profile_path=None,
    profile_column=None,
):
    """Reference moments are explicit, or come from a STORED profile
    (the ``operators/profile.numeric_profile`` output at
    ``profile_path``) so the gate deploys without hand-carried
    constants; the stored null_fraction is used unless overridden."""
    if profile_path is not None:
        if ref_mean is not None or ref_std is not None:
            raise ConfigError(
                "drift check: give profile_path OR explicit ref_mean/ref_std,"
                " not both"
            )
        if spark is None:
            raise ConfigError(
                "drift check with profile_path needs a SparkSession "
                "(build_ruleset(..., spark=...))"
            )
        col = column if profile_column is None else profile_column
        rows = {
            r["col_name"]: r for r in spark.read.parquet(profile_path).collect()
        }
        if col not in rows:
            raise ConfigError(
                f"profile at {profile_path!r} has no row for column {col!r} "
                f"(profiled: {sorted(rows)})"
            )
        r = rows[col]
        if r["mean"] is None or r["std"] is None:
            raise ConfigError(
                f"profile row for {col!r} has no mean/std (empty or all-null"
                " reference slice) — cannot gate drift against it"
            )
        ref_mean, ref_std = r["mean"], r["std"]
        if ref_null_fraction is None and r["null_fraction"] is not None:
            ref_null_fraction = float(r["null_fraction"])
    elif ref_mean is None or ref_std is None:
        raise ConfigError(
            "drift check requires ref_mean and ref_std, or profile_path"
        )
    return DriftCheck(
        column=column, ref_mean=float(ref_mean), ref_std=float(ref_std),
        max_sigmas=float(max_sigmas), ref_null_fraction=ref_null_fraction,
        max_null_fraction_delta=max_null_fraction_delta,
    )


def _check_options(spec: dict) -> dict:
    return {k: v for k, v in spec.items() if k != "type"}


def validate_check_spec(spec: dict) -> None:
    """Load-time schema check for one DQ check spec dict."""
    CHECKS.bind(spec.get("type"), _check_options(spec))


def build_check(spec: dict, spark=None):
    """One DQ check from its spec (``type`` plus that type's keys)."""
    return CHECKS.call(spec.get("type"), _check_options(spec), spark=spark)


def build_ruleset(job: JobConfig, schema, spark=None) -> DQRuleSet:
    checks = []
    dq = job.data_quality
    if dq is None:
        return DQRuleSet([])
    if dq.derive_from_schema and schema is not None:
        checks.extend(checks_from_schema(schema, failure_threshold=dq.failure_threshold))
    checks.extend(build_check(spec, spark) for spec in dq.checks)
    return DQRuleSet(checks)


@dataclass
class JobResult:
    name: str
    streaming: bool
    rows_written: int | None = None
    dq_summary: object | None = None
    query: object | None = None  # StreamingQuery when streaming


@dataclass
class Pipeline:
    spark: SparkSession
    config: PipelineConfig
    registry: SchemaRegistry | None = None
    stream_manager: StreamManager | None = None
    results: list[JobResult] = dc_field(default_factory=list)

    def __post_init__(self):
        if self.registry is None and self.config.schema_registry_path:
            self.registry = SchemaRegistry(self.config.schema_registry_path)
        if self.stream_manager is None:
            self.stream_manager = StreamManager(self.spark)

    def run(self) -> list[JobResult]:
        for job in self.config.jobs:
            self.results.append(self.run_job(job))
        return self.results

    def run_job(self, job: JobConfig) -> JobResult:
        schema = None
        if job.schema is not None:
            if self.registry is None:
                raise ConfigError("job references a schema but no registry configured")
            schema = self.registry.get_schema(
                job.schema.domain, job.schema.dataset, job.schema.version
            )

        reader = get_reader(job.source.type)
        df = reader.read(self.spark, job.source.options, schema)
        df = add_audit_columns(
            df, job.source_system, kafka_metadata=(job.source.type.lower() == "kafka")
        )
        for t in job.transforms:
            df = apply_transform(df, t.op, t.options, schema=schema)

        writer = get_writer(job.target.format)
        opts = self._write_options(job)
        ruleset = build_ruleset(job, schema, spark=self.spark)
        policy = job.data_quality.on_fail if job.data_quality else OnFailPolicy.LOG_ONLY

        if df.isStreaming:
            return self._run_streaming(job, df, schema, ruleset, policy, writer, opts)

        if schema is not None:
            # audit columns stay in: schemas that declare the system
            # columns validate them; schemas that don't see extra-column
            # warnings only (SchemaValidator treats extras as warnings)
            validate_or_throw(df, schema, context=f"job={job.name}")
        summary = None
        persisted = None
        if ruleset.checks:
            if policy is OnFailPolicy.QUARANTINE:
                # QUARANTINE runs three actions over df (metrics agg, bad
                # write, good write); pin the input so a non-deterministic
                # source (JDBC, changing files) can't route a row into
                # both outputs or neither
                persisted = df = df.persist()
            df, summary = ruleset.enforce(df, policy, quarantine_writer=self._quarantine_writer(job))
        # row count rides the write action via observe() — no extra scan
        from lakehouse_ingestion_spark.metrics import ObservedMetrics

        obs = ObservedMetrics.attach(
            df, f"write:{job.name}", {"rows": F.count(F.lit(1))}
        )
        try:
            writer.write_batch(obs.df, opts)
        finally:
            if persisted is not None:
                persisted.unpersist()
        rows = int(obs.get().get("rows", 0))
        return JobResult(job.name, streaming=False, rows_written=rows, dq_summary=summary)

    # -- helpers ------------------------------------------------------------
    def _write_options(self, job: JobConfig) -> WriteOptions:
        return WriteOptions.from_target(
            job.target.options,
            # reference default shape
            checkpoint_location=f"/tmp/checkpoints/{job.layer}/{job.name}",
        )

    def _quarantine_writer(self, job: JobConfig):
        dq = job.data_quality
        if dq is None or not dq.quarantine_path:
            return None

        def _write(bad: DataFrame) -> None:
            bad.write.mode("append").parquet(dq.quarantine_path)

        return _write

    def _run_streaming(self, job, df, schema, ruleset, policy, writer, opts) -> JobResult:
        if opts.mode == "overwrite":
            raise ConfigError(
                f"job '{job.name}': a streaming job cannot write with "
                "mode: overwrite (each micro-batch would replace the last);"
                " use mode: append"
            )

        def sink(batch: DataFrame, epoch: int) -> None:
            if schema is not None:
                validate_or_throw(
                    batch, schema, context=f"job={job.name} epoch={epoch}"
                )
            # epoch-keyed sinks (fanout, budget_admit, ...) key idempotent
            # per-epoch writes off the stream's batch id
            writer.write_epoch_batch(batch, opts, epoch)

        if ruleset.checks:
            q_writer = self._quarantine_writer(job)
            # the DQ path must still go through `sink` (schema validation
            # per micro-batch), not straight to the writer
            fn = dq_foreach_batch(
                ruleset,
                policy,
                sink=sink,
                quarantine_sink=(lambda b, e: q_writer(b)) if q_writer else None,
            )
        else:
            fn = sink
        stream = (
            df.writeStream.foreachBatch(fn)
            .option("checkpointLocation", opts.checkpoint_location)
        )
        if opts.trigger_interval == "availableNow":
            stream = stream.trigger(availableNow=True)
        else:
            stream = stream.trigger(processingTime=opts.trigger_interval)
        query = stream.start()
        self.stream_manager.register(query)
        return JobResult(job.name, streaming=True, query=query)
