"""Pipeline spec: YAML/JSON -> typed dataclasses, with eager validation.

Parity with reference ``config/ConfigModels.scala:41-57`` (PipelineConfig
-> jobs; each job = source + target + schema ref + DQ policy) and
``config/ConfigLoader.scala:29-100`` (parse then eagerly verify every
referenced schema exists before any Spark work).

Extensions beyond the reference model (declared capabilities the config
must drive): per-job transform chain (dedup / cdc_apply / scd2 / enrich /
aggregate / conform — SURVEY.md D5-D13) and a real DQ block with derived
checks.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import yaml

from lakehouse_ingestion_spark.dq.ruleset import OnFailPolicy
from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.schema_registry import SchemaRegistry


@dataclass
class SchemaRef:
    domain: str
    dataset: str
    version: str = "latest"


@dataclass
class SourceConfig:
    type: str  # kafka | file | csv | json | parquet | avro | jdbc
    options: dict = field(default_factory=dict)


@dataclass
class TargetConfig:
    format: str  # parquet | delta | iceberg
    options: dict = field(default_factory=dict)  # path/table/mode/partition_by/...


@dataclass
class DQConfig:
    on_fail: OnFailPolicy = OnFailPolicy.LOG_ONLY
    checks: list[dict] = field(default_factory=list)  # explicit check specs
    derive_from_schema: bool = True
    quarantine_path: str | None = None
    failure_threshold: float = 0.0


@dataclass
class TransformConfig:
    op: str  # dedup | cdc_apply | scd2 | enrich | aggregate | conform | sql | ...
    options: dict = field(default_factory=dict)


@dataclass
class JobConfig:
    name: str
    source: SourceConfig
    target: TargetConfig
    schema: SchemaRef | None = None
    layer: str = "bronze"  # bronze | silver | gold (MedallionLayer parity)
    source_system: str = "unknown"
    transforms: list[TransformConfig] = field(default_factory=list)
    data_quality: DQConfig | None = None


@dataclass
class PipelineConfig:
    env: str
    jobs: list[JobConfig]
    schema_registry_path: str | None = None


def load_config(path: str | Path, schema_registry: SchemaRegistry | None = None) -> PipelineConfig:
    """Parse + validate a pipeline spec file (.yaml/.yml/.json/.conf).

    ``.conf`` files are HOCON — the reference's native config format
    (``configs/cdc-postgres-to-delta.conf``), parsed by the dependency-free
    subset parser in ``hocon.py``."""
    p = Path(path)
    if not p.is_file():
        raise ConfigError(f"config file not found: {p}")
    try:
        if p.suffix == ".json":
            raw = json.loads(p.read_text())
        elif p.suffix == ".conf":
            from lakehouse_ingestion_spark.hocon import parse_hocon

            raw = parse_hocon(p.read_text())
        else:
            raw = yaml.safe_load(p.read_text())
    except ConfigError:
        raise
    except Exception as e:
        raise ConfigError(f"failed to parse {p}: {e}") from e
    return parse_config(raw, schema_registry)


def parse_config(raw: dict, schema_registry: SchemaRegistry | None = None) -> PipelineConfig:
    if not isinstance(raw, dict) or "jobs" not in raw:
        raise ConfigError("pipeline config must be a mapping with a 'jobs' list")
    if not isinstance(raw["jobs"], list):
        raise ConfigError(
            f"'jobs' must be a list, got {type(raw['jobs']).__name__} "
            "(a bare 'jobs:' key in YAML parses as null)"
        )
    jobs = []
    for i, j in enumerate(raw["jobs"]):
        try:
            jobs.append(_parse_job(j))
        except ConfigError:
            raise
        except Exception as e:
            raise ConfigError(f"job[{i}] invalid: {e}") from e
    cfg = PipelineConfig(
        env=raw.get("env", "dev"),
        jobs=jobs,
        schema_registry_path=raw.get("schema_registry_path"),
    )
    # eager option-schema validation (r11 verdict task #5: the budgets:/p:
    # flattening bug showed unknown options can silently select the WRONG
    # sink behavior — fail loudly at load, before any Spark work)
    import lakehouse_ingestion_spark.sinks  # noqa: F401  (registers writers)
    from lakehouse_ingestion_spark.pipeline import (
        validate_check_spec,
        validate_transform_options,
    )
    from lakehouse_ingestion_spark.sinks.base import validate_writer_options
    from lakehouse_ingestion_spark.sources.base import (  # package registers readers
        validate_source_type,
    )

    for job in cfg.jobs:
        try:
            validate_source_type(job.source.type)
            validate_writer_options(job.target.format, job.target.options)
            for t in job.transforms:
                validate_transform_options(t.op, t.options)
            if job.data_quality is not None:
                for spec in job.data_quality.checks:
                    validate_check_spec(spec)
        except ConfigError as e:
            raise ConfigError(f"job '{job.name}': {e}") from None
    # eager schema validation (ConfigLoader.scala:69-100 parity)
    registry = schema_registry or (
        SchemaRegistry(cfg.schema_registry_path) if cfg.schema_registry_path else None
    )
    if registry is not None:
        for job in cfg.jobs:
            if job.schema is not None and not registry.schema_exists(
                job.schema.domain, job.schema.dataset, job.schema.version
            ):
                raise ConfigError(
                    f"job '{job.name}' references missing schema "
                    f"{job.schema.domain}/{job.schema.dataset}/{job.schema.version}"
                )
    return cfg


def _normalize_reference_job(j: dict) -> dict:
    """Accept the reference's HOCON job shape
    (``configs/cdc-postgres-to-delta.conf``: domain/dataset instead of
    name, ``target.lakehouse_format``/``table``/``layer``,
    ``schema.registry_domain``/``registry_dataset``) by rewriting it to
    the canonical shape. Canonical keys always win; this only fills
    gaps."""
    j = dict(j)
    if "name" not in j and ("domain" in j or "dataset" in j):
        j["name"] = "_".join(
            str(j[k]) for k in ("domain", "dataset") if k in j
        )
    tgt = j.get("target")
    if isinstance(tgt, dict) and "format" not in tgt and "lakehouse_format" in tgt:
        tgt = dict(tgt)
        fmt = tgt.pop("lakehouse_format")
        if "layer" in tgt and "layer" not in j:
            j["layer"] = tgt.pop("layer")
        opts = dict(tgt.pop("options", {}))
        if "partitions" in tgt:
            # reference `partitions = [..]` is the canonical partition_by;
            # leaving it as an opaque writer option would silently drop
            # the partitioning
            opts.setdefault("partition_by", tgt.pop("partitions"))
        if "table" in tgt:
            t = str(tgt["table"])
            # the reference's `table` often holds a storage LOCATION
            # (s3a://.../bronze/...), not a catalog identifier; routing a
            # URI to saveAsTable() crashes at first write
            key = "path" if ("://" in t or t.startswith("/")) else "table"
            opts.setdefault(key, tgt.pop("table"))
        if "catalog" in tgt:
            opts.setdefault("catalog", tgt.pop("catalog"))
        opts.update(tgt)
        j["target"] = {"format": fmt, "options": opts}
    sch = j.get("schema")
    if isinstance(sch, dict) and "domain" not in sch and "registry_domain" in sch:
        j["schema"] = {
            "domain": sch["registry_domain"],
            "dataset": sch.get("registry_dataset", sch.get("dataset")),
            "version": sch.get("version", "latest"),
        }
    # HOCON dotted keys (kafka.security.protocol, delta.appendOnly) parse
    # as nested objects; Spark option maps want them flat again on the
    # source and target sides. Transform entries stay nested: their
    # mapping-valued options (winnow, fractions, ...) are mappings, and
    # the transform registry rebuilds any dotted YAML spelling of them
    from lakehouse_ingestion_spark.hocon import flatten_keys

    for side in ("source", "target"):
        node = j.get(side)
        if isinstance(node, dict) and isinstance(node.get("options"), dict):
            node = dict(node)
            node["options"] = flatten_keys(node["options"])
            j[side] = node
    return j


def _parse_job(j: dict) -> JobConfig:
    j = _normalize_reference_job(j)
    for req in ("name", "source", "target"):
        if req not in j:
            raise ConfigError(f"job missing required key '{req}'")
    src = j["source"]
    tgt = j["target"]
    schema = None
    if "schema" in j:
        s = j["schema"]
        schema = SchemaRef(s["domain"], s["dataset"], s.get("version", "latest"))
    dq = None
    if "data_quality" in j:
        d = j["data_quality"]
        dq = DQConfig(
            on_fail=OnFailPolicy(d.get("on_fail", "LOG_ONLY").upper()),
            checks=d.get("checks", []),
            derive_from_schema=d.get("derive_from_schema", True),
            quarantine_path=d.get("quarantine_path"),
            failure_threshold=float(d.get("failure_threshold", 0.0)),
        )
    transforms = [
        TransformConfig(op=t["op"], options={k: v for k, v in t.items() if k != "op"})
        for t in j.get("transforms", [])
    ]
    return JobConfig(
        name=j["name"],
        source=SourceConfig(type=src["type"], options=src.get("options", {})),
        target=TargetConfig(format=tgt["format"], options=tgt.get("options", {})),
        schema=schema,
        layer=j.get("layer", "bronze"),
        source_system=j.get("source_system", "unknown"),
        transforms=transforms,
        data_quality=dq,
    )
