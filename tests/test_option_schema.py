"""Load-time option-schema validation (r11 verdict task #5).

The r11 mapping-flattening bug (a flattened ``budgets:`` mapping fell
through to the wrong admission mode) showed an unrecognized option can
silently select the WRONG sink behavior.  Closed-surface sinks and every
transform op now declare their exact option keys; unknown or missing
required keys raise ConfigError at config load, naming the valid set —
no Spark work happens for a spec that can never run correctly.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import lakehouse_ingestion_spark.sinks  # noqa: F401  (registers writers)
from lakehouse_ingestion_spark.config import parse_config
from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.pipeline import validate_transform_options
from lakehouse_ingestion_spark.sinks.base import validate_writer_options


# --- budget_admit: the full quota/share x global/stratified matrix ------


def _budget_base(**extra):
    return {"path": "/tmp/x", "ledger_path": "/tmp/led", "score_col": "s", **extra}


@pytest.mark.parametrize(
    "opts",
    [
        _budget_base(cost_col="c", budget=100),  # quota, global
        _budget_base(  # quota, stratified (nested mapping)
            cost_col="c", strata_col="lang", budgets={"en": 5}, default_budget=1
        ),
        _budget_base(  # quota, stratified (dotted-flattened mapping)
            **{"cost_col": "c", "strata_col": "lang", "budgets.en": 5}
        ),
        _budget_base(p=0.5),  # share, global
        _budget_base(strata_col="lang", p={"en": 0.5}),  # share, stratified
        _budget_base(  # share, stratified, dotted
            **{"strata_col": "lang", "p.en": 0.5, "default_p": 0.1}
        ),
    ],
)
def test_budget_admit_matrix_valid_options_pass(opts):
    validate_writer_options("budget_admit", opts)


@pytest.mark.parametrize(
    "bad_key",
    [
        "bugdets.en",  # the r11 bug class: typo'd mapping prefix
        "strata_cols",  # plural typo
        "scorecol",
        "quota",
    ],
)
def test_budget_admit_unknown_key_rejected(bad_key):
    opts = _budget_base(cost_col="c", budget=100)
    opts[bad_key] = 1
    with pytest.raises(ConfigError, match="unknown option") as ei:
        validate_writer_options("budget_admit", opts)
    assert bad_key in str(ei.value)
    assert "budgets" in str(ei.value)  # the valid set is named


# --- other closed-surface sinks ------------------------------------------


def test_sticky_split_rejects_singular_fraction_typo():
    with pytest.raises(ConfigError, match="fraction.train"):
        validate_writer_options(
            "sticky_split",
            {
                "path": "/tmp/x",
                "state_dir": "/tmp/s",
                "threshold": 0.8,
                "fraction.train": 0.8,  # should be fractions.train
            },
        )
    # the real spelling passes, nested or dotted
    validate_writer_options(
        "sticky_split",
        {"path": "/tmp/x", "state_dir": "/tmp/s", "threshold": 0.8,
         "fractions": {"train": 0.8}},
    )
    validate_writer_options(
        "sticky_split",
        {"path": "/tmp/x", "state_dir": "/tmp/s", "threshold": 0.8,
         "fractions.train": 0.8},
    )


def test_shards_sink_rejects_unknown_key():
    with pytest.raises(ConfigError, match="max_records'"):
        validate_writer_options(
            "shards", {"path": "/tmp/x", "key_col": "doc_id", "max_records": 5}
        )
    validate_writer_options(
        "shards",
        {"path": "/tmp/x", "key_col": "doc_id", "max_records_per_file": 5},
    )


def test_fanout_sink_prefix_and_typo():
    ok = {"path": "/tmp/x", "ledger_path": "/tmp/led", "sinks.a.path": "/tmp/a"}
    validate_writer_options("fanout", ok)
    bad = {"path": "/tmp/x", "ledger_path": "/tmp/led", "sink.a.path": "/tmp/a"}
    with pytest.raises(ConfigError, match="unknown option"):
        validate_writer_options("fanout", bad)


def test_open_surface_sinks_accept_arbitrary_spark_options():
    # parquet/delta/iceberg forward options verbatim to the Spark writer
    # — any key is potentially meaningful, none can be rejected
    for fmt in ("parquet", "delta", "iceberg"):
        validate_writer_options(
            fmt, {"path": "/tmp/x", "compression": "zstd", "anything": 1}
        )


def test_unknown_format_left_to_dispatch():
    # unregistered formats keep failing at dispatch time
    # (UnsupportedFeatureError), not at option validation
    validate_writer_options("not_a_sink", {"whatever": 1})


_CLOSED_SINK_MODULES = (
    "ann_index", "budget", "contamination", "curation", "export", "fanout",
)


def _docstring_targets(module: str) -> list[dict]:
    import importlib
    import re

    import yaml

    doc = importlib.import_module(
        f"lakehouse_ingestion_spark.sinks.{module}"
    ).__doc__
    return [
        yaml.safe_load(block)["target"]
        for block in re.findall(r"```yaml\n(.*?)```", doc, re.S)
    ]


@pytest.mark.parametrize("module", _CLOSED_SINK_MODULES)
def test_sink_docstring_examples_parse(module):
    """Each closed-surface sink's module-docstring YAML examples (the
    sink's user docs) load through parse_config as written."""
    targets = _docstring_targets(module)
    assert targets
    for target in targets:
        # a job reads only target.format and target.options
        assert set(target) == {"format", "options"}, target
        raw = {"jobs": [{
            "name": "doc",
            "source": {"type": "parquet", "options": {"path": "/tmp/in"}},
            "target": target,
        }]}
        cfg = parse_config(raw)
        assert cfg.jobs[0].target.format == target["format"]


def test_closed_sink_modules_listed():
    from lakehouse_ingestion_spark.sinks.base import SINKS

    closed = {
        SINKS._entries[n].fn.__module__.rsplit(".", 1)[1]
        for n in SINKS.names()
        if not SINKS._entries[n].open
    }
    assert closed == set(_CLOSED_SINK_MODULES)


# --- sources --------------------------------------------------------------


def test_unknown_source_type_raises_at_load():
    """A misspelled source type fails in parse_config, naming the job and
    the registered types, not later in run_job."""
    raw = {"jobs": [{
        "name": "orders",
        "source": {"type": "kafak", "options": {}},
        "target": {"format": "parquet", "options": {"path": "/tmp/out"}},
    }]}
    with pytest.raises(ConfigError, match=r"job 'orders': unknown source type 'kafak'.*'kafka'"):
        parse_config(raw)
    raw["jobs"][0]["source"]["type"] = "Kafka"  # dispatch is case-insensitive
    assert parse_config(raw).jobs[0].source.type == "Kafka"


# --- transforms -----------------------------------------------------------


def test_transform_unknown_key_rejected():
    with pytest.raises(ConfigError, match="strata'") as ei:
        validate_transform_options(
            "top_p_select", {"strata": "lang", "score_col": "s", "p": 0.5}
        )
    assert "strata_col" in str(ei.value)
    validate_transform_options(
        "top_p_select", {"strata_col": "lang", "score_col": "s", "p": 0.5}
    )


def test_transform_unknown_op_rejected():
    with pytest.raises(ConfigError, match="unknown transform op"):
        validate_transform_options("not_an_op", {})


def test_transform_mapping_prefix_only_where_declared():
    # near_dup.* is legal on cluster-aware stages...
    validate_transform_options(
        "near_dup_drop", {"near_dup.threshold": 0.8, "id_col": "doc_id"}
    )
    # ...but not on ops that have no near_dup option
    with pytest.raises(ConfigError, match="unknown option"):
        validate_transform_options("chunk", {"near_dup.threshold": 0.8})


# --- end-to-end: parse_config is the enforcement point --------------------


def test_parse_config_rejects_bad_sink_option_at_load():
    raw = {
        "jobs": [
            {
                "name": "j",
                "source": {"type": "parquet", "options": {"path": "/tmp/in"}},
                "target": {
                    "format": "budget_admit",
                    "options": {
                        "path": "/tmp/out",
                        "ledger_path": "/tmp/led",
                        "score_col": "s",
                        "cost_col": "c",
                        "budgets.en": 5,  # stratified mapping...
                        "strata_cols": "lang",  # ...with a typo'd key
                    },
                },
            }
        ]
    }
    with pytest.raises(ConfigError, match="job 'j'.*strata_cols"):
        parse_config(raw)


@pytest.mark.parametrize(
    "fmt,options,missing",
    [
        ("sticky_split", {"threshold": 0.3, "fractions": {"train": 1.0}},
         "state_dir"),
        ("ann_index", {"id_col": "vec_id"}, "centroids_path"),
    ],
)
def test_parse_config_rejects_missing_sink_option_at_load(fmt, options, missing):
    raw = {
        "jobs": [
            {
                "name": "j",
                "source": {"type": "parquet", "options": {"path": "/tmp/in"}},
                "target": {"format": fmt,
                           "options": {"path": "/tmp/out", **options}},
            }
        ]
    }
    with pytest.raises(ConfigError, match=f"job 'j'.*missing.*{missing}"):
        parse_config(raw)


def test_parse_config_rejects_bad_transform_option_at_load():
    raw = {
        "jobs": [
            {
                "name": "j",
                "source": {"type": "parquet", "options": {"path": "/tmp/in"}},
                "transforms": [{"op": "hash_sample", "key": "doc_id",
                                "fractoin": 0.5}],
                "target": {"format": "parquet", "options": {"path": "/tmp/o"}},
            }
        ]
    }
    with pytest.raises(ConfigError, match="job 'j'.*fractoin"):
        parse_config(raw)


# --- DQ check specs --------------------------------------------------------


def test_check_spec_unknown_key_rejected():
    from lakehouse_ingestion_spark.pipeline import validate_check_spec

    validate_check_spec({"type": "range", "column": "amt", "min": 0})
    with pytest.raises(ConfigError, match="colunm") as ei:
        validate_check_spec({"type": "not_null", "colunm": "amt"})
    assert "column" in str(ei.value)
    with pytest.raises(ConfigError, match="unknown DQ check type"):
        validate_check_spec({"type": "nonnull", "column": "amt"})


def test_parse_config_rejects_bad_check_spec_at_load():
    raw = {
        "jobs": [
            {
                "name": "j",
                "source": {"type": "parquet", "options": {"path": "/tmp/in"}},
                "target": {"format": "parquet", "options": {"path": "/tmp/o"}},
                "data_quality": {
                    "on_fail": "LOG_ONLY",
                    "checks": [{"type": "range", "column": "amt", "mins": 0}],
                },
            }
        ]
    }
    with pytest.raises(ConfigError, match="job 'j'.*mins"):
        parse_config(raw)


def test_transform_required_key_rejected_at_load():
    # hash_sample has no default fraction: a spec without one must fail
    # at load naming the key, not with a KeyError mid-run
    with pytest.raises(ConfigError, match="fraction") as ei:
        validate_transform_options("hash_sample", {"key": "doc_id"})
    assert "missing" in str(ei.value)


def test_near_dup_drop_rejects_rep_col():
    # near_dup_drop drops rows; it never writes a representative column,
    # so rep_col would be silently ignored
    with pytest.raises(ConfigError, match="rep_col"):
        validate_transform_options("near_dup_drop", {"rep_col": "r"})
    validate_transform_options("cluster_reps", {"rep_col": "r"})


# --- shipped configs --------------------------------------------------------

_CONFIGS = Path(__file__).resolve().parent.parent / "configs"

# config file -> {job name: op chain}
_SHIPPED_OPS = {
    "cdc-stream.conf": {"music_school_cdc": []},
    "cdc-stream.yaml": {"cdc-bronze": []},
    "corpus-audit.yaml": {
        "eval-contamination-report": ["contamination_report"],
        "retrieval-probe": ["bm25_search"],
    },
    "curate-split-export.yaml": {
        "curate-split-export": [
            "quality_filter", "leakage_safe_split", "derive_column",
            "stratified_budget_select",
        ],
    },
    "curation-docs.yaml": {
        "curate-documents": [
            "quality_filter", "compress_filter", "line_dedup", "scrub_text",
            "lm_perplexity", "repetition_signals", "group_cap", "hash_split",
            "chunk",
        ],
    },
    "export-train.yaml": {
        "export-train-shards": [
            "html_extract", "dedup", "derive_column", "derive_column",
            "token_budget_select",
        ],
    },
    "fanout-stream.yaml": {"clickstream-fanout": []},
    "payments-batch.yaml": {"payments-bronze": ["derive_column"]},
    "share-admit-stream.yaml": {"share-admit-docs": []},
}


def test_shipped_configs_all_listed():
    shipped = {
        p.name for p in _CONFIGS.iterdir() if p.suffix in (".yaml", ".yml", ".conf")
    }
    assert shipped == set(_SHIPPED_OPS)


@pytest.mark.parametrize("name", sorted(_SHIPPED_OPS))
def test_shipped_config_loads(name):
    """Every shipped config passes load-time validation (writer, transform
    and DQ option schemas, schema refs) with its declared op chain."""
    from lakehouse_ingestion_spark.config import load_config
    from lakehouse_ingestion_spark.schema_registry import SchemaRegistry

    registry = SchemaRegistry(_CONFIGS.parent / "schemas_registry")
    cfg = load_config(_CONFIGS / name, registry)
    assert {j.name: [t.op for t in j.transforms] for j in cfg.jobs} == (
        _SHIPPED_OPS[name]
    )
