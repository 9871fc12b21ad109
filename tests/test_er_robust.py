"""Entity resolution (operators/er.py) and robust scaling
(operators/stats.robust_scale)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.er import (
    candidate_pairs,
    resolve_entities,
)
from lakehouse_ingestion_spark.operators.stats import robust_scale


def _people(spark, rows):
    return spark.createDataFrame(rows, "id long, name string")


def test_er_clusters_typo_variants(spark):
    # three spellings of one entity (<=1 edit apart pairwise or via the
    # hub), one unrelated record, one singleton
    df = _people(
        spark,
        [
            (1, "deepmind"),
            (2, "ddeepmind"),  # duplicated first char: dist 1 to #1
            (3, "deepmindx"),  # appended char: dist 1 to #1, 2 to #2
            (4, "zanthropic"),
            (5, "qqqqqqqq"),
        ],
    )
    out = {r["id"]: r["cluster"] for r in resolve_entities(df, "id", "name").collect()}
    assert out[1] == out[2] == out[3] == 1  # transitive closure via #1
    assert out[4] == 4 and out[5] == 5  # singletons stay themselves


def test_er_no_false_merge_across_distant_names(spark):
    df = _people(spark, [(1, "abcdefgh"), (2, "abcdzzzz")])  # co-blocked (prefix)
    out = {r["id"]: r["cluster"] for r in resolve_entities(df, "id", "name").collect()}
    assert out[1] == 1 and out[2] == 2  # edit distance 4 > 1: no edge


def test_er_suffix_block_catches_front_edit(spark):
    # a front insertion changes the prefix block; the suffix block must
    # still co-bucket the pair (multi-pass blocking rationale)
    df = _people(spark, [(1, "mnopqrst"), (2, "xmnopqrst")])
    pairs = candidate_pairs(df, "id", "name").collect()
    assert [(r["a"], r["b"]) for r in pairs] == [(1, 2)]
    out = {r["id"]: r["cluster"] for r in resolve_entities(df, "id", "name").collect()}
    assert out[1] == out[2] == 1


def test_er_hot_block_cap(spark):
    # 10 names sharing the prefix block; cap at 5 drops that block, and
    # their suffixes all differ -> no candidates at all
    df = _people(spark, [(i, f"aaaa{i:04d}") for i in range(10)])
    assert candidate_pairs(df, "id", "name", max_block=5).count() == 0
    with pytest.raises(ConfigError):
        candidate_pairs(df, "id", "name", max_block=1)
    with pytest.raises(ConfigError):
        resolve_entities(df, "id", "name", max_edit_distance=-1)


def test_er_pair_scored_once_across_blocks(spark):
    # identical names co-block via BOTH prefix and suffix; the distinct
    # must collapse them to one candidate row
    df = _people(spark, [(1, "samename"), (2, "samename")])
    assert candidate_pairs(df, "id", "name").count() == 1


# ------------------------------------------------------------ robust_scale


def test_robust_scale_bounds_and_outlier(spark):
    rows = [(i, "g", float(i)) for i in range(1, 100)] + [(100, "g", 1e9)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = robust_scale(df, "v", ["grp"], p_lo=0.05, p_hi=0.95)
    vals = {r["id"]: r["scaled"] for r in out.collect()}
    assert all(0.0 <= s <= 1.0 for s in vals.values())
    # the outlier clamps to exactly 1.0 instead of dragging the scale
    assert vals[100] == 1.0
    # interior values spread across the range
    assert vals[50] == pytest.approx(0.5, abs=0.03)


def test_robust_scale_degenerate_group(spark):
    df = spark.createDataFrame(
        [(1, "g", 7.0), (2, "g", 7.0)], "id long, grp string, v double"
    )
    out = robust_scale(df, "v", ["grp"])
    assert {r["scaled"] for r in out.collect()} == {0.5}


def test_robust_scale_global_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, None)], "id long, v double"
    )
    out = {r["id"]: r["scaled"] for r in robust_scale(df, "v").collect()}
    assert out[4] is None
    assert out[1] == 0.0 and out[3] == 1.0
    with pytest.raises(ConfigError):
        robust_scale(df, "v", p_lo=0.9, p_hi=0.1)


# ------------------------------------------------- transform integration


def test_transform_robust_scale_and_entity_resolve(spark):
    from lakehouse_ingestion_spark.pipeline import apply_transform

    df = spark.createDataFrame(
        [(1, "deepmind", 10.0), (2, "ddeepmind", 20.0), (3, "unrelatedz", 30.0)],
        "id long, name string, v double",
    )
    out = apply_transform(
        df, "entity_resolve", {"id_col": "id", "name_col": "name"}
    )
    got = {r["id"]: r["cluster"] for r in out.collect()}
    assert got[1] == got[2] == 1 and got[3] == 3
    assert set(out.columns) == {"id", "name", "v", "cluster"}

    scaled = apply_transform(
        df, "robust_scale", {"value": "v", "p_lo": 0.0, "p_hi": 1.0}
    )
    vals = {r["id"]: r["scaled"] for r in scaled.collect()}
    assert vals[1] == 0.0 and vals[3] == 1.0


def test_transform_cms_build(spark):
    from lakehouse_ingestion_spark.pipeline import apply_transform

    df = spark.createDataFrame([("a",), ("a",), ("b",)], "item string")
    out = apply_transform(df, "cms_build", {"item": "item", "width": 64, "depth": 2})
    assert set(out.columns) == {"seed", "bucket", "cnt"}
    assert sum(r["cnt"] for r in out.collect()) == 6  # 3 rows x depth 2


def test_cluster_stage_winnow_pairs(spark):
    """near_dup_drop with the winnow pair source keeps one doc per
    shared-span cluster."""
    from lakehouse_ingestion_spark.pipeline import apply_transform

    base = "the winnowing algorithm selects minimum hashes from windows"
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely different content here")],
        "doc_id long, text string",
    )
    out = apply_transform(
        df,
        "near_dup_drop",
        {"winnow": {"k": 5, "w": 4, "min_shared": 2}},
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3]  # rep = min id of the {1,2} cluster, 3 singleton


def test_new_transform_option_schemas():
    from lakehouse_ingestion_spark.errors import ConfigError
    from lakehouse_ingestion_spark.pipeline import validate_transform_options

    validate_transform_options("robust_scale", {"value": "v", "group_by": ["g"]})
    validate_transform_options("cms_build", {"item": "i", "width": 64})
    validate_transform_options(
        "entity_resolve", {"id_col": "id", "name_col": "n", "max_block": 10}
    )
    # winnow is a mapping key: nested AND dotted-flattened forms pass
    validate_transform_options("near_dup_drop", {"winnow": {"k": 5}})
    validate_transform_options("near_dup_drop", {"winnow.k": 5})
    import pytest as _pytest

    with _pytest.raises(ConfigError):
        validate_transform_options("robust_scale", {"value": "v", "plo": 0.1})
    with _pytest.raises(ConfigError):
        validate_transform_options("cms_build", {"item": "i", "widht": 64})
    with _pytest.raises(ConfigError):
        validate_transform_options("entity_resolve", {"id_col": "i", "nam_col": "n"})


def test_dotted_mapping_options_reconstituted(spark):
    """YAML/HOCON-flattened mapping options (winnow.k: 5) must select
    the SAME behavior as the nested form — the transform-side twin of
    the r11 sink mapping bug, fixed by the normalize step that
    validation and dispatch share (registry.Registry.bind)."""
    from lakehouse_ingestion_spark.pipeline import apply_transform

    base = "the winnowing algorithm selects minimum hashes from windows"
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely different content here")],
        "doc_id long, text string",
    )
    nested = apply_transform(
        df, "near_dup_drop", {"winnow": {"k": 5, "w": 4, "min_shared": 2}}
    )
    dotted = apply_transform(
        df,
        "near_dup_drop",
        {"winnow.k": 5, "winnow.w": 4, "winnow.min_shared": 2},
    )
    assert sorted(r["doc_id"] for r in nested.collect()) == sorted(
        r["doc_id"] for r in dotted.collect()
    ) == [1, 3]

    # hash_split's fractions mapping: dotted == nested
    d2 = spark.range(100).withColumn("k", F.col("id").cast("string"))
    a = apply_transform(
        d2, "hash_split", {"key": "k", "fractions": {"tr": 0.8, "te": 0.2}}
    )
    b = apply_transform(
        d2, "hash_split", {"key": "k", "fractions.tr": 0.8, "fractions.te": 0.2}
    )
    assert [r["split"] for r in a.orderBy("id").collect()] == [
        r["split"] for r in b.orderBy("id").collect()
    ]
