"""Entity resolution: blocking -> pairwise edit similarity -> graph
clustering.

The classic record-linkage pipeline (Fellegi-Sunter framing;
blocking-based implementations surveyed in Christen, "Data Matching",
2012), composed from this repo's existing scale primitives:

1. **Blocking** — each record emits a few cheap candidate keys (by
   default: name prefix and suffix); only records sharing a key are
   ever compared. This is what keeps ER off the all-pairs cliff, the
   same posture as the LSH band join (``operators/incremental_dedup``)
   and the winnowing posting join (``operators/winnow``). Hot blocks
   (a key shared by more than ``max_block`` records — 'smith') are
   dropped before pairing, the standard stop-block cap; the cap is a
   plain HAVING so the SQL oracle replays it exactly.
2. **Matching** — candidate pairs within ``max_edit_distance``
   (Levenshtein, JVM built-in ``F.levenshtein`` — no UDF) become
   edges. Distinct-ing candidates BEFORE the distance computation
   means a pair co-blocked by both keys is scored once.
3. **Clustering** — transitive closure via
   ``operators/graph.connected_components`` (O(log diameter) rounds);
   cluster id = min record id, the deterministic canonical label.
   Records matching nobody come back as singleton clusters of
   themselves.

Scale: every stage is key-partitioned (block key, then pair, then the
CC label exchange); nothing is all-pairs, nothing collects. At 100 TB
the block-key explode is the only fan-out (x ``len(blocking_keys)``)
and the stop-block cap bounds the pair volume per key at
``max_block^2 / 2``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.graph import connected_components


def default_blocking_keys(name: Column) -> list[Column]:
    """Prefix-4 and suffix-4 of the name — multi-pass blocking: an edit
    near one end still co-blocks the pair through the other end."""
    return [
        F.substring(name, 1, 4),
        F.substring(name, F.length(name) - F.lit(3), F.lit(4)),
    ]


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    blocking: Callable[[Column], list[Column]] | None = None,
    max_block: int = 100,
    dedup: bool = True,
) -> DataFrame:
    """Co-blocked record pairs ``(a, b, name_a, name_b)`` with a < b,
    hot blocks dropped.

    ``dedup=True`` (the public contract) distinct-s pairs so a pair
    co-blocked by both keys is scored once. ``dedup=False`` skips that
    shuffle and may emit a pair once per shared block — the right
    choice when the consumer dedups anyway (``resolve_entities``: the
    duplicate is one extra cheap Levenshtein, and ``connected_
    components`` distinct-s its edge list; dropping the 4-tuple
    distinct here cut the sf1 end-to-end wall ~40%)."""
    if max_block < 2:
        raise ConfigError(f"max_block must be >= 2, got {max_block}")
    blocking = blocking or default_blocking_keys
    keys = blocking(F.col(name_col))
    blocks = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        F.explode(F.array_distinct(F.array(*keys))).alias("_bk"),
    ).filter(F.col("_bk").isNotNull() & (F.length("_bk") > 0))
    keep = (
        blocks.groupBy("_bk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_block)
        .select("_bk")
    )
    kept = blocks.join(keep, "_bk")
    left = kept.select("_bk", F.col("_id").alias("a"), F.col("_name").alias("name_a"))
    right = kept.select("_bk", F.col("_id").alias("b"), F.col("_name").alias("name_b"))
    pairs = (
        left.join(right, "_bk")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "name_a", "name_b")
    )
    return pairs.distinct() if dedup else pairs


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_edit_distance: int = 1,
    blocking: Callable[[Column], list[Column]] | None = None,
    max_block: int = 100,
) -> DataFrame:
    """(id, name, cluster) with cluster = min id over the transitive
    match closure; unmatched records are singletons of themselves.

    Spelling variants of one canonical form are star-shaped around it
    (diameter ~2), so ``connected_components`` settles them inside its
    propagation-only warmup and never pays a pointer-jumping round;
    long match chains still converge in O(log diameter) rounds."""
    if max_edit_distance < 0:
        raise ConfigError(
            f"max_edit_distance must be >= 0, got {max_edit_distance}"
        )
    pairs = candidate_pairs(
        df, id_col, name_col, blocking=blocking, max_block=max_block,
        # CC distinct-s its edge list; re-scoring a double-blocked pair
        # is one cheap Levenshtein — skip the pre-filter 4-tuple distinct
        dedup=False,
    )
    edges = pairs.filter(
        F.levenshtein("name_a", "name_b") <= max_edit_distance
    ).select("a", "b")
    comps = connected_components(edges, src="a", dst="b")
    base = df.select(F.col(id_col), F.col(name_col))
    out = base.join(
        comps.withColumnRenamed("node", id_col), id_col, "left"
    )
    return out.select(
        id_col,
        name_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster"),
    )
