"""Pin bench.py's checkpoint-release contract (round-7 advice).

bench.py calls ``release_local_checkpoint(df)`` on every registry
query's returned frame, which unpersists ANY LogicalRDD leaf in the
plan. That is only safe while no query's frame embeds a pinned RDD that
is SHARED across calls (e.g. a module-level cached frame): releasing a
shared checkpoint truncates its lineage, so later uses fail with
missing-block errors far from the release site.

The contract: calling the same registry query twice must return frames
whose pinned leaves are DISJOINT (re-pinned per call) — then bench's
release after call N can never break call N+1. We probe the queries
whose operators use localCheckpoint (the iterative/graph family and the
incremental index) rather than all 121 (the rest return pure scan
plans; a regression that adds sharing would surface here first).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# queries whose plans are known to carry localCheckpoint leaves
PINNING_QUERIES = ["dedup_clusters", "er_clusters", "cluster_rep"]


def _pinned_rdd_ids(df) -> set[int]:
    """ids of cached LogicalRDD leaves in the frame's analyzed plan."""
    jdf = df._jdf
    plan = jdf.queryExecution().analyzed()
    ids = set()
    it = plan.collectLeaves().iterator()
    while it.hasNext():
        leaf = it.next()
        if leaf.nodeName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


@pytest.mark.parametrize("name", PINNING_QUERIES)
def test_repeated_calls_do_not_share_pinned_leaves(spark, name):
    q = entry.queries()[name]
    first = q(spark, SF_DIR)
    second = q(spark, SF_DIR)
    a, b = _pinned_rdd_ids(first), _pinned_rdd_ids(second)
    assert a, f"{name} expected to pin at least one frame"
    assert a.isdisjoint(b), (
        f"{name} shares pinned RDDs across calls ({a & b}); bench.py's "
        "post-query release would free blocks the next call still needs"
    )
    # and the release really does free the first call's blocks without
    # breaking the second frame
    from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint

    release_local_checkpoint(first)
    assert second.count() >= 0
