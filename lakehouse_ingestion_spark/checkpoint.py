"""Explicit release of localCheckpoint executor blocks.

``DataFrame.localCheckpoint`` persists the materialized rows as RDD
blocks on the executors and truncates lineage. The blocks are freed
only when the JVM's ContextCleaner notices the RDD is unreachable: from
PySpark, after the py4j proxy is garbage-collected AND a JVM GC cycle
runs (the cleaner's own periodic GC defaults to 30 minutes). A
long-lived session that pins many frames (the iterative
connected-components family, the streaming maintainers, the DQ pin of
every micro-batch) holds dead blocks for that whole gap and can OOM the
executors. ``release_local_checkpoint`` walks a frame's analyzed plan
for ``LogicalRDD`` leaves (what ``localCheckpoint`` returns) and
unpersists their RDDs immediately.

CONTRACT: a released frame — and anything lazily derived from it — is
unusable afterwards. The lineage was truncated at checkpoint time, so
Spark cannot recompute the blocks; a later action fails loudly with a
missing-block error (fail-safe, never silently wrong). Call it the way
the iterative operators do: release round N-1's checkpoint only after
round N's is materialized, and release a returned frame only after its
final action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release_local_checkpoint(*dfs: DataFrame) -> int:
    """Unpersist the executor blocks behind locally-checkpointed
    frames (no-op for frames without a ``LogicalRDD`` leaf). Returns
    the number of RDDs unpersisted. Non-blocking (async unpersist)."""
    released = 0
    for df in dfs:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
                released += 1
    return released
