"""Same-session probe of named registry queries: median wall, Spark
jobs and stages per query.

  python tools/probe_queries.py <query> [<query> ...] [--runs=N]

Each query runs N times (default 3) through the noop-sink harness
bench.py uses, in ONE session: cache cleared and gc'd before every run,
checkpoint blocks released after it (not billed). Jobs and stages are
counted per run via a job group on the status tracker, so each
query's fixed-cost profile (actions run by eager operators) shows next
to its wall. Prints one row per query:

  <query>  median_s=<s>  jobs=<n>  stages=<n>  samples=[...]

``jobs``/``stages`` are the last run's counts (a warm run); a query
whose count differs across runs prints every count. The corpus
directory (bench.py's fixture layout) comes from ``SPARK_GRAFT_SF_DIR``,
which must be set, and the core count from ``SPARK_GRAFT_CPUS``
(session factory default: all cores).
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not names or not sf_dir:
        sys.exit(__doc__)

    import __spark_entry__ as entrymod
    from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint
    from lakehouse_ingestion_spark.session import SparkConfig, get_spark

    spark = get_spark(SparkConfig(app_name="probe-queries"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # JIT + file-listing warm-up so the first probed query isn't billed
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    qmap = {**entrymod.queries(), **entrymod.bench_extra_queries()}
    setups = entrymod.bench_setups()
    for name in names:
        fn = qmap[name]
        if name in setups:
            setups[name](spark, sf_dir)
        samples, counts = [], []
        for i in range(runs):
            gc.collect()
            spark.catalog.clearCache()
            group = f"probe-{name}-{i}"
            sc.setJobGroup(group, f"probe {name} #{i}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            release_local_checkpoint(df)
            jobs = tracker.getJobIdsForGroup(group)
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages += len(info.stageIds)
            counts.append((len(jobs), stages))
        med = sorted(samples)[len(samples) // 2]
        jobs, stages = counts[-1]
        varying = "" if len(set(counts)) == 1 else f"  counts={counts}"
        print(
            f"{name}  median_s={med}  jobs={jobs}  stages={stages}  "
            f"samples={samples}{varying}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
