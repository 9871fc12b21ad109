"""Spark-vs-DuckDB per-query wall-clock comparison (feeds BASELINE.md).

Runs every ``queries()`` entry through the noop sink on Spark and its
``oracle_sql()`` on DuckDB at the given sf dir, printing a markdown
table sorted by ratio (worst first).

Usage: python tools/compare_bench.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    import __spark_entry__ as em
    from lakehouse_ingestion_spark.session import SparkConfig, get_spark
    from pyspark.sql import functions as F

    spark = get_spark(SparkConfig(app_name="compare-bench"))
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(0, 1024, 1, 32).groupBy(F.col("id") % 32).applyInPandas(
        lambda pdf: pdf.head(1), "id long"
    ).count()
    # mapInArrow has its own first-use worker codepath (Arrow stream
    # serde), separate from the pandas one — warm it too
    spark.range(0, 1024, 1, 32).mapInArrow(lambda it: it, "id long").count()
    # ...and scalar pandas UDFs (ArrowEvalPython) a third one, used by the
    # t-digest quantile estimates
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _warm(s):
        return s

    spark.range(0, 1024, 1, 32).select(_warm("id")).count()

    con = duckdb.connect()
    # bound the oracle's memory and let it spill: at sf10 the text-heavy
    # oracle SQL materializes corpus-sized token lists and an unbounded
    # DuckDB (default ~80% of RAM, contending with the Spark JVM in this
    # same process) dies with OutOfMemoryException instead
    con.execute("SET memory_limit='40GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    oracles = em.oracle_sql()
    setups = getattr(em, "bench_setups", dict)()
    rows = []
    for name, fn in em.queries().items():
        if only and name not in only:
            continue
        spark.catalog.clearCache()
        if name in setups:
            # one-time build phases (bucketed table writes) are an ingest
            # investment, not part of the probe being compared
            setups[name](spark, sf_dir)
        # median of 3 per engine: this VM's run-to-run variance (GC,
        # page cache, python-worker reuse) swamps single-shot deltas
        spark_runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark_runs.append(time.perf_counter() - t0)
        spark_s = sorted(spark_runs)[1]

        duck_s = None
        if name in oracles:
            duck_runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                duck_runs.append(time.perf_counter() - t0)
            duck_s = sorted(duck_runs)[1]
        rows.append((name, spark_s, duck_s))

    rows.sort(key=lambda r: (r[1] / r[2]) if r[2] else 0, reverse=True)
    print("| query | Spark s | DuckDB s | ratio |")
    print("|---|---|---|---|")
    tot_s = tot_d = 0.0
    for name, s, d in rows:
        tot_s += s
        tot_d += d or 0.0
        ratio = f"{s / d:.1f}x" if d else "—"
        print(f"| {name} | {s:.3f} | {d:.3f} | {ratio} |" if d else f"| {name} | {s:.3f} | — | — |")
    total_ratio = f"{tot_s / tot_d:.1f}x" if tot_d else "—"
    print(f"| **total** | **{tot_s:.2f}** | **{tot_d:.2f}** | **{total_ratio}** |")
    spark.stop()


if __name__ == "__main__":
    main()
