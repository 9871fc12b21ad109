"""Per-batch wall for the streaming sticky-split sink (BASELINE.md row).

Slices an sf documents table into N equal batches and drives
``sticky_split_epoch`` directly (the foreachBatch contract — no
broker needed), printing per-batch wall and the per-epoch state-delta
row counts. The round-9 design claim under test: batch wall tracks the
BATCH (plus touched-cluster members), not the corpus, as the
index/label/assignment states grow — r8's sink rewrote the full label
table and ran a corpus-wide distinct per trigger, so its batch wall
grew with history.

Usage: python tools/bench_sticky_stream.py [sf_dir] [n_batches]
e.g.   python tools/bench_sticky_stream.py /tmp/sf1 10
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import functions as F

    from lakehouse_ingestion_spark.session import SparkConfig, get_spark
    from lakehouse_ingestion_spark.streaming.curation import sticky_split_epoch

    spark = get_spark(SparkConfig(app_name="bench-sticky-stream"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    total = docs.count()
    state = tempfile.mkdtemp(prefix="sticky_bench_")
    out = tempfile.mkdtemp(prefix="sticky_out_")
    try:
        fn = partial(
            sticky_split_epoch,
            state_dir=f"{state}/s",
            fractions={"train": 0.8, "val": 0.1, "test": 0.1},
            threshold=0.5,
            sink=lambda df, e: df.write.mode("append").parquet(f"{out}/o"),
            posting_cap=500,
        )
        walls = []
        for e in range(n_batches):
            batch = docs.filter(F.col("doc_id") % n_batches == e).persist()
            n = batch.count()  # materialize outside the timed region
            t0 = time.perf_counter()
            fn(batch, e)
            wall = time.perf_counter() - t0
            batch.unpersist()
            walls.append(wall)
            print(f"epoch {e}: {n} docs, wall {wall:.2f}s", flush=True)
        for name in ("labels", "assignments"):
            rows = {
                r["_epoch"]: r["n"]
                for r in spark.read.parquet(f"{state}/s/{name}")
                .groupBy("_epoch")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            print(f"{name} delta rows per epoch: {dict(sorted(rows.items()))}")
        print(
            f"total {total} docs / {n_batches} batches; "
            f"first-batch wall {walls[0]:.2f}s, last-batch wall "
            f"{walls[-1]:.2f}s, median "
            f"{sorted(walls)[len(walls) // 2]:.2f}s"
        )
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
