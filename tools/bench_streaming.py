"""Streaming-ingest throughput sanity bench (BASELINE.md contract row).

Replays the sf0.1 events table as a file-source micro-batch stream
(20 chunk files, maxFilesPerTrigger=2 -> 10 micro-batches) through the
Bronze path — audit columns + parquet append sink with checkpointing —
and reports sustained events/sec. Reference prod ceiling to beat:
~1,667 ev/s (50k offsets / 30s trigger, SURVEY.md §6).

Usage: python tools/bench_streaming.py [sf_dir]
Prints one JSON line: {"metric": "streaming_events_per_sec", ...}
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from lakehouse_ingestion_spark.operators.audit import add_audit_columns
from lakehouse_ingestion_spark.session import SparkConfig, get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(SparkConfig(app_name="bench-streaming"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    work = Path(tempfile.mkdtemp(prefix="bench_stream_"))
    src_dir, out_dir, cp_dir = work / "src", work / "out", work / "cp"
    try:
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        n_rows = events.count()
        events.repartition(20).write.parquet(str(src_dir))
        schema = spark.read.parquet(str(src_dir)).schema

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(str(src_dir))
        )
        bronze = add_audit_columns(stream, source_system="bench-file-stream")

        t0 = time.monotonic()
        q = (
            bronze.writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(cp_dir))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        elapsed = time.monotonic() - t0

        written = spark.read.parquet(str(out_dir)).count()
        assert written == n_rows, f"wrote {written}, expected {n_rows}"
        print(
            json.dumps(
                {
                    "metric": "streaming_events_per_sec",
                    "value": round(written / elapsed, 1),
                    "unit": "events/sec",
                    "rows": written,
                    "elapsed_sec": round(elapsed, 3),
                    "micro_batches": 10,
                    "sf_dir": sf_dir,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
