"""Shard-export sink: ``target: format: shards`` writes the frame as
``path/shard=K/`` parquet in the deterministic shuffle order
(operators/export.export_shards) — the training-reader handoff layout:

```yaml
target:
  format: shards
  options:
    path: /data/export/train           # path/shard=K/ parquet
    mode: overwrite                    # required: overwrite-only
    key_col: doc_id                    # shuffle key
    n_shards: 64                       # default
    seed: export                       # default: the shuffle seed
    max_records_per_file: 100000       # optional
```

Batch-only and overwrite-only by design: appending a second run's part
files into existing shard directories would interleave two shuffle
orders lexicographically, silently breaking the "file row order IS the
global shuffle order" contract the layout exists to provide.  The
pipeline rejects a streaming job with ``mode: overwrite`` (each
micro-batch would replace the last), so a streaming job cannot target
this sink; streaming exports should land epochs via the multi-sink
ledger and re-shard in a batch compaction pass.
"""

from __future__ import annotations

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.export import export_shards
from lakehouse_ingestion_spark.sinks.base import sink


@sink("shards")
@sink("shard_export")
def _shards(
    df, opts, *, key_col, n_shards=64, seed="export", shard_col="shard",
    max_records_per_file=None,
):
    if opts.mode != "overwrite":
        raise ConfigError(
            "shards sink is overwrite-only: appending part files would "
            "interleave two shuffle orders within a shard directory"
        )
    export_shards(
        df,
        opts.target,
        key_col=key_col,
        n_shards=int(n_shards),
        seed=seed,
        shard_col=shard_col,
        max_records_per_file=(
            int(max_records_per_file) if max_records_per_file else None
        ),
        mode=opts.mode,
    )
