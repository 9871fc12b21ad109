"""Config-driven streaming sticky-split sink.

Declarative face of ``streaming/curation.sticky_split_epoch``:
a streaming (or batch) job whose TARGET is the curation split — each
micro-batch gets near-dup-cluster-safe, sticky train/val/test labels
against the persisted index/label/assignment state, and the labeled
rows land at ``path``:

```yaml
target:
  format: sticky_split
  options:
    path: /data/splits/docs
    state_dir: /data/splits/state
    threshold: 0.3
    fractions: {train: 0.8, val: 0.1, test: 0.1}
    audit_path: /data/splits/audit        # optional
    ledger_path: /data/splits/ledger      # optional: exactly-once output
    conflict_action: quarantine_eval      # optional: report (default) /
                                          # quarantine_eval / drop_cluster
    compact_every: 100                    # optional: fold the state delta
                                          # logs every N epochs
```

``conflict_action`` decides what happens to clusters whose merge
joined already-differently-split docs (pre-existing leakage —
``operators/split_guard.apply_conflict_policy``): report them in the
audit only, force them into the first (train) split, or withhold them
from the output entirely.

With ``ledger_path`` the labeled output routes through
``streaming/multi_sink.write_epoch`` — epoch-partitioned idempotent
writes plus the commit ledger — so a redelivered micro-batch REPLACES
its own output instead of appending a duplicate copy (the curation
states are already replay-idempotent on their own; the ledger extends
that to the output table). Without it, output is a plain parquet
append (fine under availableNow/run-once).

The state layout is shared with the batch pipeline's
``leakage_safe_split`` stage (``labels_path``/``assignments_path``):
stream and backfill maintain ONE split state.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.sinks.base import sink


@sink("sticky_split", mappings=("fractions",))
@sink("curation_split", mappings=("fractions",))
def _sticky_split(
    df, opts, epoch, *, state_dir, threshold, fractions, ledger_path=None,
    audit_path=None, id_col="doc_id", text_col="text", seed="split",
    split_col="split", rep_col="rep", shingle_n=3, num_hashes=64,
    num_bands=8, lsh_seed=42, posting_cap=None, conflict_action="report",
    compact_every=None,
):
    from lakehouse_ingestion_spark.streaming.curation import sticky_split_epoch
    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        write_epoch,
    )

    if not isinstance(fractions, dict) or not fractions:
        raise ConfigError(
            "sticky_split options.fractions must be a non-empty mapping"
            " (name -> share)"
        )
    out_path = opts.target
    if ledger_path is None:
        def out_sink(batch: DataFrame, _e: int) -> None:
            batch.write.mode("append").parquet(out_path)
    else:
        out_sink = partial(
            write_epoch, sinks={"split": SinkSpec(out_path)},
            ledger_path=ledger_path,
        )

    audit_sink = None
    if audit_path is not None:
        def audit_sink(batch: DataFrame, _e: int) -> None:
            batch.write.mode("append").parquet(audit_path)

    sticky_split_epoch(
        df,
        epoch,
        state_dir=state_dir,
        fractions={str(k): float(v) for k, v in fractions.items()},
        threshold=float(threshold),
        sink=out_sink,
        id_col=id_col,
        text_col=text_col,
        seed=seed,
        split_col=split_col,
        rep_col=rep_col,
        audit_sink=audit_sink,
        shingle_n=int(shingle_n),
        num_hashes=int(num_hashes),
        num_bands=int(num_bands),
        lsh_seed=int(lsh_seed),
        posting_cap=None if posting_cap is None else int(posting_cap),
        conflict_action=conflict_action,
        compact_every=None if compact_every is None else int(compact_every),
    )
