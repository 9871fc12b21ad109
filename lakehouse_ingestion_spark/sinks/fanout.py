"""Config-driven exactly-once fan-out sink (multiple targets, one job).

Declarative face of ``streaming/multi_sink.py`` — the reference NAMES
exactly-once-across-sinks as an open difficulty
(`docs/01-problem-statement.md:27`); this writer makes the solution a
pipeline-spec primitive:

```yaml
target:
  format: fanout
  options:
    ledger_path: /data/ledger/events
    sinks:
      bronze: {path: /data/bronze/events}
      silver: {path: /data/silver/events,
               select: [event_id, user_id, ts],
               where: "event_type IS NOT NULL"}
```

Per-sink shaping is declarative on purpose (``select`` columns +
``where`` predicate): a config file cannot carry a lambda, and the
transforms must be deterministic for epoch redelivery to converge.

Streaming jobs route here through the pipeline's per-epoch hook
(``write_epoch_batch``), so every micro-batch is idempotent under
redelivery and ledgered. Batch jobs write as epoch
``options.run_epoch`` (default 0) with ``force=True`` — the ledger's
already-written skip is for streaming crash redelivery, not deliberate
re-runs, so a batch re-run always rewrites its epoch partition and
REPLACES previous output (even with changed input) instead of
double-appending or silently no-opping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.sinks.base import sink


@sink("fanout", mappings=("sinks.*",))
@sink("multi", mappings=("sinks.*",))
@sink("multi_sink", mappings=("sinks.*",))
def _fanout(df, opts, epoch, force, *, ledger_path, sinks):
    from lakehouse_ingestion_spark.streaming.multi_sink import (
        SinkSpec,
        write_epoch,
    )

    if not isinstance(sinks, dict) or not sinks:
        raise ConfigError("fanout target needs a non-empty options.sinks mapping")
    specs: dict[str, SinkSpec] = {}
    for name, s in sinks.items():
        if not isinstance(s, dict) or "path" not in s:
            raise ConfigError(f"fanout sink {name!r} needs a 'path'")
        select = s.get("select")
        where = s.get("where")

        def _tf(batch: DataFrame, _sel=select, _whr=where) -> DataFrame:
            out = batch
            if _whr:
                out = out.where(_whr)
            if _sel:
                out = out.select(*_sel)
            return out

        specs[name] = SinkSpec(
            path=s["path"],
            transform=_tf if (select or where) else None,
        )
    # force (batch jobs): a RE-run is a deliberate replay, not a crash
    # redelivery — rewrite the epoch partition even if ledgered
    write_epoch(df, specs, ledger_path, epoch, force=force)
