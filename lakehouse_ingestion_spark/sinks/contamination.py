"""Config-driven contamination-audit sink: ``target: format:
contamination_audit``.

```yaml
target:
  format: contamination_audit
  options:
    path: /data/audits/contamination/     # epoch-delta report log
    ledger_path: /data/audits/contamination-ledger/
    eval_path: /data/eval/examples/       # eval_id, text (small)
    n: 3
    threshold: 2
```

Streaming: every micro-batch folds its own eval-sized delta into the
report log (``streaming/contamination`` — ledger-replay-safe).  Batch:
the whole frame is one epoch (``run_epoch``, default 0), so backfills
and streams share one report.  Read the current report with
``streaming.contamination.current_report``; compact on cadence with
``compact_report``.
"""

from __future__ import annotations

from lakehouse_ingestion_spark.sinks.base import sink


@sink("contamination_audit")
def _contamination_audit(
    df, opts, epoch, *, ledger_path, eval_path, text_col="text",
    id_col="doc_id", eval_id_col="eval_id", n=3, threshold=2,
):
    from lakehouse_ingestion_spark.streaming.contamination import (
        contamination_epoch,
    )

    contamination_epoch(
        df,
        epoch,
        eval_df=df.sparkSession.read.parquet(eval_path),
        report_path=opts.target,
        ledger_path=ledger_path,
        text_col=text_col,
        id_col=id_col,
        eval_id_col=eval_id_col,
        n=int(n),
        threshold=int(threshold),
    )
