"""Config-driven budget-admission sink: ``target: format: budget_admit``.

```yaml
target:
  format: budget_admit
  options:
    path: /data/budget/admitted        # epoch-partitioned output
    ledger_path: /data/budget/ledger   # (epoch, rows, batch_cost, spent_after)
    score_col: quality
    cost_col: n_tokens
    budget: 1000000000
    key_col: doc_id
```

Streaming: each micro-batch admits its best rows into whatever budget
remains (``streaming/budget.admit_epoch`` — ledger-replay-safe).
Batch: the whole frame is one epoch (``run_epoch`` option, default 0),
so backfills and streams share the same ledger and the budget holds
across both.

Per-stratum quotas: add ``strata_col`` plus either a ``budgets``
mapping (stratum -> budget; ``default_budget`` for missing strata,
0 = drop) or a uniform ``budget`` int — each stratum then fills its
OWN quota across batches via a (epoch, stratum) ledger
(``streaming/budget.admit_epoch_stratified``):

```yaml
target:
  format: budget_admit
  options:
    path: /data/budget/admitted
    ledger_path: /data/budget/ledger
    strata_col: domain
    budgets: {wiki: 500000000, web: 300000000}
    default_budget: 0
    score_col: quality
    cost_col: n_tokens
    key_col: doc_id
```

Mass-share (top-p) mode: give ``p`` instead of a budget — each epoch
admits its best rows until the admitted mass covers fraction ``p`` of
ALL score mass seen so far (``streaming/budget.admit_epoch_share``, the
streaming sibling of ``operators/selection.top_p_select``):

```yaml
target:
  format: budget_admit
  options:
    path: /data/share/admitted
    ledger_path: /data/share/ledger
    score_col: quality
    p: 0.9
    key_col: doc_id
```

Per-stratum shares: add ``strata_col``; ``p`` may then be a mapping
(missing strata get ``default_p``, 0.0 = drop) —
``streaming/budget.admit_epoch_share_stratified``:

```yaml
target:
  format: budget_admit
  options:
    path: /data/share/admitted
    ledger_path: /data/share/ledger
    strata_col: lang
    score_col: quality
    p: {en: 0.9, de: 0.5}
    default_p: 0.0
    key_col: doc_id
```
"""

from __future__ import annotations

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.sinks.base import sink


@sink("budget_admit", mappings=("budgets", "p"))
@sink("token_budget", mappings=("budgets", "p"))
def _budget_admit(
    df, opts, epoch, *, ledger_path, score_col, cost_col=None,
    key_col="doc_id", cum_col=None, budget=None, budgets=None, p=None,
    strata_col=None, default_p=0.0, default_budget=0,
):
    from lakehouse_ingestion_spark.streaming import budget as sb

    common = dict(
        out_path=opts.target, ledger_path=ledger_path, score_col=score_col,
        key_col=key_col,
    )
    if p is not None:
        # mass-share admission ("keep the docs carrying p of the quality
        # mass seen so far") — no cost column, the score IS the mass;
        # add strata_col for per-stratum shares (p may then be a mapping)
        for clash, val in (("budget", budget), ("budgets", budgets),
                           ("cost_col", cost_col)):
            if val is not None:
                raise ConfigError(
                    f"budget_admit options.p (mass-share mode) conflicts "
                    f"with options.{clash} — share admission has no quota "
                    "surface"
                )
        common["cum_col"] = "cum_score" if cum_col is None else cum_col
        if strata_col is not None:
            sb.admit_epoch_share_stratified(
                df, epoch, **common, strata_col=strata_col,
                p={k: float(v) for k, v in p.items()}
                if isinstance(p, dict) else float(p),
                default_p=float(default_p),
            )
        elif isinstance(p, dict):
            raise ConfigError(
                "budget_admit options.p as a per-stratum mapping requires "
                "options.strata_col"
            )
        else:
            sb.admit_epoch_share(df, epoch, **common, p=float(p))
        return
    if cost_col is None:
        raise ConfigError("budget_admit target needs options.cost_col")
    quota = budget if budgets is None else budgets
    if quota is None:
        raise ConfigError("budget_admit target needs options.budget")
    common.update(cost_col=cost_col,
                  cum_col="cum_cost" if cum_col is None else cum_col)
    if strata_col is not None:
        # per-stratum quotas: options.budgets mapping (or a uniform
        # options.budget int) routed through admit_epoch_stratified
        sb.admit_epoch_stratified(
            df, epoch, **common, strata_col=strata_col,
            budgets={k: int(v) for k, v in quota.items()}
            if isinstance(quota, dict) else int(quota),
            default_budget=int(default_budget),
        )
    elif budgets is not None:
        raise ConfigError(
            "budget_admit options.budgets (per-stratum mapping) requires "
            "options.strata_col"
        )
    else:
        sb.admit_epoch(df, epoch, **common, budget=int(budget))
