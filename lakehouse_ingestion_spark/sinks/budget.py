"""Config-driven budget-admission sink: ``target: format: budget_admit``.

```yaml
target:
  format: budget_admit
  options:
    path: /data/budget/admitted        # epoch-partitioned output
    ledger_path: /data/budget/ledger   # see "Ledgers" below
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
OWN quota across batches (the same ``admit_epoch``):

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
(missing strata get ``default_p``, 0.0 = drop), through the same
``admit_epoch_share``:

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

Ledgers: one layout per kind, global or per stratum. A quota ledger is
``(epoch, stratum, rows, batch_cost, spent_after)`` and a share ledger
``(epoch, stratum, rows, batch_mass, admitted_mass, seen_after,
admitted_after)``, one row per (epoch, stratum). ``stratum`` is the
strata column's string form, so mapping keys match it whether they are
written as ints or strings; it is NULL for NULL strata and for every row
of a global admission, which writes one row per epoch. Ledgers written
without the ``stratum`` column read it as NULL.
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
        key_col=key_col, strata_col=strata_col,
    )
    if p is not None:
        # mass-share admission ("keep the docs carrying p of the quality
        # mass seen so far") — no cost column, the score IS the mass
        for clash, val in (("budget", budget), ("budgets", budgets),
                           ("cost_col", cost_col)):
            if val is not None:
                raise ConfigError(
                    f"budget_admit options.p (mass-share mode) conflicts "
                    f"with options.{clash} — share admission has no quota "
                    "surface"
                )
        if isinstance(p, dict) and strata_col is None:
            raise ConfigError(
                "budget_admit options.p as a per-stratum mapping requires "
                "options.strata_col"
            )
        sb.admit_epoch_share(
            df, epoch, **common, p=p, default_p=default_p,
            cum_col="cum_score" if cum_col is None else cum_col,
        )
        return
    if cost_col is None:
        raise ConfigError("budget_admit target needs options.cost_col")
    quota = budget if budgets is None else budgets
    if quota is None:
        raise ConfigError("budget_admit target needs options.budget")
    if budgets is not None and strata_col is None:
        raise ConfigError(
            "budget_admit options.budgets (per-stratum mapping) requires "
            "options.strata_col"
        )
    sb.admit_epoch(
        df, epoch, **common, cost_col=cost_col, budget=quota,
        default_budget=default_budget,
        cum_col="cum_cost" if cum_col is None else cum_col,
    )
