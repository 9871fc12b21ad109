"""Streaming budget admission: admit the best documents from a stream
until a global token budget is exhausted.

The streaming counterpart of ``operators/selection.token_budget_select``
— "keep filling the 1B-token training budget as crawl batches arrive,
best-first within each batch, stop at quota".  Cross-batch semantics are
first-come-first-served by epoch (a stream cannot re-rank what it has
already admitted); within an epoch the batch's (score DESC, key ASC)
prefix fills whatever budget remains.

State is ONE tiny ledger (epoch, rows, batch_cost, spent_after) — a row
per epoch, read back as the spent-so-far sum.  Nothing corpus-sized is
ever read or written per trigger (the lesson of the r8 curation sink):
per-batch I/O is the batch itself plus the O(#epochs) ledger, and the
number of admitting epochs is bounded by budget/batch_cost anyway.

Replay safety is the ``streaming/epochlog`` protocol: a ledgered epoch
is skipped, output lands in its own epoch partition FIRST, the ledger
row appends AFTER. A redelivered epoch that crashed between the two
recomputes the identical admission (the ledger excludes the crashed
epoch, so ``remaining`` is unchanged, and the selection is a pure
function of batch content) and overwrites its own partition.

Once the ledger shows the budget exhausted, every later epoch ledgers
``rows=0`` without touching the data path, so the stream can keep
running as a no-op or be stopped by the caller polling ``spent()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.streaming import epochlog
from lakehouse_ingestion_spark.streaming.epochlog import EPOCH_COL, LEDGERED

LEDGER_SCHEMA = "epoch long, rows long, batch_cost long, spent_after long"


def spent(spark: SparkSession, ledger_path: str) -> int:
    """Total cost admitted so far (0 when no epoch has committed)."""
    led = epochlog.read_ledger(spark, ledger_path, LEDGER_SCHEMA)
    if led is None:
        return 0
    row = led.agg(F.sum("batch_cost").alias("s")).collect()[0]
    return int(row["s"] or 0)


def _with_epoch(schema: StructType) -> StructType:
    """The schema of an epoch partition read back (a copy: DataFrame
    schemas are cached objects)."""
    return StructType([*schema, StructField(EPOCH_COL, LongType())])


def _check_budget(budget: int, name: str = "budget") -> None:
    if int(budget) < 0:
        raise ConfigError(f"{name} must be >= 0, got {budget}")


def admit_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    out_path: str,
    ledger_path: str,
    score_col: str,
    cost_col: str,
    budget: int,
    key_col: str,
    cum_col: str = "cum_cost",
) -> None:
    """One micro-batch through the admission: select, write, ledger."""
    from lakehouse_ingestion_spark.operators.selection import (
        token_budget_select,
    )

    _check_budget(budget)
    spark = batch_df.sparkSession
    rows = epochlog.ledger_totals(
        spark, ledger_path, LEDGER_SCHEMA, epoch_id,
        F.sum("batch_cost").alias("s"),
    )
    if any(r[LEDGERED] for r in rows):
        return  # ledgered epoch: output is committed, skip outright
    already = int(rows[0]["s"] or 0) if rows else 0
    remaining = budget - already

    n_rows = 0
    batch_cost = 0
    if remaining > 0:
        # cache_registry: the per-epoch cache must be released after the
        # write, or a long-running stream leaks one cached DataFrame per
        # epoch (evicted-to-disk blocks are never freed mid-session)
        caches: list[DataFrame] = []
        try:
            admitted = token_budget_select(
                batch_df,
                score_col,
                cost_col,
                remaining,
                key_col,
                cum_col=cum_col,
                cache_registry=caches,
            )
            # make the audit column the GLOBAL running total, not batch-local
            admitted = admitted.withColumn(
                cum_col, F.col(cum_col) + F.lit(already)
            )
            m = epochlog.overwrite_epoch(
                admitted, out_path, epoch_id,
                rows=F.count(F.lit(1)),
                cost=F.coalesce(F.sum(F.col(cost_col).cast("long")), F.lit(0)),
            )
            n_rows = int(m["rows"])
            batch_cost = int(m["cost"])
        finally:
            for c in caches:
                c.unpersist()
    epochlog.append_ledger(
        spark, ledger_path, LEDGER_SCHEMA,
        [(epoch_id, n_rows, batch_cost, already + batch_cost)],
    )


# --------------------------------------------------------------------------
# Stratified admission: per-stratum (domain / language / source) quotas
# across micro-batches — the streaming counterpart of
# ``operators/selection.stratified_budget_select``, batch/stream parity
# for the green ``domain_budget`` oracle query.
# --------------------------------------------------------------------------

STRATIFIED_LEDGER_SCHEMA = (
    "epoch long, stratum string, rows long, batch_cost long, spent_after long"
)


def spent_by_stratum(
    spark: SparkSession, ledger_path: str
) -> dict[str | None, int]:
    """Cost admitted so far PER STRATUM ({} when nothing committed).

    The ledger holds one row per (epoch, stratum touched) — the
    O(#epochs x #strata-per-batch) shape keeps per-trigger state I/O
    batch-sized, never corpus-sized, exactly like the global ledger.
    """
    led = epochlog.read_ledger(spark, ledger_path, STRATIFIED_LEDGER_SCHEMA)
    if led is None:
        return {}
    rows = (
        led.groupBy("stratum").agg(F.sum("batch_cost").alias("s")).collect()
    )
    return {r["stratum"]: int(r["s"] or 0) for r in rows}


def admit_epoch_stratified(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    out_path: str,
    ledger_path: str,
    strata_col: str,
    score_col: str,
    cost_col: str,
    budgets: dict | int,
    key_col: str,
    default_budget: int = 0,
    cum_col: str = "cum_cost",
) -> None:
    """One micro-batch through per-stratum admission: each stratum's
    best rows fill whatever remains of THAT stratum's budget.

    ``budgets``/``default_budget`` follow
    :func:`~lakehouse_ingestion_spark.operators.selection.stratified_budget_select`:
    a dict ``stratum -> budget`` (missing strata get ``default_budget``)
    or one int applied to every stratum.  NULL strata form their own
    stratum keyed ``None`` in both the selection and the ledger; the
    strata column should be string-typed (domains / languages / sources
    are) — non-string values are ledgered by their string form.

    Replay contract matches :func:`admit_epoch`: data first
    (epoch-partitioned dynamic overwrite), ledger append after; a
    ledgered epoch is skipped; a crash between the two recomputes the
    identical admission (the selection is a pure function of batch
    content + the ledger-excluded spent map) and overwrites its own
    partition — convergent.  An epoch that admits nothing still ledgers
    one ``(epoch, NULL, 0, 0, 0)`` marker row so redelivery skips it.
    """
    from lakehouse_ingestion_spark.operators.selection import (
        stratified_budget_select,
    )

    if isinstance(budgets, dict):
        if any(int(b) < 0 for b in budgets.values()):
            raise ConfigError("all stratum budgets must be >= 0")
    else:
        _check_budget(budgets)
    _check_budget(default_budget, "default_budget")
    spark = batch_df.sparkSession
    rows = epochlog.ledger_totals(
        spark, ledger_path, STRATIFIED_LEDGER_SCHEMA, epoch_id,
        F.sum("batch_cost").alias("s"), by="stratum",
    )
    if any(r[LEDGERED] for r in rows):
        return  # ledgered epoch: output is committed, skip outright
    spent_map = {r["stratum"]: int(r["s"] or 0) for r in rows}

    flat = dict(budgets) if isinstance(budgets, dict) else None

    def budget_of(stratum) -> int:
        if flat is None:
            return int(budgets)
        return int(flat.get(stratum, default_budget))

    # Remaining budget for every stratum named in config OR history;
    # never-seen strata keep their configured budget via the default.
    known = set(spent_map) | (set(flat) if flat is not None else set())
    remaining = {s: max(0, budget_of(s) - spent_map.get(s, 0)) for s in known}
    eff_default = int(budgets) if flat is None else int(default_budget)

    caches: list[DataFrame] = []
    try:
        admitted = stratified_budget_select(
            batch_df,
            strata_col,
            score_col,
            cost_col,
            remaining,
            key_col,
            default_budget=eff_default,
            cum_col=cum_col,
            cache_registry=caches,
        )
        # audit column: GLOBAL per-stratum running total, not batch-local
        adj: Column = F.lit(0).cast("long")
        for s, v in spent_map.items():
            if not v:
                continue
            cond = (
                F.col(strata_col).isNull()
                if s is None
                else F.col(strata_col).cast("string") == s
            )
            adj = F.when(cond, F.lit(int(v)).cast("long")).otherwise(adj)
        admitted = admitted.withColumn(cum_col, F.col(cum_col) + adj)
        out_schema = _with_epoch(admitted.schema)
        epochlog.overwrite_epoch(admitted, out_path, epoch_id)
    finally:
        for c in caches:
            c.unpersist()

    # Per-stratum ledger stats from the just-written epoch partition —
    # partition-pruned, so this read is batch-sized.  The explicit schema
    # keeps the read well-defined when the epoch admitted zero rows.
    stats = (
        spark.read.schema(out_schema)
        .parquet(out_path)
        .filter(F.col(EPOCH_COL) == epoch_id)
        .groupBy(F.col(strata_col).cast("string").alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.col(cost_col).cast("long")), F.lit(0)).alias(
                "cost"
            ),
        )
        .collect()
    )
    if stats:
        ledger_rows = [
            (
                int(epoch_id),
                r["stratum"],
                int(r["rows"]),
                int(r["cost"]),
                spent_map.get(r["stratum"], 0) + int(r["cost"]),
            )
            for r in stats
        ]
    else:
        ledger_rows = [(int(epoch_id), None, 0, 0, 0)]
    epochlog.append_ledger(
        spark, ledger_path, STRATIFIED_LEDGER_SCHEMA, ledger_rows
    )


# --------------------------------------------------------------------------
# Share-based (mass-share / top-p) admission: the streaming counterpart
# of ``operators/selection.top_p_select`` — "keep the documents carrying
# fraction p of the quality mass SEEN SO FAR" instead of a fixed quota.
# Completes the budget family: global + stratified + streaming-global +
# streaming-stratified + streaming-share (r10 verdict task #7).
# --------------------------------------------------------------------------

SHARE_LEDGER_SCHEMA = (
    "epoch long, rows long, batch_mass double, admitted_mass double, "
    "seen_after double, admitted_after double"
)


def admit_epoch_share(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    out_path: str,
    ledger_path: str,
    score_col: str,
    p: float,
    key_col: str,
    cum_col: str = "cum_score",
) -> None:
    """One micro-batch through mass-share admission.

    Cross-batch semantics: the ledger carries ``seen`` (total score mass
    ARRIVED, admitted or not) and ``admitted`` (mass admitted).  Each
    epoch may admit up to ``allowed = p * (seen + batch_mass) -
    admitted`` of new mass, filled best-first within the batch under
    (score DESC, key ASC) with the crossing row included — so after
    every epoch ``admitted >= p * seen`` (coverage holds continuously;
    a stream cannot re-rank what it already admitted, so per-epoch
    accrual is the strongest share guarantee available online).  An
    epoch whose mass is all below the bar still ACCRUES ``seen`` mass,
    raising later epochs' allowance — mass-share is relative, unlike
    the absolute quotas of :func:`admit_epoch`.

    Scores must be non-negative (mass monotone); NULL scores carry no
    mass and are never admitted.  All masses are rounded to 6dp at the
    ledger boundary and the admission comparison rounds both sides to
    6dp, so replay after a crash (which re-derives ``allowed`` from the
    same ledger rows) re-selects the identical set — the same
    determinism posture as ``top_p_select``'s 9dp boundary.

    Within-epoch selection sorts the BATCH (one window over the
    micro-batch): per-trigger batches are trigger-sized by construction,
    not corpus-sized — the stream's scale axis is epochs, and per-epoch
    state I/O stays O(#epochs) ledger rows, exactly like the quota
    ledgers above.

    Replay contract matches :func:`admit_epoch`: data first
    (epoch-partitioned dynamic overwrite), ledger append after; a
    ledgered epoch is skipped outright; a crash between the two
    recomputes the identical admission and overwrites its own partition.
    """
    from pyspark.sql import Window

    from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint

    if not 0 < p <= 1:
        raise ConfigError(f"p must be in (0, 1], got {p}")
    spark = batch_df.sparkSession
    rows = epochlog.ledger_totals(
        spark, ledger_path, SHARE_LEDGER_SCHEMA, epoch_id,
        F.sum("batch_mass").alias("s"), F.sum("admitted_mass").alias("a"),
    )
    if any(r[LEDGERED] for r in rows):
        return  # ledgered epoch: output is committed, skip outright
    seen = round(float(rows[0]["s"] or 0.0), 6) if rows else 0.0
    admitted = round(float(rows[0]["a"] or 0.0), 6) if rows else 0.0

    # ONE materialization of the batch (r12, guide §1.2): the windowed
    # prefix-sum frame is locally checkpointed by the guard aggregate's
    # job, so the guard totals, the admission filter and the write all
    # read the same blocks instead of re-scanning (and re-sorting) the
    # batch per action.  NULL-score rows carry no mass, are never
    # admitted, and contribute nothing to the guard totals — filtering
    # them before the window leaves every total unchanged.
    w_prev = Window.orderBy(
        F.col(score_col).desc(), F.col(key_col).asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    base = (
        batch_df.filter(F.col(score_col).isNotNull())
        .withColumn(
            "__prev",
            F.coalesce(
                F.sum(F.col(score_col).cast("double")).over(w_prev),
                F.lit(0.0),
            ),
        )
        .localCheckpoint(eager=False)  # materialized by the guard below
    )
    try:
        guard = base.agg(
            F.sum((F.col(score_col) < 0).cast("long")).alias("neg"),
            F.round(
                F.coalesce(F.sum(F.col(score_col).cast("double")), F.lit(0.0)), 6
            ).alias("mass"),
        ).collect()[0]
        if guard["neg"]:
            raise ConfigError(
                f"{score_col} must be non-negative for share admission"
            )
        batch_mass = round(float(guard["mass"]), 6)
        allowed = round(p * (seen + batch_mass) - admitted, 6)

        n_rows, adm_mass = 0, 0.0
        if allowed > 0 and batch_mass > 0:
            sel = (
                base.filter(F.round(F.col("__prev"), 6) < F.lit(allowed))
                .withColumn(
                    cum_col,
                    F.col("__prev")
                    + F.col(score_col).cast("double")
                    + F.lit(admitted),
                )
                .drop("__prev")
            )
            metrics = epochlog.overwrite_epoch(
                sel, out_path, epoch_id,
                rows=F.count(F.lit(1)),
                mass=F.coalesce(
                    F.sum(F.col(score_col).cast("double")), F.lit(0.0)
                ),
            )
            n_rows = int(metrics["rows"])
            adm_mass = round(float(metrics["mass"]), 6)
    finally:
        release_local_checkpoint(base)
    epochlog.append_ledger(
        spark, ledger_path, SHARE_LEDGER_SCHEMA,
        [(
            int(epoch_id),
            n_rows,
            batch_mass,
            adm_mass,
            round(seen + batch_mass, 6),
            round(admitted + adm_mass, 6),
        )],
    )


SHARE_STRAT_LEDGER_SCHEMA = (
    "epoch long, stratum string, rows long, batch_mass double, "
    "admitted_mass double, seen_after double, admitted_after double"
)


def admit_epoch_share_stratified(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    out_path: str,
    ledger_path: str,
    strata_col: str,
    score_col: str,
    p: float | dict,
    key_col: str,
    default_p: float = 0.0,
    cum_col: str = "cum_score",
) -> None:
    """Per-stratum mass-share admission: each stratum independently
    keeps the documents carrying fraction ``p(stratum)`` of ITS mass
    seen so far — the last cell of the budget-family matrix
    (quota/share x global/stratified x batch/stream; the batch
    stratified-share case is :func:`top_p_select` itself).

    ``p``: one float for every stratum, or a dict ``stratum -> p``
    (missing strata get ``default_p``; 0.0 = admit nothing from them —
    loud beats silent inclusion, same posture as
    ``stratified_budget_select``'s ``default_budget``).  NULL strata
    form their own stratum keyed ``None``; strata are ledgered by their
    string form.  Per-stratum accrual follows :func:`admit_epoch_share`:
    ``allowed(s) = p(s) * seen_new(s) - admitted_old(s)``, filled
    best-first within the batch's stratum partition with the crossing
    row included, 6dp-rounded boundaries for replay determinism.

    Ledger: one row per (epoch, stratum touched) — per-trigger I/O is
    batch-sized + O(#epochs x #strata-per-batch), never corpus-sized.
    Replay contract identical to the other admissions: data first
    (epoch-partitioned dynamic overwrite), ledger append after;
    ledgered epochs skip; crash recompute is a pure function of batch
    content + the ledger-excluded maps.  An epoch admitting nothing
    still ledgers a marker row (possibly with positive ``batch_mass``
    accrual rows) so redelivery skips it.
    """
    flat = dict(p) if isinstance(p, dict) else None
    if flat is None and not 0 < float(p) <= 1:
        raise ConfigError(f"p must be in (0, 1], got {p}")
    if flat is not None and any(not 0 < float(v) <= 1 for v in flat.values()):
        raise ConfigError("all stratum p values must be in (0, 1]")
    if not 0 <= float(default_p) <= 1:
        raise ConfigError(f"default_p must be in [0, 1], got {default_p}")

    def p_of(stratum) -> float:
        if flat is None:
            return float(p)
        return float(flat.get(stratum, default_p))

    spark = batch_df.sparkSession
    rows = epochlog.ledger_totals(
        spark, ledger_path, SHARE_STRAT_LEDGER_SCHEMA, epoch_id,
        F.sum("batch_mass").alias("s"), F.sum("admitted_mass").alias("a"),
        by="stratum",
    )
    if any(r[LEDGERED] for r in rows):
        return  # ledgered epoch: output is committed, skip outright
    seen_map = {r["stratum"]: round(float(r["s"] or 0.0), 6) for r in rows}
    adm_map = {r["stratum"]: round(float(r["a"] or 0.0), 6) for r in rows}

    skey = F.col(strata_col).cast("string")
    stats = batch_df.groupBy(skey.alias("stratum")).agg(
        F.sum((F.col(score_col) < 0).cast("long")).alias("neg"),
        F.round(
            F.coalesce(F.sum(F.col(score_col).cast("double")), F.lit(0.0)), 6
        ).alias("mass"),
    ).collect()
    if any(r["neg"] for r in stats):
        raise ConfigError(f"{score_col} must be non-negative for share admission")
    batch_mass = {r["stratum"]: round(float(r["mass"]), 6) for r in stats}

    allowed: dict[str | None, float] = {}
    for s, bm in batch_mass.items():
        seen_new = round(seen_map.get(s, 0.0) + bm, 6)
        allowed[s] = round(p_of(s) * seen_new - adm_map.get(s, 0.0), 6)

    # per-row allowed threshold via a when-chain over the (bounded)
    # batch strata — same idiom as admit_epoch_stratified's spent map
    allowed_expr: Column = F.lit(0.0)
    adj_expr: Column = F.lit(0.0)
    for s, a in allowed.items():
        cond = F.col(strata_col).isNull() if s is None else (skey == s)
        allowed_expr = F.when(cond, F.lit(a)).otherwise(allowed_expr)
        prior = adm_map.get(s, 0.0)
        adj_expr = F.when(cond, F.lit(prior)).otherwise(adj_expr)

    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy(strata_col)
        .orderBy(F.col(score_col).desc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = (
        batch_df.filter(F.col(score_col).isNotNull())
        .withColumn(
            "__prev",
            F.coalesce(
                F.sum(F.col(score_col).cast("double")).over(w_prev), F.lit(0.0)
            ),
        )
        .filter(F.round(F.col("__prev"), 6) < allowed_expr)
        .withColumn(
            cum_col, F.col("__prev") + F.col(score_col).cast("double") + adj_expr
        )
        .drop("__prev")
    )
    out_schema = _with_epoch(sel.schema)
    epochlog.overwrite_epoch(sel, out_path, epoch_id)

    # per-stratum admitted stats from the just-written epoch partition
    # (partition-pruned, batch-sized read — the stratified-quota idiom)
    adm_stats = {
        r["stratum"]: (int(r["rows"]), round(float(r["mass"]), 6))
        for r in (
            spark.read.schema(out_schema)
            .parquet(out_path)
            .filter(F.col(EPOCH_COL) == epoch_id)
            .groupBy(F.col(strata_col).cast("string").alias("stratum"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.sum(F.col(score_col).cast("double")), F.lit(0.0)
                ).alias("mass"),
            )
            .collect()
        )
    }
    ledger_rows = []
    for s, bm in batch_mass.items():
        n, am = adm_stats.get(s, (0, 0.0))
        ledger_rows.append(
            (
                int(epoch_id),
                s,
                n,
                bm,
                am,
                round(seen_map.get(s, 0.0) + bm, 6),
                round(adm_map.get(s, 0.0) + am, 6),
            )
        )
    if not ledger_rows:
        ledger_rows = [(int(epoch_id), None, 0, 0.0, 0.0, 0.0, 0.0)]
    epochlog.append_ledger(
        spark, ledger_path, SHARE_STRAT_LEDGER_SCHEMA, ledger_rows
    )
