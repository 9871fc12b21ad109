"""Streaming budget admission: admit the best documents from a stream
until a token quota (``admit_epoch``) or a share of the score mass
(``admit_epoch_share``) is used up, for the whole stream or per stratum.

The streaming counterparts of ``operators/selection.token_budget_select``
and ``top_p_select`` — "keep filling the 1B-token training budget as
crawl batches arrive, best-first within each batch, stop at quota".
Cross-batch semantics are first-come-first-served by epoch (a stream
cannot re-rank what it has already admitted); within an epoch the
batch's (score DESC, key ASC) prefix fills whatever remains.

With ``strata_col`` every stratum (domain, language, source) fills its
own quota or share; without it the whole stream is one stratum, keyed
NULL. Strata are keyed by their string form
(``operators/selection.stratum_key``), NULL staying its own stratum.

State is ONE tiny ledger per kind, a row per (epoch, stratum that the
epoch touched), read back as per-stratum totals. A global admission
writes exactly one row per epoch, with a NULL ``stratum``; a ledger
written before the ``stratum`` column existed reads that column as NULL,
so it carries on unchanged. Nothing corpus-sized is ever read or written
per trigger: per-batch I/O is the batch itself plus the O(#epochs x
#strata) ledger, and the ledger stats ride the epoch write as
``observe()`` metrics, so the written partition is never read back.

Replay safety is the ``streaming/epochlog`` protocol: a ledgered epoch
is skipped, output lands in its own epoch partition FIRST, the ledger
rows append AFTER. A redelivered epoch that crashed between the two
recomputes the identical admission (the ledger excludes the crashed
epoch, and the selection is a pure function of batch content) and
overwrites its own partition. An epoch that admits nothing still
ledgers a row, so redelivery skips it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.errors import ConfigError
from lakehouse_ingestion_spark.operators.selection import (
    budget_spec,
    prefix_select,
    stratum_key,
)
from lakehouse_ingestion_spark.streaming import epochlog
from lakehouse_ingestion_spark.streaming.epochlog import LEDGERED

LEDGER_SCHEMA = (
    "epoch long, stratum string, rows long, batch_cost long, spent_after long"
)
SHARE_LEDGER_SCHEMA = (
    "epoch long, stratum string, rows long, batch_mass double, "
    "admitted_mass double, seen_after double, admitted_after double"
)


def spent(spark: SparkSession, ledger_path: str) -> int:
    """Total cost admitted so far (0 when no epoch has committed)."""
    led = epochlog.read_ledger(spark, ledger_path, LEDGER_SCHEMA)
    if led is None:
        return 0
    row = led.agg(F.sum("batch_cost").alias("s")).collect()[0]
    return int(row["s"] or 0)


def spent_by_stratum(
    spark: SparkSession, ledger_path: str
) -> dict[str | None, int]:
    """Cost admitted so far PER STRATUM ({} when nothing committed).
    Marker rows (``rows = 0``: an epoch that admitted nothing) are no
    stratum's spend; every other quota row has ``rows > 0``."""
    led = epochlog.read_ledger(spark, ledger_path, LEDGER_SCHEMA)
    if led is None:
        return {}
    rows = (
        led.where(F.col("rows") > 0)
        .groupBy("stratum")
        .agg(F.sum("batch_cost").alias("s"))
        .collect()
    )
    return {r["stratum"]: int(r["s"] or 0) for r in rows}


def _ledger_state(
    spark: SparkSession,
    ledger_path: str,
    schema: str,
    epoch_id: int,
    strata_col: str | None,
    *totals: Column,
) -> dict[str | None, Row] | None:
    """The ledger's ``totals`` per stratum, or None when ``epoch_id`` is
    already ledgered (its output is committed: skip it outright). A
    global admission sums the whole ledger as the one stratum None."""
    by = "stratum" if strata_col is not None else None
    rows = epochlog.ledger_totals(
        spark, ledger_path, schema, epoch_id, *totals, by=by
    )
    if any(r[LEDGERED] for r in rows):
        return None
    return {(r["stratum"] if by else None): r for r in rows}


def _stratum(strata_col: str | None) -> Column:
    if strata_col is None:
        return F.lit(None).cast("string")
    return F.col(strata_col).cast("string")


def _by_stratum(strata_col: str | None, values: dict, default) -> Column:
    """Per-row ``values[stratum]`` (``default`` for other strata): a
    CASE over the bounded strata of the config and the ledger."""
    key = _stratum(strata_col)
    out = F.lit(default)
    for s, v in values.items():
        out = F.when(key.eqNullSafe(s), F.lit(v)).otherwise(out)
    return out


def _write_epoch(
    df: DataFrame,
    out_path: str,
    epoch_id: int,
    strata_col: str | None,
    strata: list[str | None],
    value: Column,
) -> dict[str | None, tuple[int, object]]:
    """Write the epoch partition; for every stratum in ``strata`` return
    (rows, sum of ``value``) over the rows written, observed on the write
    job itself."""
    key = _stratum(strata_col)
    metrics = {}
    for i, s in enumerate(strata):
        hit = key.eqNullSafe(s)
        metrics[f"n{i}"] = F.count(F.when(hit, 1))
        metrics[f"v{i}"] = F.sum(F.when(hit, value))
    m = epochlog.overwrite_epoch(df, out_path, epoch_id, **metrics)
    return {
        s: (int(m.get(f"n{i}") or 0), m.get(f"v{i}") or 0)
        for i, s in enumerate(strata)
    }


def admit_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    out_path: str,
    ledger_path: str,
    score_col: str,
    cost_col: str,
    budget: dict | int,
    key_col: str,
    strata_col: str | None = None,
    default_budget: int = 0,
    cum_col: str = "cum_cost",
) -> None:
    """One micro-batch through quota admission: select, write, ledger.

    ``budget``/``strata_col``/``default_budget`` follow
    :func:`~lakehouse_ingestion_spark.operators.selection.token_budget_select`:
    each stratum's best rows fill whatever remains of THAT stratum's
    budget. Once every known stratum's budget is spent and unseen strata
    get 0, an epoch ledgers its marker row without touching the data
    path, so the stream can keep running as a no-op or be stopped by
    the caller polling ``spent()``.

    Ledger rows: one per stratum that admitted rows, or one
    ``(epoch, NULL, 0, 0, spent)`` marker.
    """
    budgets, default = budget_spec(budget, default_budget, strata_col)
    spark = batch_df.sparkSession
    state = _ledger_state(
        spark, ledger_path, LEDGER_SCHEMA, epoch_id, strata_col,
        F.sum("batch_cost").alias("s"),
    )
    if state is None:
        return
    spent_map = {s: int(r["s"] or 0) for s, r in state.items()}
    remaining = {
        s: max(0, budgets.get(s, default) - spent_map.get(s, 0))
        for s in {*budgets, *spent_map}
    }

    stats: dict[str | None, tuple[int, object]] = {}
    if default or any(remaining.values()):
        # cache_registry: the per-epoch cache must be released after the
        # write, or a long-running stream leaks one cached DataFrame per
        # epoch (evicted-to-disk blocks are never freed mid-session)
        caches: list[DataFrame] = []
        try:
            admitted, strata = prefix_select(
                batch_df, score_col, cost_col, key_col, remaining, default,
                strata_col=strata_col, cum_col=cum_col, cache_registry=caches,
            )
            # the audit column is the running total across epochs
            admitted = admitted.withColumn(
                cum_col, F.col(cum_col) + _by_stratum(strata_col, spent_map, 0)
            )
            stats = _write_epoch(
                admitted, out_path, epoch_id, strata_col, strata,
                F.col(cost_col).cast("long"),
            )
        finally:
            for c in caches:
                c.unpersist()
    ledger_rows = [
        (int(epoch_id), s, n, int(c), spent_map.get(s, 0) + int(c))
        for s, (n, c) in stats.items()
        if n
    ] or [(int(epoch_id), None, 0, 0, spent_map.get(None, 0))]
    epochlog.append_ledger(spark, ledger_path, LEDGER_SCHEMA, ledger_rows)


def _share_spec(
    p: dict | float, default_p: float, strata_col: str | None
) -> tuple[dict[str | None, float], float]:
    """Validate a mass share and normalize it like
    :func:`~lakehouse_ingestion_spark.operators.selection.budget_spec`."""
    if not 0 <= float(default_p) <= 1:
        raise ConfigError(f"default_p must be in [0, 1], got {default_p}")
    if isinstance(p, dict):
        if strata_col is None:
            raise ConfigError("a per-stratum p mapping requires strata_col")
        ps = {stratum_key(k): float(v) for k, v in p.items()}
        if any(not 0 < v <= 1 for v in ps.values()):
            raise ConfigError("all stratum p values must be in (0, 1]")
        return ps, float(default_p)
    if not 0 < float(p) <= 1:
        raise ConfigError(f"p must be in (0, 1], got {p}")
    if strata_col is None:
        return {None: float(p)}, 0.0
    return {}, float(p)


def admit_epoch_share(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    out_path: str,
    ledger_path: str,
    score_col: str,
    p: dict | float,
    key_col: str,
    strata_col: str | None = None,
    default_p: float = 0.0,
    cum_col: str = "cum_score",
) -> None:
    """One micro-batch through mass-share admission.

    Cross-batch semantics: the ledger carries ``seen`` (total score mass
    ARRIVED, admitted or not) and ``admitted`` (mass admitted) per
    stratum. Each epoch may admit up to ``allowed = p * (seen +
    batch_mass) - admitted`` of new mass, filled best-first within the
    batch under (score DESC, key ASC) with the crossing row included —
    so after every epoch ``admitted >= p * seen`` (coverage holds
    continuously; a stream cannot re-rank what it already admitted, so
    per-epoch accrual is the strongest share guarantee available
    online). An epoch whose mass is all below the bar still ACCRUES
    ``seen`` mass, raising later epochs' allowance — mass-share is
    relative, unlike the absolute quotas of :func:`admit_epoch`.

    ``p``: one share for the stream, or with ``strata_col`` one share
    for every stratum or a mapping ``stratum -> p`` (strata it does not
    name get ``default_p``; 0.0 = admit nothing from them, their mass
    still accrues). The batch stratified-share case is
    ``top_p_select`` itself.

    Scores must be non-negative (mass monotone); NULL scores carry no
    mass and are never admitted. All masses are rounded to 6dp at the
    ledger boundary and the admission comparison rounds both sides to
    6dp, so replay after a crash (which re-derives ``allowed`` from the
    same ledger rows) re-selects the identical set — the same
    determinism posture as ``top_p_select``'s 9dp boundary.

    Within-epoch selection sorts the BATCH (one window over the
    micro-batch, per stratum): per-trigger batches are trigger-sized by
    construction, not corpus-sized — the stream's scale axis is epochs.

    Ledger rows: one per stratum of the batch, or one NULL-stratum
    marker when the batch has no scored rows.
    """
    ps, default = _share_spec(p, default_p, strata_col)
    spark = batch_df.sparkSession
    state = _ledger_state(
        spark, ledger_path, SHARE_LEDGER_SCHEMA, epoch_id, strata_col,
        F.sum("batch_mass").alias("s"), F.sum("admitted_mass").alias("a"),
    )
    if state is None:
        return
    seen = {s: round(float(r["s"] or 0.0), 6) for s, r in state.items()}
    admitted = {s: round(float(r["a"] or 0.0), 6) for s, r in state.items()}

    # ONE materialization of the batch: the windowed prefix-sum frame is
    # locally checkpointed by the guard aggregate's job, so the guard
    # totals, the admission filter and the write all read the same
    # blocks instead of re-scanning (and re-sorting) the batch per
    # action. NULL-score rows carry no mass, are never admitted, and
    # contribute nothing to the guard totals — filtering them before the
    # window leaves every total unchanged.
    from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint

    parts = [strata_col] if strata_col is not None else []
    w_prev = (
        Window.partitionBy(*parts)
        .orderBy(F.col(score_col).desc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    score = F.col(score_col).cast("double")
    base = (
        batch_df.filter(F.col(score_col).isNotNull())
        .withColumn("__prev", F.coalesce(F.sum(score).over(w_prev), F.lit(0.0)))
        .localCheckpoint(eager=False)  # materialized by the guard below
    )
    try:
        grouping = [_stratum(strata_col).alias("stratum")] if parts else []
        guard = (
            base.groupBy(*grouping)
            .agg(
                F.sum((F.col(score_col) < 0).cast("long")).alias("neg"),
                F.round(F.coalesce(F.sum(score), F.lit(0.0)), 6).alias("mass"),
            )
            .collect()
        )
        if any(r["neg"] for r in guard):
            raise ConfigError(
                f"{score_col} must be non-negative for share admission"
            )
        batch_mass = {
            (r["stratum"] if parts else None): round(float(r["mass"]), 6)
            for r in guard
        }
        allowed = {
            s: round(
                ps.get(s, default) * (seen.get(s, 0.0) + bm)
                - admitted.get(s, 0.0),
                6,
            )
            for s, bm in batch_mass.items()
            if bm > 0
        }
        open_strata = [s for s, a in allowed.items() if a > 0]
        stats: dict[str | None, tuple[int, object]] = {}
        if open_strata:
            sel = (
                base.filter(
                    F.round(F.col("__prev"), 6)
                    < _by_stratum(strata_col, allowed, 0.0)
                )
                .withColumn(
                    cum_col,
                    F.col("__prev") + score
                    + _by_stratum(strata_col, admitted, 0.0),
                )
                .drop("__prev")
            )
            stats = _write_epoch(
                sel, out_path, epoch_id, strata_col, open_strata, score
            )
    finally:
        release_local_checkpoint(base)
    ledger_rows = []
    for s, bm in batch_mass.items():
        n, am = stats.get(s, (0, 0.0))
        am = round(float(am), 6)
        ledger_rows.append((
            int(epoch_id), s, n, bm, am,
            round(seen.get(s, 0.0) + bm, 6),
            round(admitted.get(s, 0.0) + am, 6),
        ))
    ledger_rows = ledger_rows or [(
        int(epoch_id), None, 0, 0.0, 0.0,
        seen.get(None, 0.0), admitted.get(None, 0.0),
    )]
    epochlog.append_ledger(spark, ledger_path, SHARE_LEDGER_SCHEMA, ledger_rows)
