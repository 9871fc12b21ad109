"""DQ checks.

Parity set (reference ``dq/checks/*.scala``): NotNull, Range, Regex,
UniqueKey, RowCount — plus the declared checks (SURVEY.md D15-D17):
set-membership (``allowed_values`` metadata), freshness (no future
timestamps), referential integrity (FK anti-join).

Design difference vs the reference (which runs 2-3 ``df.count()`` actions
per check — ``dq/checks/NotNullCheck.scala:35-37`` et al.): every
row-predicate check here contributes *aggregate expressions* that
``DQRuleSet`` fuses into one pass — N checks, ONE scan, riding the job
that pins the batch as ``observe()`` metrics. Each check also exposes
``violation_predicate`` so the quarantine router can split pass/fail
rows without re-deriving logic.
"""

from __future__ import annotations

import functools
import itertools
import operator
from dataclasses import dataclass, field as dc_field
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.dq.model import DQResult, DQStatus


def _all(preds) -> Column:
    return functools.reduce(operator.and_, preds)


def _status(violation_fraction: float, failure_threshold: float) -> DQStatus:
    """Reference semantics (``NotNullCheck.scala:40-55``): 0 violations ->
    PASS; fraction <= threshold -> WARNING; else FAIL."""
    if violation_fraction == 0.0:
        return DQStatus.PASS
    if violation_fraction <= failure_threshold:
        return DQStatus.WARNING
    return DQStatus.FAIL


class DQCheck:
    """Base: a check either contributes fused aggregate expressions
    (agg_exprs/evaluate) or runs standalone (run, ``fusable = False``)."""

    name: str = "dq_check"
    fusable = True
    observable = True  # agg_exprs may ride DataFrame.observe (no DISTINCT)

    def required_columns(self) -> list[str]:
        return []

    def agg_exprs(self) -> list[Column]:
        """Aggregate expressions, each aliased ``{name}__{metric}``."""
        raise NotImplementedError

    def evaluate(self, row: dict) -> DQResult:
        """Turn the fused agg row into a DQResult."""
        raise NotImplementedError

    def violation_predicate(self) -> Optional[Column]:
        """Row-level predicate that is True for VIOLATING rows (for
        quarantine routing); None if not row-expressible."""
        return None

    def run(self, df: DataFrame) -> DQResult:
        """Standalone execution (single check). Fused execution via
        DQRuleSet is preferred."""
        missing = [c for c in self.required_columns() if c not in df.columns]
        if missing:
            return DQResult(self.name, DQStatus.FAIL, {}, f"missing columns: {missing}")
        row = df.agg(*self.agg_exprs()).collect()[0].asDict()
        return self.evaluate(row)

    # -- shared helpers -----------------------------------------------------
    _uid_counter = itertools.count()

    def _alias(self, metric: str) -> str:
        # per-INSTANCE unique aliases: two checks may share a name (e.g.
        # two RangeChecks on one column with different bounds) and
        # name-only aliases would clobber each other in the fused agg row,
        # silently evaluating one check against the other's metrics
        uid = self.__dict__.get("_uid")
        if uid is None:
            uid = self.__dict__["_uid"] = next(DQCheck._uid_counter)
        return f"{self.name}__{uid}__{metric}"


@dataclass
class _PredicateCheck(DQCheck):
    """A check defined by a row violation predicate + failure threshold.

    Violation fraction = violations / rows (0 rows -> PASS).
    """

    failure_threshold: float = 0.0

    def _predicate(self) -> Column:  # True == violation
        raise NotImplementedError

    def violation_predicate(self) -> Optional[Column]:
        return self._predicate()

    def agg_exprs(self) -> list[Column]:
        return [
            F.count(F.lit(1)).alias(self._alias("total")),
            F.sum(self._predicate().cast("long")).alias(self._alias("violations")),
        ]

    def evaluate(self, row: dict) -> DQResult:
        total = int(row[self._alias("total")] or 0)
        violations = int(row[self._alias("violations")] or 0)
        frac = (violations / total) if total else 0.0
        return DQResult(
            self.name,
            _status(frac, self.failure_threshold),
            {"total_rows": total, "violations": violations, "violation_fraction": frac},
            f"{violations}/{total} rows violate {self.name}",
        )


@dataclass
class NotNullCheck(_PredicateCheck):
    """Fraction of nulls in ``column`` vs threshold.
    Parity: ``dq/checks/NotNullCheck.scala:22-57``."""

    column: str = ""

    def __post_init__(self):
        self.name = f"not_null[{self.column}]"

    def required_columns(self):
        return [self.column]

    def _predicate(self) -> Column:
        return F.col(self.column).isNull()


@dataclass
class RangeCheck(_PredicateCheck):
    """Fraction of non-null values outside [min, max] (either bound
    optional, at least one required).
    Parity: ``dq/checks/RangeCheck.scala:35-88``."""

    column: str = ""
    min_value: float | None = None
    max_value: float | None = None

    def __post_init__(self):
        if self.min_value is None and self.max_value is None:
            raise ValueError("RangeCheck requires at least one of min_value/max_value")
        self.name = f"range[{self.column}]"

    def required_columns(self):
        return [self.column]

    def _predicate(self) -> Column:
        c = F.col(self.column)
        conds = []
        if self.min_value is not None:
            conds.append(c < F.lit(self.min_value))
        if self.max_value is not None:
            conds.append(c > F.lit(self.max_value))
        out_of_range = conds[0] if len(conds) == 1 else (conds[0] | conds[1])
        return c.isNotNull() & out_of_range


@dataclass
class RegexCheck(_PredicateCheck):
    """Fraction of non-null values NOT matching ``pattern``.
    Parity: ``dq/checks/RegexCheck.scala:24-69``."""

    column: str = ""
    pattern: str = ""

    def __post_init__(self):
        self.name = f"regex[{self.column}]"

    def required_columns(self):
        return [self.column]

    def _predicate(self) -> Column:
        c = F.col(self.column)
        return c.isNotNull() & ~c.rlike(self.pattern)


@dataclass
class SetMembershipCheck(_PredicateCheck):
    """Fraction of non-null values outside ``allowed_values``
    (SURVEY.md D16, driven by schema metadata ``allowed_values``)."""

    column: str = ""
    allowed_values: list = dc_field(default_factory=list)

    def __post_init__(self):
        self.name = f"in_set[{self.column}]"

    def required_columns(self):
        return [self.column]

    def _predicate(self) -> Column:
        c = F.col(self.column)
        return c.isNotNull() & ~c.isin(self.allowed_values)


@dataclass
class FreshnessCheck(_PredicateCheck):
    """Timestamp must not be in the future (SURVEY.md D17 — \"transaction
    _time must not be in future\"); optionally also not older than
    ``max_age_hours``. ``now`` injectable for deterministic tests."""

    column: str = ""
    max_age_hours: float | None = None
    now: Optional[Column] = None

    def __post_init__(self):
        self.name = f"freshness[{self.column}]"

    def required_columns(self):
        return [self.column]

    def _predicate(self) -> Column:
        c = F.col(self.column)
        now = self.now if self.now is not None else F.current_timestamp()
        pred = c.isNotNull() & (c > now)
        if self.max_age_hours is not None:
            age_limit = now - F.expr(f"INTERVAL {int(self.max_age_hours * 3600)} SECONDS")
            pred = pred | (c.isNotNull() & (c < age_limit))
        return pred


@dataclass
class UniqueKeyCheck(DQCheck):
    """Duplicate fraction over a composite key: (total - distinct(keys)) /
    total. Parity: ``dq/checks/UniqueKeyCheck.scala:24-68``.

    Fused via ``count_distinct`` (exact). For 100 TB scale prefer
    ``approx=True`` -> HLL ``approx_count_distinct`` (no exact-distinct
    shuffle explosion); the threshold comparison then tolerates HLL error.
    """

    key_columns: list[str] = dc_field(default_factory=list)
    failure_threshold: float = 0.0
    approx: bool = False

    def __post_init__(self):
        self.name = f"unique_key[{','.join(self.key_columns)}]"

    @property
    def observable(self) -> bool:
        return self.approx  # observe() rejects the exact count_distinct

    def required_columns(self):
        return list(self.key_columns)

    def agg_exprs(self) -> list[Column]:
        cols = [F.col(c) for c in self.key_columns]
        all_nonnull = _all(c.isNotNull() for c in cols)
        # count_distinct skips rows with any null key; total must match
        # that population or null-key rows get miscounted as duplicates
        # (the approx path masks null-key rows for the same reason)
        distinct = (
            F.approx_count_distinct(
                F.when(all_nonnull, F.struct(*cols)).otherwise(F.lit(None))
            )
            if self.approx
            else F.count_distinct(*cols)
        )
        return [
            F.sum(all_nonnull.cast("long")).alias(self._alias("total")),
            distinct.alias(self._alias("distinct")),
        ]

    def evaluate(self, row: dict) -> DQResult:
        total = int(row[self._alias("total")] or 0)
        distinct = int(row[self._alias("distinct")] or 0)
        dups = max(total - distinct, 0)
        frac = (dups / total) if total else 0.0
        return DQResult(
            self.name,
            _status(frac, self.failure_threshold),
            {"total_rows": total, "distinct_keys": distinct, "duplicates": dups,
             "duplicate_fraction": frac},
            f"{dups}/{total} duplicate rows on key ({', '.join(self.key_columns)})",
        )


@dataclass
class RowCountCheck(DQCheck):
    """Row count within [min_rows, max_rows].
    Parity: ``dq/checks/RowCountCheck.scala:35-80``."""

    min_rows: int | None = None
    max_rows: int | None = None
    name: str = "row_count"

    def agg_exprs(self) -> list[Column]:
        return [F.count(F.lit(1)).alias(self._alias("total"))]

    def evaluate(self, row: dict) -> DQResult:
        total = int(row[self._alias("total")] or 0)
        ok = (self.min_rows is None or total >= self.min_rows) and (
            self.max_rows is None or total <= self.max_rows
        )
        return DQResult(
            self.name,
            DQStatus.PASS if ok else DQStatus.FAIL,
            {"total_rows": total},
            f"row count {total} vs [{self.min_rows}, {self.max_rows}]",
        )


@dataclass
class DriftCheck(DQCheck):
    """Distribution-drift guard: the batch's mean (and optionally null
    fraction) of a numeric column must sit near a stored reference
    profile. The standard "schema is fine but the DATA went wrong"
    failure ingestion teams hit — a sensor stuck at zero, a currency
    column that silently changed units — which every schema/null check
    passes. Reference values come from a prior profile run
    (``operators/profile.profile_table`` or any history you trust);
    this check is the batch-time comparator.

    PASS iff ``|batch_mean - ref_mean| <= max_sigmas * ref_std`` (and,
    when ``max_null_fraction_delta`` is set, the null fraction moved by
    at most that much from ``ref_null_fraction``). Fuses into the
    single-pass DQ aggregate — one avg + counts, no extra scan. A
    zero-row batch PASSes (volume belongs to RowCountCheck);
    ``ref_std=0`` means the reference was constant — any mean change
    fails.
    """

    column: str = ""
    ref_mean: float = 0.0
    ref_std: float = 0.0
    max_sigmas: float = 3.0
    ref_null_fraction: float | None = None
    max_null_fraction_delta: float | None = None

    def __post_init__(self):
        self.name = f"drift[{self.column}]"
        if self.ref_std < 0:
            raise ValueError(f"ref_std must be >= 0, got {self.ref_std}")
        if self.max_sigmas <= 0:
            raise ValueError(f"max_sigmas must be > 0, got {self.max_sigmas}")

    def required_columns(self):
        return [self.column]

    def agg_exprs(self) -> list[Column]:
        c = F.col(self.column)
        return [
            F.count(F.lit(1)).alias(self._alias("total")),
            F.avg(c.cast("double")).alias(self._alias("mean")),
            F.count(F.when(c.isNull(), 1)).alias(self._alias("nulls")),
        ]

    def evaluate(self, row: dict) -> DQResult:
        total = int(row[self._alias("total")] or 0)
        mean = row[self._alias("mean")]
        nulls = int(row[self._alias("nulls")] or 0)
        if total == 0:
            return DQResult(
                self.name, DQStatus.PASS, {"total_rows": 0},
                "empty batch: drift not evaluable",
            )
        metrics: dict = {"total_rows": total, "batch_mean": mean,
                         "ref_mean": self.ref_mean, "ref_std": self.ref_std}
        if mean is None:
            # every value null: mean drift unevaluable; the null-side
            # guard (or a NotNullCheck) owns this batch
            mean_ok = self.max_null_fraction_delta is not None
            msg = "all values null"
        else:
            delta = abs(mean - self.ref_mean)
            bound = self.max_sigmas * self.ref_std
            mean_ok = delta <= bound
            metrics["mean_delta"] = delta
            metrics["mean_bound"] = bound
            msg = (
                f"mean {mean:.6g} vs ref {self.ref_mean:.6g} "
                f"(|delta| {delta:.6g} {'<=' if mean_ok else '>'} "
                f"{self.max_sigmas} sigma = {bound:.6g})"
            )
        null_ok = True
        if self.max_null_fraction_delta is not None:
            nf = nulls / total
            ref_nf = self.ref_null_fraction or 0.0
            null_ok = abs(nf - ref_nf) <= self.max_null_fraction_delta
            metrics["null_fraction"] = nf
            metrics["ref_null_fraction"] = ref_nf
            msg += f"; null fraction {nf:.6g} vs ref {ref_nf:.6g}"
        status = DQStatus.PASS if (mean_ok and null_ok) else DQStatus.FAIL
        return DQResult(self.name, status, metrics, msg)


@dataclass
class ReferentialIntegrityCheck(DQCheck):
    """FK validation (SURVEY.md D15): fraction of child rows whose non-null
    FK has no match in the parent. Not fusable into the single-pass agg
    (needs a join); executed as a broadcast-friendly left-anti join."""

    fk_columns: list[str] = dc_field(default_factory=list)
    parent_df: Optional[DataFrame] = None
    parent_key_columns: list[str] = dc_field(default_factory=list)
    failure_threshold: float = 0.0
    broadcast_parent: bool = True
    fusable = False

    def __post_init__(self):
        self.name = f"ref_integrity[{','.join(self.fk_columns)}]"

    def required_columns(self):
        return list(self.fk_columns)

    def run(self, df: DataFrame) -> DQResult:
        missing = [c for c in self.fk_columns if c not in df.columns]
        if missing:
            return DQResult(self.name, DQStatus.FAIL, {}, f"missing columns: {missing}")
        parent = self.parent_df.select(
            *[F.col(p).alias(f"__parent_{i}") for i, p in enumerate(self.parent_key_columns)]
        ).dropDuplicates()
        if self.broadcast_parent:
            parent = F.broadcast(parent)
        cond = _all(
            F.col(fk) == F.col(f"__parent_{i}") for i, fk in enumerate(self.fk_columns)
        )
        # SQL MATCH SIMPLE semantics: only rows with ALL fk columns
        # non-null participate — a partially-null composite key can never
        # satisfy the equality join and would always count as an orphan
        non_null = df.filter(_all(F.col(c).isNotNull() for c in self.fk_columns))
        # one job: count total + orphans together via left join + agg
        joined = non_null.join(parent, on=cond, how="left")
        row = joined.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.col("__parent_0").isNull().cast("long")).alias("orphans"),
        ).collect()[0]
        total, orphans = int(row["total"] or 0), int(row["orphans"] or 0)
        frac = (orphans / total) if total else 0.0
        return DQResult(
            self.name,
            _status(frac, self.failure_threshold),
            {"total_rows": total, "orphans": orphans, "orphan_fraction": frac},
            f"{orphans}/{total} child rows have no parent",
        )
