"""DQ rule set: fused single-pass evaluation + enforcement policies +
quarantine routing.

Parity:
- fold semantics (``dq/DQ.scala:40-52``): overall = FAIL if any FAIL else
  WARNING if any WARNING else PASS;
- policies (``core/IngestionJob.scala:101-121``, ``docs/02-tech-spec.md:
  124-131``): FAIL_FAST raises, LOG_ONLY continues, QUARANTINE routes
  failing rows aside (real here; stubbed log-only in the reference,
  ``IngestionJob.scala:110-113``).

Scale design: ``enforce`` pins its input with ONE eager ``localCheckpoint``
that carries the fused check aggregates as ``observe()`` metrics: one
Spark job materializes the batch and yields the verdict. Checks
``observe()`` cannot carry (referential integrity, exact
``UniqueKeyCheck``'s DISTINCT) read the pin afterwards, as do the
quarantine split's two writes: the rows checked are the rows written.
"""

from __future__ import annotations

import enum
import logging
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint
from lakehouse_ingestion_spark.dq.checks import DQCheck
from lakehouse_ingestion_spark.dq.model import DQStatus, DQSummary
from lakehouse_ingestion_spark.errors import DataQualityError
from lakehouse_ingestion_spark.metrics import ObservedMetrics

log = logging.getLogger(__name__)


class OnFailPolicy(enum.Enum):
    FAIL_FAST = "FAIL_FAST"
    QUARANTINE = "QUARANTINE"
    LOG_ONLY = "LOG_ONLY"


@dataclass
class DQRuleSet:
    checks: list[DQCheck] = field(default_factory=list)

    def _fused(self, df: DataFrame) -> list[DQCheck]:
        """Checks whose aggregates join the one fused pass over ``df``;
        the rest go through ``check.run`` (a missing column FAILs there)."""
        return [
            c for c in self.checks
            if c.fusable and all(x in df.columns for x in c.required_columns())
        ]

    def _summary(self, df: DataFrame, fused: list[DQCheck], row) -> DQSummary:
        results = [c.run(df) for c in self.checks if all(c is not f for f in fused)]
        results.extend(c.evaluate(row) for c in fused)
        return DQSummary.fold(results)

    def apply(self, df: DataFrame) -> DQSummary:
        """Evaluate all checks. Fusable checks share a single agg pass."""
        fused = self._fused(df)
        row = df.agg(*_exprs(fused)).collect()[0].asDict() if fused else {}
        return self._summary(df, fused, row)

    # -- quarantine ---------------------------------------------------------
    def violation_column(self, df: DataFrame | None = None) -> "F.Column":
        """Array column of names of checks the row violates (empty = clean).
        Only row-expressible checks participate; when ``df`` is given,
        checks whose required columns are missing are skipped (their
        predicate could never resolve — apply() already reports them as
        FAIL, but the quarantine split must not crash on them)."""
        pairs = []
        for check in self.checks:
            if df is not None and any(
                c not in df.columns for c in check.required_columns()
            ):
                continue
            pred = check.violation_predicate()
            if pred is not None:
                pairs.append(F.when(pred, F.lit(check.name)))
        if not pairs:
            return F.array().cast("array<string>")
        return F.array_compact(F.array(*pairs))

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(good, bad) — bad rows carry ``_dq_failures: array<string>``.
        SURVEY.md D14 quarantine routing."""
        tagged = df.withColumn("_dq_failures", self.violation_column(df))
        good = tagged.filter(F.size("_dq_failures") == 0).drop("_dq_failures")
        bad = tagged.filter(F.size("_dq_failures") > 0)
        return good, bad

    # -- enforcement --------------------------------------------------------
    def enforce(
        self,
        df: DataFrame,
        policy: OnFailPolicy = OnFailPolicy.LOG_ONLY,
        quarantine_writer=None,
    ) -> tuple[DataFrame, DQSummary]:
        """Run checks and apply the policy. Returns (rows to continue with,
        summary). ``quarantine_writer: DataFrame -> None`` persists bad rows
        under the QUARANTINE policy.

        ``df`` is pinned by ONE eager ``localCheckpoint`` that carries the
        observable aggregates; DISTINCT ones (``observe()`` rejects them)
        and standalone checks read the pin. The returned rows are read
        from the pin: the caller releases it after its last action on
        them (``checkpoint.release_local_checkpoint``)."""
        fused = self._fused(df)
        observed = [c for c in fused if c.observable]
        observation = Observation()
        if observed:
            df = df.observe(observation, *_exprs(observed))
        pinned = df.localCheckpoint(eager=True)
        try:
            # AQE may prove an empty batch empty and drop its CollectMetrics
            # node (no metrics at all): every check's evaluate reads null as 0
            row = defaultdict(lambda: None)
            if observed:
                row.update(ObservedMetrics(observation, pinned).get())
            if distinct := [c for c in fused if not c.observable]:
                row.update(pinned.agg(*_exprs(distinct)).collect()[0].asDict())
            summary = self._summary(pinned, fused, row)
            for r in summary.warned + summary.failed:
                log.warning("DQ %s (%s) %s: %s", r.status.value, policy.value,
                            r.check_name, r.message)
            if summary.status is not DQStatus.FAIL or policy is OnFailPolicy.LOG_ONLY:
                return pinned, summary
            if policy is OnFailPolicy.FAIL_FAST:
                raise DataQualityError(
                    f"DQ failed: {[r.check_name for r in summary.failed]}", summary
                )
            good, bad = self.split(pinned)
            if quarantine_writer is not None:
                quarantine_writer(bad)
            else:
                log.warning("QUARANTINE policy with no writer; dropping bad rows")
            return good, summary
        except BaseException:
            release_local_checkpoint(pinned)
            raise

    def metrics_df(self, df: DataFrame) -> DataFrame:
        """One-row DataFrame of all fused check metrics — lets callers embed
        DQ into a pipeline plan without a separate collect."""
        return df.agg(
            *_exprs(self._fused(df)) or [F.count(F.lit(1)).alias("total_rows")]
        )


def _exprs(checks: list[DQCheck]) -> list[Column]:
    return [e for c in checks for e in c.agg_exprs()]
