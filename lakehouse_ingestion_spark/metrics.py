"""Metrics (reference ``metrics/Metrics.scala:16-50`` — interface only).

Concrete here: ``observe``-based metric collection (no extra actions —
metrics ride the main job), a row-count metric, and a streaming listener
hook. SURVEY.md §4: avoid ``df.count()`` in hot paths; the reference
logs ``df.count()`` inside a streaming batch (``DeltaLakeWriter.scala:
105``) — an anti-pattern we replace with observed metrics.
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation

log = logging.getLogger(__name__)


@dataclass
class MetricValue:
    name: str
    value: float
    tags: dict[str, str] = field(default_factory=dict)


@dataclass
class ObservedMetrics:
    """Attach named aggregate metrics to a DataFrame via ``observe``:
    they are computed as a side effect of whatever action the caller
    runs — zero additional scans."""

    observation: Observation
    df: DataFrame

    @classmethod
    def attach(cls, df: DataFrame, name: str, exprs: dict[str, Column]) -> "ObservedMetrics":
        obs = Observation(name)
        observed = df.observe(obs, *[c.alias(a) for a, c in exprs.items()])
        return cls(observation=obs, df=observed)

    def get(self) -> dict[str, float]:
        """Blocks until an action has run on the observed DataFrame.

        Returns {} when the observation completed with no metrics: AQE's
        empty-relation propagation can prove the observed frame empty and
        eliminate the CollectMetricsExec node from the physical plan
        entirely (e.g. an empty frame through a shuffle-backed sink), in
        which case the ObservationManager completes the observation with
        a schema-less ``Row.empty`` that py4j's toPyRow cannot convert —
        an empty write must report "no metrics", not crash the job.
        """
        try:
            return dict(self.observation.get)
        except Exception:
            jo = getattr(self.observation, "_jo", None)
            if jo is not None:
                ropt = jo.getRowOrEmpty()
                if ropt.isDefined() and ropt.get().length() == 0:
                    return {}
            raise


_NAME_BAD = re.compile(r"[^a-zA-Z0-9_:]")
_LABEL_BAD = re.compile(r"[^a-zA-Z0-9_]")


class PrometheusExporter:
    """Prometheus emission for the pluggable metric callables
    (reference posture: a JMX->Prometheus agent in the deploy chart —
    ``helm/values.yaml:130-134``; this is the library-side equivalent
    for PySpark jobs, stdlib-only).

    Drop an instance anywhere a ``MetricValue`` callable is accepted
    (``LoggingStreamListener(emit=exporter)``,
    ``incremental_near_dup(on_cap_metric=exporter)``) or feed it
    ``ObservedMetrics.get()`` dicts via :meth:`record_observed`. Values
    accumulate as gauges keyed by (name, labelset) — last write wins —
    and :meth:`flush` publishes them:

    - ``textfile_path``: atomic write (tmp + rename) in text exposition
      format 0.0.4 for the node_exporter textfile collector;
    - ``pushgateway_url``: HTTP PUT to
      ``{url}/metrics/job/{job}[/k/v...]`` (Pushgateway protocol).
    """

    def __init__(
        self,
        job: str = "lakehouse_ingestion",
        textfile_path: str | None = None,
        pushgateway_url: str | None = None,
        grouping_key: dict[str, str] | None = None,
        prefix: str = "lakehouse_",
    ):
        self.job = job
        self.textfile_path = textfile_path
        self.pushgateway_url = pushgateway_url.rstrip("/") if pushgateway_url else None
        self.grouping_key = dict(grouping_key or {})
        self.prefix = prefix
        self._values: dict[tuple[str, tuple[tuple[str, str], ...]], float] = {}

    # -- ingest -------------------------------------------------------------
    def __call__(self, metric: MetricValue) -> None:
        self.record(metric.name, metric.value, metric.tags)

    def record(self, name: str, value: float, tags: dict[str, str] | None = None) -> None:
        key = (
            self._metric_name(name),
            tuple(sorted((self._label_name(k), str(v)) for k, v in (tags or {}).items())),
        )
        self._values[key] = float(value)

    def record_observed(self, name: str, values: dict[str, float], tags: dict[str, str] | None = None) -> None:
        """One ``ObservedMetrics.get()`` dict -> ``{name}_{key}`` gauges."""
        for k, v in values.items():
            self.record(f"{name}_{k}", float(v), tags)

    # -- emit ---------------------------------------------------------------
    def render(self) -> str:
        """Text exposition format 0.0.4, gauges only, sorted for
        deterministic diffs."""
        lines: list[str] = []
        seen_types: set[str] = set()
        for (name, labels), value in sorted(self._values.items()):
            if name not in seen_types:
                lines.append(f"# TYPE {name} gauge")
                seen_types.add(name)
            if labels:
                body = ",".join(
                    f'{k}="{self._escape(v)}"' for k, v in labels
                )
                lines.append(f"{name}{{{body}}} {self._fmt(value)}")
            else:
                lines.append(f"{name} {self._fmt(value)}")
        return "\n".join(lines) + ("\n" if lines else "")

    def flush(self) -> str:
        """Publish the current gauge set; returns the rendered payload."""
        payload = self.render()
        if self.textfile_path:
            import os
            import tempfile

            d = os.path.dirname(self.textfile_path) or "."
            fd, tmp = tempfile.mkstemp(dir=d, suffix=".prom.tmp")
            try:
                with os.fdopen(fd, "w") as f:
                    f.write(payload)
                os.replace(tmp, self.textfile_path)
            except BaseException:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
                raise
        if self.pushgateway_url:
            from urllib import request

            path = f"{self.pushgateway_url}/metrics/job/{self._label_value_path(self.job)}"
            for k, v in sorted(self.grouping_key.items()):
                path += f"/{self._label_name(k)}/{self._label_value_path(v)}"
            req = request.Request(
                path,
                data=payload.encode(),
                method="PUT",
                headers={"Content-Type": "text/plain; version=0.0.4"},
            )
            request.urlopen(req, timeout=10).read()
        return payload

    # -- helpers ------------------------------------------------------------
    def _metric_name(self, name: str) -> str:
        n = _NAME_BAD.sub("_", self.prefix + name)
        return "_" + n if n[:1].isdigit() else n

    @staticmethod
    def _label_name(name: str) -> str:
        n = _LABEL_BAD.sub("_", name)
        return "_" + n if n[:1].isdigit() else n

    @staticmethod
    def _label_value_path(v: str) -> str:
        from urllib.parse import quote

        return quote(str(v), safe="")

    @staticmethod
    def _escape(v: str) -> str:
        return v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")

    @staticmethod
    def _fmt(value: float) -> str:
        return repr(int(value)) if float(value).is_integer() else repr(value)


class LoggingStreamListener:
    """StreamingQueryListener emitting per-batch MetricValues to the log
    (reference D20: row counts / durations to monitoring; swap the `emit`
    callable for a Prometheus/StatsD pusher in production).

    Implemented lazily: pyspark's StreamingQueryListener base is imported
    at attach time so the module stays importable in minimal setups.
    """

    def __init__(self, emit=None):
        self.emit = emit or (lambda m: log.info("stream-metric %s", m))
        self.records: list[MetricValue] = []

    def attach(self, spark) -> object:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                for name, value in (
                    ("stream_input_rows", p.numInputRows),
                    ("stream_rows_per_sec", p.processedRowsPerSecond or 0.0),
                    ("stream_batch_duration_ms", (p.durationMs or {}).get("triggerExecution", 0)),
                ):
                    m = MetricValue(
                        name,
                        float(value),
                        tags={"query": str(p.name or p.id), "batch": str(p.batchId)},
                    )
                    outer.records.append(m)
                    outer.emit(m)

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        listener = _L()
        spark.streams.addListener(listener)
        return listener
