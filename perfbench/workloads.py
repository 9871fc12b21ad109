"""The benchmark's workloads.

Each workload drives the engine only through its public entry points
(``Pipeline.run_job`` for ingest, ``__spark_entry__.queries()`` for
queries) and has five phases, which ``run.py`` calls in order:

- ``inputs(ctx)``: write the seeded inputs and a small input of the same
  shape for warm-ups, once per run. Not part of the set-up time.
- ``warm_up(spark, ctx, warm)``: one pass over the small input. Called
  once per set-up repetition, after the session (re)starts.
- ``gate(spark, ctx, inputs)``: one untimed full pass whose outputs are
  checked against ground truth (the generator's counts for ingest, DuckDB
  ``oracle_sql()`` for queries). It is also the JVM's first warm-up.
- ``run_pass(spark, ctx, inputs, tracer)``: one timed pass. With the
  tracer enabled the same public calls run, with the engine functions they
  reach wrapped in spans (``instrumented``).
- ``check(spark, ctx, inputs, result)``: the untimed correctness check of
  a timed pass, including the timed Silver-style readback.

Failures are recorded with ``Ctx.fail``; ``run.py`` counts each operation
(the gate, a timed pass with its check) once in ``attempted``
and once in ``failed`` if it recorded any failure.
"""

from __future__ import annotations

import functools
import gc
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import gen
import yaml
from spans import Tracer

# -- sizes (fixed: the seed changes values, never volumes) ---------------------

PAYMENT_DAYS = 30          # transaction_date partitions per write
STREAM_ROWS, STREAM_FILES = 16_000, 4
FILES_PER_TRIGGER = 2      # micro-batches per stream pass = files / this
WARM_ROWS, WARM_FILES = 4_000, 2  # one stream micro-batch
QUERY_SF, WARM_SF = 0.01, 0.001

# The registry queries of the mix: the connected-components family and
# span dedup (the expensive, many-job operators) against cheap Silver/Gold
# table operations as an in-workload control.
GRAPH_QUERIES = ("dedup_clusters",)
TEXT_QUERIES = ("strip_spans",)
TABLE_QUERIES = ("dedup_latest", "enrich")
QUERIES = GRAPH_QUERIES + TEXT_QUERIES + TABLE_QUERIES
SILVER_QUERY = "enrich"  # written to parquet, the others to noop; read back
WARM_QUERIES = TABLE_QUERIES  # the set-up warm-up: cheap, one of each shape
QUERY_TABLES = (
    "region", "nation", "customer", "orders", "lineitem", "events", "documents",
)


@dataclass
class Ctx:
    """Per-run state shared by the phases: paths, seed and failure counts.

    ``attempted`` and ``failed`` count operations (``run.py`` keeps them);
    ``problems`` and ``layer_failed`` count the failures recorded with
    ``fail``, in total and per layer."""

    root: str
    work: str
    seed: int
    attempted: int = 0
    failed: int = 0
    problems: int = 0
    layer_failed: dict = field(default_factory=dict)

    def dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def fail(self, layer: str, err: BaseException | str) -> None:
        self.problems += 1
        self.layer_failed[layer] = self.layer_failed.get(layer, 0) + 1
        if isinstance(err, BaseException):
            traceback.print_exception(err)
        else:
            print(f"[perfbench] {layer} failed: {err}", file=sys.stderr)


def next_job_id(spark) -> int:
    """Id the next Spark job will get: the difference across a call is
    the exact number of jobs it started (the driver is single-threaded)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksums and markers."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # as /proc names them


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None  # exited while we looked
    return stat[stat.find("(") + 1:stat.rfind(")")], stat[stat.rfind(")") + 2:].split()


def engine_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the Python
    driver, and every live process below it: the Spark JVM and its Python
    workers, with the children those have reaped. The JVM's JIT compiler
    threads are left out: they are JVM warm-up, not the engine's work, and
    took about a third of a query pass's CPU five passes into a run.

    Unlike wall time, it does not grow while a thread waits for a CPU the
    host gave to another tenant (steal) or to another of the run's threads.
    """
    tick = os.sysconf("SC_CLK_TCK")
    children: dict = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(f"/proc/{pid}/stat")):
            # fields [1] parent pid; [11:15] utime, stime, cutime, cstime
            children.setdefault(int(st[1][1]), []).append((int(pid), st))
    # our own reaped children (the JVMs of stopped sessions) are left out
    own = os.times()
    ticks, stack = 0, [os.getpid()]
    while stack:
        for pid, (comm, f) in children.get(stack.pop(), ()):
            ticks += sum(int(x) for x in f[11:15])
            if comm == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    t = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if t and t[0].startswith(JIT_THREADS):
                        ticks -= int(t[1][11]) + int(t[1][12])
            stack.append(pid)
    return own.user + own.system + ticks / tick


def timed_read(read):
    """Run ``read`` once: ((wall seconds, engine CPU seconds), its result)."""
    c0 = engine_cpu_s()
    t0 = time.perf_counter()
    rows = read()
    return (time.perf_counter() - t0, engine_cpu_s() - c0), rows


@dataclass
class PassResult:
    wall_s: float
    jobs: int           # Spark jobs the pass started: ids first_job..+jobs
    cpu_s: float = 0.0  # engine_cpu_s() over the timed part of the pass
    first_job: int = 0
    out: str = ""       # where the pass wrote its table(s)
    batch_s: list = field(default_factory=list)     # per micro-batch / query
    progress: list = field(default_factory=list)    # streaming progress dicts
    query_s: dict = field(default_factory=dict)     # name -> (build_s, exec_s)
    query_jobs: dict = field(default_factory=dict)  # name -> jobs
    query_rows: dict = field(default_factory=dict)  # name -> observed rows
    files: int = 0      # bronze parquet files written by the pass
    bytes: int = 0
    q_bytes: int = 0    # quarantine parquet bytes
    quarantined: int = 0  # rows read back from the quarantine table


# -- Bronze ingest ------------------------------------------------------------


def _spanned(tr: Tracer, name: str, layer: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tr.span(name, layer):
            return fn(*args, **kwargs)

    return call


@contextmanager
def instrumented(tr: Tracer):
    """Wrap, for the duration of the block, the engine functions that
    ``Pipeline.run_job`` and its micro-batch function reach in spans.

    The names are patched where ``run_job`` looks them up (the
    ``pipeline`` module and the classes it uses), so the traced pass runs
    exactly the program's own code path; the originals are put back on
    exit."""
    import lakehouse_ingestion_spark.pipeline as pipeline
    from lakehouse_ingestion_spark.dq.ruleset import DQRuleSet

    def reader(get_reader):
        def get(source_type):
            r = get_reader(source_type)
            r.read = _spanned(tr, "get_reader.read", "sources", r.read)
            return r

        return get

    def writer(get_writer):
        def get(fmt):
            w = get_writer(fmt)
            w.write_batch = _spanned(tr, "write_batch", "sinks", w.write_batch)
            if hasattr(w, "write_epoch_batch"):
                w.write_epoch_batch = _spanned(
                    tr, "write_epoch_batch", "sinks", w.write_epoch_batch
                )
            return w

        return get

    def enforce(fn):
        def call(self, df, *args, **kwargs):
            # the quarantine writer is the DQ split's action
            if kwargs.get("quarantine_writer") is not None:
                kwargs["quarantine_writer"] = _spanned(
                    tr, "quarantine_write", "dq", kwargs["quarantine_writer"]
                )
            return fn(self, df, *args, **kwargs)

        return _spanned(tr, "DQRuleSet.enforce", "dq", call)

    def span(name, layer):
        return lambda fn: _spanned(tr, name, layer, fn)

    patches = [
        (pipeline.SchemaRegistry, "get_schema",
         span("SchemaRegistry.get_schema", "schema_registry")),
        (pipeline, "get_reader", reader),
        (pipeline, "apply_transform", span("apply_transform", "operators")),
        (pipeline, "build_ruleset", span("build_ruleset", "dq")),
        (pipeline, "validate_or_throw", span("validate_or_throw", "schema_validator")),
        (pipeline, "get_writer", writer),
        (DQRuleSet, "enforce", enforce),
        (DQRuleSet, "apply", span("DQRuleSet.apply", "dq")),
        (DQRuleSet, "split", span("DQRuleSet.split", "dq")),
    ]
    originals = [(owner, name, getattr(owner, name)) for owner, name, _ in patches]
    try:
        for owner, name, wrap in patches:
            setattr(owner, name, wrap(getattr(owner, name)))
        yield
    finally:
        for owner, name, fn in originals:
            setattr(owner, name, fn)


class BronzeStream:
    """``configs/payments-batch.yaml`` through ``Pipeline.run_job`` as an
    ``availableNow`` file stream that drains the input ``FILES_PER_TRIGGER``
    files per micro-batch: JSON source, schema-derived DQ with QUARANTINE,
    ``derive_column``, parquet partitioned by ``transaction_date``."""

    def __init__(self):
        self._n = 0

    def raw_config(self, ctx: Ctx, src: str, out: str) -> dict:
        with open(os.path.join(ctx.root, "configs", "payments-batch.yaml")) as f:
            raw = yaml.safe_load(f)
        raw["schema_registry_path"] = os.path.join(ctx.root, "schemas_registry")
        job = raw["jobs"][0]
        job["source"]["options"].update(
            path=src, streaming="true", maxFilesPerTrigger=str(FILES_PER_TRIGGER)
        )
        job["data_quality"]["quarantine_path"] = os.path.join(out, "quarantine")
        job["target"]["options"].update(
            path=os.path.join(out, "bronze"),
            trigger_interval="availableNow",
            checkpoint_location=os.path.join(out, "checkpoint"),
        )
        return raw

    def inputs(self, ctx: Ctx):
        inp = gen.write_payments(
            ctx.dir("input"), ctx.seed, STREAM_ROWS, STREAM_FILES, PAYMENT_DAYS
        )
        warm = gen.write_payments(
            ctx.dir("warm"), ctx.seed + 1, WARM_ROWS, WARM_FILES, PAYMENT_DAYS
        )
        return inp, warm

    def warm_up(self, spark, ctx: Ctx, warm) -> None:
        res = self.run_pass(spark, ctx, warm, Tracer(spark, False))
        shutil.rmtree(res.out, ignore_errors=True)

    def gate(self, spark, ctx: Ctx, inp) -> None:
        self.check(spark, ctx, inp, self.run_pass(spark, ctx, inp, Tracer(spark, False)))

    def run_pass(self, spark, ctx: Ctx, inp, tracer: Tracer) -> PassResult:
        from lakehouse_ingestion_spark.config import parse_config
        from lakehouse_ingestion_spark.pipeline import Pipeline

        self._n += 1
        out = ctx.dir(f"pass-{self._n}")
        raw = self.raw_config(ctx, inp.path, out)
        gc.collect()
        spark.catalog.clearCache()
        j0 = next_job_id(spark)
        c0 = engine_cpu_s()
        t0 = time.perf_counter()
        with instrumented(tracer) if tracer.enabled else nullcontext():
            with tracer.span("parse_config", "config"):
                cfg = parse_config(raw)
            query = Pipeline(spark, cfg).run_job(cfg.jobs[0]).query
            query.awaitTermination()
        wall = time.perf_counter() - t0
        cpu = engine_cpu_s() - c0
        progress = query.recentProgress
        return PassResult(
            wall, next_job_id(spark) - j0, cpu, j0, out,
            [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
            progress,
        )

    def check(self, spark, ctx: Ctx, inp, res: PassResult) -> tuple:
        """Timed Silver readback of the table just written, then the
        exact comparison with the generator's ground truth. Returns the
        (wall, CPU) seconds of the read; a mismatch is recorded as a gate
        failure."""
        from pyspark.sql import functions as F

        bronze = os.path.join(res.out, "bronze")
        readback, per_date = timed_read(
            lambda: spark.read.parquet(bronze)
            .groupBy("transaction_date")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("amount"))
            .collect()
        )
        good = sum(r["n"] for r in per_date)
        cents = sum(int(r["amount"] * 100) for r in per_date)
        bad = spark.read.parquet(os.path.join(res.out, "quarantine")).count()
        problems = []
        if (good, bad) != (inp.good_rows, inp.bad_rows):
            problems.append(
                f"good/quarantined {good}/{bad} != expected "
                f"{inp.good_rows}/{inp.bad_rows}"
            )
        if cents != inp.good_cents or len(per_date) != inp.good_dates:
            problems.append(
                f"amount cents {cents} over {len(per_date)} dates != expected "
                f"{inp.good_cents} over {inp.good_dates}"
            )
        ids = spark.read.parquet(bronze).select("transaction_id").distinct().count()
        if ids != good:
            problems.append(f"{good - ids} duplicate transaction_id rows")
        if problems:
            ctx.fail("gate", "; ".join(problems))
        res.quarantined = bad
        res.files, res.bytes = dir_stats(bronze)
        res.q_bytes = dir_stats(os.path.join(res.out, "quarantine"))[1]
        shutil.rmtree(res.out, ignore_errors=True)
        return readback


# -- registry query mix -------------------------------------------------------


@dataclass(frozen=True)
class Tables:
    path: str
    table_rows: dict

    @property
    def rows(self) -> int:
        return sum(self.table_rows.values())

    @property
    def bytes(self) -> int:
        return dir_stats(self.path)[1]


def canon(df) -> list[tuple]:
    """Order-insensitive, float-rounded rows (the oracle comparison of
    ``tools/check_oracle.py``)."""
    import math

    cols = sorted(df.columns)
    rows = []
    for r in df[cols].itertuples(index=False):
        vals = []
        for v in r:
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 6)
            elif hasattr(v, "item"):
                v = v.item()
            vals.append(v)
        rows.append(tuple(vals))
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


def _oracle_frames(path: str, sql: dict) -> dict:
    import duckdb

    con = duckdb.connect(config={"threads": 1})
    try:
        for t in QUERY_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')"
            )
        return {name: con.execute(sql[name]).fetchdf() for name in QUERIES}
    finally:
        con.close()


class QueryMix:
    """``QUERIES`` from ``__spark_entry__.queries()``, in a seeded order per
    pass. ``SILVER_QUERY`` is written to parquet as a Silver table, which
    the check reads back; the others go to the noop sink. Every write
    observes its row count, which the check compares with the gate's."""

    def __init__(self):
        self._n = 0
        self.expected_rows: dict = {}  # name -> rows, from the oracle gate
        self._oracle = None  # future of the oracle's frames

    def inputs(self, ctx: Ctx) -> tuple[Tables, Tables]:
        """Write the tables and start the DuckDB oracle on them, on one
        thread: it takes ≈7 s, which it spends beside the JVM launch."""
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__ as entry

        path, warm = ctx.dir("tables"), ctx.dir("warm")
        rows = gen.write_tables(path, ctx.seed, QUERY_SF)
        gen.write_tables(warm, ctx.seed + 1, WARM_SF)
        pool = ThreadPoolExecutor(1)
        self._oracle = pool.submit(_oracle_frames, path, entry.oracle_sql())
        pool.shutdown(wait=False)  # the thread ends when the oracle has run
        return Tables(path, rows), Tables(warm, {})

    def warm_up(self, spark, ctx: Ctx, warm: Tables) -> None:
        self.run_pass(spark, ctx, warm, Tracer(spark, False), WARM_QUERIES)

    def gate(self, spark, ctx: Ctx, tables: Tables) -> None:
        """Each query's rows against its ``oracle_sql()`` on DuckDB,
        started by ``inputs``."""
        import __spark_entry__ as entry
        from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint

        got = {}
        for name in QUERIES:
            try:
                df = entry.queries()[name](spark, tables.path)
                got[name] = df.toPandas()
                release_local_checkpoint(df)
            except Exception as e:
                ctx.fail("operators", e)
        want = self._oracle.result()
        self.expected_rows = {name: len(w) for name, w in want.items()}
        for name, g in got.items():
            w = want[name]
            same = sorted(g.columns) == sorted(w.columns) and all(
                str(g[c].dtype) == str(w[c].dtype) for c in g.columns
            )
            if not (same and len(g) > 0 and canon(g) == canon(w)):
                ctx.fail(
                    "gate",
                    f"{name}: spark {len(g)} rows {dict(g.dtypes)} != "
                    f"oracle {len(w)} rows {dict(w.dtypes)}",
                )

    def run_pass(
        self, spark, ctx: Ctx, tables: Tables, tracer: Tracer, queries=QUERIES
    ) -> PassResult:
        import __spark_entry__ as entry
        from lakehouse_ingestion_spark.checkpoint import release_local_checkpoint
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self._n += 1
        order = list(queries)
        random.Random(ctx.seed * 1000 + self._n).shuffle(order)
        fns = entry.queries()
        res = PassResult(0.0, 0, 0.0, next_job_id(spark))
        res.out = os.path.join(ctx.work, "silver")
        observed = {}
        for name in order:
            gc.collect()
            spark.catalog.clearCache()
            j0 = next_job_id(spark)
            c0 = engine_cpu_s()
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}.build", "operators"):
                df = fns[name](spark, tables.path)
            t1 = time.perf_counter()
            with tracer.span(f"query.{name}.exec", "operators"):
                observed[name] = Observation(f"rows-{name}-{self._n}")
                out = df.observe(observed[name], F.count(F.lit(1)).alias("rows"))
                if name == SILVER_QUERY:
                    out.write.mode("overwrite").parquet(res.out)
                else:
                    out.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            res.cpu_s += engine_cpu_s() - c0
            with tracer.span("release_local_checkpoint", "checkpoint"):
                release_local_checkpoint(df)
            res.query_s[name] = (t1 - t0, t2 - t1)
            res.query_jobs[name] = next_job_id(spark) - j0
        res.query_rows = {name: o.get["rows"] for name, o in observed.items()}
        res.batch_s = [b + e for b, e in res.query_s.values()]
        res.wall_s = sum(res.batch_s)
        res.jobs = sum(res.query_jobs.values())
        return res

    def check(self, spark, ctx: Ctx, tables: Tables, res: PassResult) -> tuple:
        """Each query's observed row count against the gate's, then the
        timed Silver-style read of the ``SILVER_QUERY`` table the pass
        wrote: per-nation count and total price."""
        from pyspark.sql import functions as F

        problems = [
            f"{name}: {n} rows != {self.expected_rows.get(name)}"
            for name, n in res.query_rows.items()
            if n != self.expected_rows.get(name)
        ]
        readback, per_nation = timed_read(
            lambda: spark.read.parquet(res.out)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("v"))
            .collect()
        )
        n = sum(r["n"] for r in per_nation)
        if n != self.expected_rows.get(SILVER_QUERY):
            problems.append(f"{SILVER_QUERY} readback {n} rows")
        if problems:
            ctx.fail("gate", "; ".join(problems))
        return readback


WORKLOADS = {
    "bronze_stream": BronzeStream,
    "query_mix": QueryMix,
}
