"""Benchmark of the lakehouse ingestion engine, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bronze_stream --seed 1 --seconds 10 --trace 0

Workloads (``workloads.py``): ``bronze_stream`` and ``query_mix``. A run
writes its seeded inputs, launches the Spark JVM, runs the correctness
gate as one full untimed pass, then times passes for ``--seconds`` and at
least ``MIN_PASSES`` of them; each timed pass is checked outside its
timing. It then sets up ``SETUP_REPS`` times (session restart, a warm-up
pass on a small input) and reports the median set-up.

The timed figure is ``cpu_s``, the CPU seconds a pass costs the engine's
processes (``workloads.engine_cpu_s``); pass wall time is reported per
layer. On a VM whose host is shared, wall time moved by up to a factor of
two between runs minutes apart as the host stole 2-28% of the CPU time;
the CPU a pass used moved far less (``METRICS.md``, Steadiness).

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` times passes in blocks of untraced, traced, traced, untraced
and prints the per-layer metrics, read from spans around the calls into
each module (``spans.py``). The last stdout line is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it records the run's provenance. Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

SETUP_REPS = 3
# The JVM is still warming up while the passes are timed: each pass takes
# less CPU than the one before for about eight passes. Timing the same number
# of passes in every run, not as many as fit in --seconds, keeps a slow host
# from also moving the median to an earlier, colder pass.
MIN_PASSES = 3
LAYERS = ("sources", "dq", "sinks", "streaming", "operators")
FAIL_LAYERS = (
    "pipeline", "config", "schema_registry", "schema_validator", "sources",
    "dq", "sinks", "streaming", "operators", "checkpoint", "gate",
)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def start_session(work: str, cores: int):
    from lakehouse_ingestion_spark.session import SparkConfig, get_spark

    return get_spark(
        SparkConfig(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=2 * cores,
            extra={
                "spark.driver.memory": "2g",
                # compiler threads that come and go would take their CPU
                # time with them; engine_cpu_s subtracts it per thread
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={work}/tmp"
                    " -XX:-UseDynamicNumberOfCompilerThreads"
                ),
                "spark.sql.warehouse.dir": f"{work}/warehouse",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
    )


def stop_session() -> None:
    """Stop Spark, if it runs, and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway, SparkContext._gateway = SparkContext._gateway, None
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- per-layer metrics ------------------------------------------------------------


def layer_counters(cs) -> dict:
    total: dict = {}
    for c in cs:
        for k, v in c.items():
            total[k] = total.get(k, 0) + v
    return total


def pass_layers(spans, first_idx, stream_jobs, spark, inp, res, cores):
    """Per-layer numbers of one traced pass."""
    from spans import stage_counters

    own = [s.wall_s for s in spans]
    for s in spans:
        if s.parent is not None and s.parent >= first_idx:
            own[s.parent - first_idx] -= s.wall_s
    m: dict = {}

    def t(layer=None, name=None):
        return sum(
            o for s, o in zip(spans, own)
            if (layer is None or s.layer == layer) and (name is None or s.name == name)
        )

    by_layer = {L: [s for s in spans if s.layer == L] for L in LAYERS}
    stream_every, stream_reads = (
        stage_counters(spark.sparkContext, stream_jobs) if stream_jobs else ({}, {})
    )
    m["config.parse_s"] = t("config")
    m["schema_registry.get_s"] = t("schema_registry")
    m["schema_validator.validate_s"] = t("schema_validator")
    reads = layer_counters([s.input_counters for s in spans] + [stream_reads])
    m["sources.scan_s"] = reads.get("stage_s", 0.0)
    m["sources.records_read_per_row"] = reads.get("input_records", 0) / inp.rows
    m["sources.input_bytes"] = reads.get("input_bytes", 0)
    m["dq.eval_s"] = t("dq", "DQRuleSet.apply") + t("dq", "build_ruleset")
    m["dq.split_s"] = (
        t("dq", "DQRuleSet.enforce") + t("dq", "DQRuleSet.split")
        + t("dq", "quarantine_write")
    )
    m["dq.jobs"] = sum(len(s.job_ids) for s in by_layer["dq"])
    m["dq.rows_quarantined"] = res.quarantined
    m["sinks.write_s"] = t("sinks")
    m["sinks.jobs"] = sum(len(s.job_ids) for s in by_layer["sinks"])
    m["sinks.files_written"] = res.files
    m["sinks.bytes_written"] = res.bytes
    m["sinks.stored_bytes_per_input_byte"] = (res.bytes + res.q_bytes) / inp.bytes
    m["checkpoint.release_s"] = t("checkpoint")
    counters = {
        "sources": reads,
        "streaming": stream_every,
        **{
            L: layer_counters([s.counters for s in by_layer[L]])
            for L in ("dq", "sinks", "operators")
        },
    }
    busy_wall = {
        "sources": reads.get("stage_s", 0.0),
        "streaming": res.wall_s - sum(own),
        **{L: t(L) for L in ("dq", "sinks", "operators")},
    }
    for L in LAYERS:
        c = counters[L]
        m[f"{L}.tasks"] = c.get("tasks", 0)
        m[f"{L}.tasks_failed"] = c.get("tasks_failed", 0)
        wall = busy_wall[L]
        m[f"{L}.core_busy_frac"] = (
            c.get("run_s", 0.0) / (wall * cores) if wall > 0 else 0.0
        )
        m[f"{L}.gc_s"] = c.get("gc_s", 0.0)
        m[f"{L}.spill_bytes"] = c.get("spill_bytes", 0)
        m[f"{L}.shuffle_bytes"] = c.get("shuffle_bytes", 0)
    from workloads import GRAPH_QUERIES, QUERIES, TABLE_QUERIES, TEXT_QUERIES

    family_jobs = {"graph": 0, "table": 0, "text": 0}
    for q in QUERIES:
        qs = [s for s in spans if s.name.startswith(f"query.{q}.")]
        m[f"query.{q}.build_s"] = t(name=f"query.{q}.build")
        m[f"query.{q}.exec_s"] = t(name=f"query.{q}.exec")
        jobs = sum(len(s.job_ids) for s in qs)
        m[f"query.{q}.jobs"] = jobs
        fam = "graph" if q in GRAPH_QUERIES else "table" if q in TABLE_QUERIES else "text"
        family_jobs[fam] += jobs
    for fam, n in family_jobs.items():
        m[f"operators.{fam}.jobs"] = n
    m["streaming.jobs_per_batch"] = 0.0
    m["streaming.files_per_batch"] = 0.0
    batches = len(res.progress)
    if batches:
        m["streaming.jobs_per_batch"] = res.jobs / batches
        m["streaming.files_per_batch"] = inp.files / batches
    return m


def streaming_metrics(untraced) -> dict:
    """Per-batch streaming numbers from the untraced passes' progress."""
    prog = [p for r in untraced for p in r.progress]

    def dur(key):
        return median([p["durationMs"].get(key, 0) / 1000.0 for p in prog])

    return {
        "streaming.batches": median([len(r.progress) for r in untraced]),
        "streaming.trigger_p50_s": dur("triggerExecution"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.planning_s": dur("queryPlanning"),
    }


# -- run --------------------------------------------------------------------------


def attempt(ctx, fn, blame):
    """Run one operation and count it once: in ``attempted``, and in
    ``failed`` if it raised or recorded a failure. An exception is recorded
    against the layer ``blame()`` names. Returns ``fn()``, or None if it
    raised."""
    ctx.attempted += 1
    problems = ctx.problems
    try:
        return fn()
    except Exception as e:
        ctx.fail(blame(), e)
        return None
    finally:
        if ctx.problems > problems:
            ctx.failed += 1


def run(args, root: str, work: str) -> tuple[dict, dict]:
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    ctx = Ctx(root=root, work=work, seed=args.seed)
    wl = WORKLOADS[args.workload]()
    inp, warm = wl.inputs(ctx)

    setup_s, session_s = [], []

    def set_up(spark):
        # stopping the previous session is teardown, not set-up: it took
        # either ~0.08 s or ~0.5 s, at random
        spark.stop()
        gc.collect()
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s.append(time.perf_counter() - t0)
        wl.warm_up(spark, ctx, warm)
        setup_s.append(time.perf_counter() - t0)
        log(f"setup {len(setup_s)}: session {session_s[-1]:.2f}s, "
            f"total {setup_s[-1]:.2f}s")
        return spark

    t0 = time.perf_counter()
    spark = start_session(work, cores)
    launch_s = time.perf_counter() - t0
    log(f"launch {launch_s:.2f}s")
    attempt(ctx, lambda: wl.gate(spark, ctx, inp), lambda: "gate")
    log("gate done")

    tracer = Tracer(spark, False)
    untraced, traced, readbacks, layer_rows = [], [], [], []
    deadline = time.perf_counter() + args.seconds
    n = 0
    # a traced run times passes in whole blocks of untraced, traced,
    # traced, untraced, so the drift from one pass to the next (the first
    # timed pass is the slowest) cancels out of tracing.overhead_s
    while time.perf_counter() < deadline or n < MIN_PASSES or (args.trace and n % 4):
        tracer.enabled = bool(args.trace) and n % 4 in (1, 2)
        n += 1
        first = len(tracer.spans)
        phase = ["pipeline"]

        def one_pass():
            res = wl.run_pass(spark, ctx, inp, tracer)
            phase[0] = "gate"
            return res, wl.check(spark, ctx, inp, res)

        def blame():
            failed = [s.layer for s in tracer.spans[first:] if s.failed]
            return failed[-1] if failed else phase[0]

        out = attempt(ctx, one_pass, blame)
        if out is None:
            continue
        res, readback = out
        log(f"pass {n} traced={tracer.enabled}: {res.wall_s:.2f}s, "
            f"cpu {res.cpu_s:.2f}s, {res.jobs} jobs")
        if tracer.enabled:
            traced.append(res)
            spans = tracer.spans[first:]
            in_spans = {j for s in spans for j in s.job_ids}
            # a stream's own jobs (listing, offsets, commits) run outside
            # every span: they are the streaming layer
            stream_jobs = [
                j for j in range(res.first_job, res.first_job + res.jobs)
                if j not in in_spans
            ] if res.progress else []
            layer_rows.append(
                pass_layers(spans, first, stream_jobs, spark, inp, res, cores)
            )
        else:
            untraced.append(res)
            readbacks.append(readback)
    faithful = args.trace and attempt(
        ctx, lambda: fidelity(traced, untraced, ctx), lambda: "gate"
    )
    # set-ups restart the session in the launched JVM, after the timed
    # passes so they cannot disturb them. The JVM launch is reported on its
    # own (session.launch_s): once per run, 6-12 s on a 4-core VM
    for _ in range(SETUP_REPS):
        spark = set_up(spark)

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{cores}]",
        "nproc": nproc,
        "shuffle_partitions": 2 * cores,
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "input": _describe(inp),
        "setup_reps": SETUP_REPS,
        "launch_s": round(launch_s, 4),
        "pass_walls_s": {
            "untraced": [round(r.wall_s, 4) for r in untraced],
            "traced": [round(r.wall_s, 4) for r in traced],
        },
        "pass_cpu_s": [round(r.cpu_s, 2) for r in untraced],
        "setups_s": [round(x, 4) for x in setup_s],
    }
    if not args.trace:
        metrics = end_to_end(untraced, setup_s)
    else:
        metrics = per_layer(
            untraced, traced, layer_rows, readbacks, launch_s, session_s, faithful, ctx
        )
    return metrics, {"ctx": ctx, "provenance": provenance}


def _describe(inp) -> dict:
    from workloads import QUERY_SF, Tables

    out = {"rows": inp.rows, "bytes": inp.bytes, "dir": os.path.basename(inp.path)}
    if isinstance(inp, Tables):
        out["sf"] = QUERY_SF
    else:
        out.update(files=inp.files, bad_rows=inp.bad_rows)
    return out


def end_to_end(untraced, setup_s) -> dict:
    return {
        "setup_s": median(setup_s),
        "cpu_s": median([r.cpu_s for r in untraced]),
    }


def fidelity(traced, untraced, ctx) -> bool:
    """Every traced pass must start exactly as many Spark jobs as the
    untraced passes: the spans add no work to the program's path."""
    if not traced or not untraced:
        ctx.fail("gate", f"no pass to compare: {len(traced)} traced, "
                 f"{len(untraced)} untraced")
        return False
    if any(r.jobs != u.jobs for r in traced for u in untraced):
        ctx.fail("gate", "traced pass job count differs from the untraced: "
                 f"{[r.jobs for r in traced]} vs {[u.jobs for u in untraced]}")
        return False
    return True


def per_layer(
    untraced, traced, layer_rows, readbacks, launch_s, session_s, faithful, ctx
) -> dict:
    m: dict = {
        "session.launch_s": launch_s,
        "session.start_s": median(session_s),
        "pipeline.wall_s": median([r.wall_s for r in untraced]),
        "silver.readback_s": median([w for w, _ in readbacks]),
        "silver.readback_cpu_s": median([c for _, c in readbacks]),
    }
    for k in layer_rows[0] if layer_rows else ():
        m[k] = median([row[k] for row in layer_rows])
    m["pipeline.jobs"] = median([r.jobs for r in untraced]) if untraced else 0
    m.update(streaming_metrics(untraced))
    m["tracing.overhead_s"] = median([r.wall_s for r in traced]) - median(
        [r.wall_s for r in untraced]
    )
    m["tracing.fidelity"] = 1 if faithful else 0
    for L in FAIL_LAYERS:
        m[f"{L}.failed"] = ctx.layer_failed.get(L, 0)
    m["fail_ratio"] = ctx.failed / max(ctx.attempted, 1)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    try:
        import __spark_entry__  # noqa: F401
        import lakehouse_ingestion_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        metrics, info = run(args, root, work)
    finally:
        stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    ctx = info["ctx"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing and ctx.failed:
        # nothing was measured because the operations failed: say so
        # through the failure counts rather than withhold the result
        metrics.update(dict.fromkeys(missing, 0))
    elif missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({"provenance": info["provenance"]}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {
                    m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
