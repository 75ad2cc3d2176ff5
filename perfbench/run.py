"""Benchmark entry point.

    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 20 --trace 0

Builds the workload's inputs from the seed, sets up (session, warm-up,
inputs, index and ground truth), then runs timed passes until --seconds
have elapsed (at least one), checking every output. Prints one line of
run facts, then, as the last line, the result object. With --trace 0 the
result holds the end-to-end metrics; with --trace 1 the run is traced
instead (Spark's event log on, untraced and traced passes alternating)
and the result holds the per-layer metrics and the tracing overhead.

Works from any directory: it locates the repository from its own path
and hands that path to Spark's Python workers.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 3

# end-to-end metric -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "spark_jobs": "count", "recall_at_10": "ratio", "neardup_recall": "ratio",
    "storage_ratio": "ratio", "peak_rss_mb": "MB",
}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def prepare_env(work: str) -> None:
    """Make the package importable in Spark's Python workers, and keep every
    scratch file Spark, the JVM and Python write inside `work`."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # initial heap = maximum heap (the ergonomic initial size is capped at
    # -Xmx, also in spark-submit's small launcher JVM): the collector's
    # resizing otherwise changes GC frequency, resident size and pass
    # times from one run to the next
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                       "-XX:InitialRAMPercentage=100")


def stop_session() -> None:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def stop_jvm() -> None:
    """Stop the session, then the JVM py4j started, and wait for it (its
    Python workers are its children and end with it)."""
    from pyspark import SparkContext

    stop_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def start_session(event_log: str | None):
    from perfbench.tracing import event_log_conf
    from vector_search_test_spark.session import get_session

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(event_log_conf(event_log))
    spark = get_session("perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm(jvm) + hwm("self")) / 1024.0


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def run_once(workload_cls, seed: int, seconds: float, work: str, traced: bool) -> dict:
    """Set up, warm up and run timed passes; returns the run's figures.

    A traced run has the event log on for the whole session and alternates
    untraced and traced passes, so the tracing overhead is measured
    between passes of one session."""
    from perfbench.tracing import Tracer
    from perfbench.workloads import Context

    tracer, quiet = Tracer(traced), Tracer(False)
    event_log = os.path.join(work, "eventlog") if traced else None
    t0 = time.perf_counter()
    with tracer.span("session"):
        spark = start_session(event_log)
        tracer.bind(spark.sparkContext)
        spark.range(1).count()
    t1 = time.perf_counter()
    wl = workload_cls()
    ctx = Context(spark, tracer, os.path.join(work, "data"), seed)
    wl.setup(ctx)
    t2 = time.perf_counter()
    ctx.tracer = quiet
    wl.warmup(ctx)
    setup_s = time.perf_counter() - t0
    ctx.info["setup_parts_s"] = {"session": round(t1 - t0, 3), "inputs_index": round(t2 - t1, 3),
                                 "warmup": round(setup_s - (t2 - t0), 3)}
    sc = spark.sparkContext
    passes, jobs = [], []
    walls = {False: [], True: []}  # pass times by whether the pass was traced
    cpu0 = cpu_times()
    t_end = time.perf_counter() + seconds
    # a traced run alternates in blocks of four, untraced-traced-traced-
    # untraced, so both kinds of pass sit as often early as late in a
    # block (passes keep getting faster as the JIT warms), and makes at
    # least one whole block
    while len(passes) < (4 if traced else 1) or time.perf_counter() < t_end:
        on = traced and len(passes) % 4 in (1, 2)
        ctx.tracer = tracer if on else quiet
        group = f"pass-{len(passes)}"
        if not on:
            sc.setJobGroup(group, group)
        p = wl.run_pass(ctx)
        passes.append(p)
        walls[on].append(p.wall)
        if not on:
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        spark.catalog.clearCache()
        gc.collect()
        sc._jvm.System.gc()
    busy = [b - a for a, b in zip(cpu0, cpu_times())]
    rss = peak_rss_mb(spark)
    facts = {"master": sc.master, "default_parallelism": sc.defaultParallelism,
             "spark_version": spark.version, **ctx.info,
             # the host's CPU time stolen by other guests while the passes
             # ran: a run slowed by its neighbours shows here
             "passes_cpu_steal_pct": round(100.0 * busy[7] / max(sum(busy), 1), 2)}
    if traced:
        spark.stop()  # flushes the event log
    return {"setup_s": setup_s, "passes": passes, "walls": walls, "jobs": jobs, "rss": rss,
            "problems": ctx.problems, "facts": facts, "tracer": tracer,
            "event_log": event_log}


def end_to_end(run: dict) -> tuple[dict, dict]:
    from perfbench.checks import tail

    ps = run["passes"]
    ops = [o for p in ps for o in p.ops]
    tail_v, tail_pct, n = tail(ops)

    def mean_or_one(vals):
        return float(statistics.fmean(vals)) if vals else 1.0

    values = {
        "setup_s": run["setup_s"],
        # pass time without the output checks a pass runs after its
        # operations (they are the benchmark's work, not the program's)
        "wall_s": statistics.median(p.wall for p in ps),
        "op_p50_s": statistics.median(ops),
        "op_tail_s": tail_v,
        "spark_jobs": statistics.median(run["jobs"]),
        "recall_at_10": mean_or_one([r for p in ps for r in p.recall]),
        "neardup_recall": mean_or_one([r for p in ps for r in p.neardup]),
        "storage_ratio": mean_or_one([r for p in ps for r in p.storage]),
        "peak_rss_mb": run["rss"],
    }
    facts = {"passes": len(ps), "ops": len(ops), "op_tail_percentile": tail_pct,
             "op_samples": n}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}, facts


def per_layer(run: dict) -> tuple[dict, list]:
    from perfbench.tracing import (
        layer_metrics, parse_event_log, per_layer_names, read_event_log, span_figures, unit)

    spans = run["tracer"].dump()
    figs = span_figures(spans, parse_event_log(read_event_log(run["event_log"])))
    values = layer_metrics(figs, run["tracer"].extras)
    traced, plain = (statistics.median(run["walls"][on]) for on in (True, False))
    values["trace.wall_s"] = traced
    values["trace.overhead_s"] = traced - plain
    return {k: {"value": values[k], "unit": unit(k)} for k in per_layer_names()}, spans


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vector_search_test_spark", "__init__.py")):
        fail(f"no vector_search_test_spark package next to {HERE}")
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]

    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare_env(work)
        run = run_once(cls, args.seed, args.seconds, work, traced=bool(args.trace))
        metrics, facts = end_to_end(run)
        if args.trace:
            metrics, spans = per_layer(run)
            with open(os.path.join(out_root, f"spans-{args.workload}-{args.seed}.json"),
                      "w") as f:
                json.dump(spans, f)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    problems = run["problems"]
    attempted = sum(len(p.ops) for p in run["passes"])
    failed = sum(p.failed for p in run["passes"])
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **run["facts"], **facts,
        "error_rate": failed / max(attempted, 1), "problems": problems[:10]}))
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
