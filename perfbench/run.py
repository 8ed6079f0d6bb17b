#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
``BENCHMARK.json``.  The line before it is the full report, stamped with
its provenance; both, and the traced run's spans, are also written under
``.bench_build/perfbench/results/``.  Everything the run writes stays
under ``.bench_build/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "syslog_handler_with_clickhouse_spark"
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SETUP_CYCLES = 3
STEAL_MAX = 0.05  # a window whose CPU steal share is above this is measured again
MAX_WINDOWS = 2
DEADLINE_S = 100  # no further window once the run is this old (runs must end in 180 s)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke size: tiny inputs")
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file the run (and Spark) writes inside the checkout, and
    run Spark on local[<cpus this process may use>]."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers (pandas UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # no hsperfdata files in /tmp, from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(run_dir)  # spark-warehouse / derby.log land here


def provenance(args) -> dict:
    def cpu_model():
        try:
            with open("/proc/cpuinfo") as f:
                return next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), None)
        except OSError:
            return None

    def mem_kb():
        with open("/proc/meminfo") as f:
            return int(f.readline().split()[1])

    git_sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        git_sha = r.stdout.strip() or None
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    with open(os.path.join(ROOT, "bench.py"), "rb") as fh:
        h.update(fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "tiny": args.tiny,
        "git_sha": git_sha,
        "source_sha": h.hexdigest()[:16],
        "host": {"cpu_model": cpu_model(), "mem_total_kb": mem_kb()},
        "cpus_host": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "python": sys.version.split()[0],
    }


def start_session(tracer):
    from syslog_handler_with_clickhouse_spark.session import get_spark

    t = time.time()
    with tracer.span("session.start", new_trace=True):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.time() - t


def stop_jvm(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                jvm_kb = int(ln.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (/proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def e2e_metrics(win) -> dict:
    from spans import pct, tail_pct

    q, tail = tail_pct(win.latency)
    return {
        # bench.py's protocol: the sum over the pass's queries of each
        # query's median latency in the window
        "pass_s": sum(statistics.median(xs) for xs in win.per_query.values() if xs),
        "pass_wall_s": statistics.median(win.passes),
        "latency_p50_s": pct(win.latency, 0.5),
        "latency_tail_s": tail,
        "latency_tail_q": q,
        "latency_samples": len(win.latency),
        "passes": len(win.passes),
    }


def parse_probe(ctx) -> float:
    """parse.rows_per_s: ``parsed_logs`` over a seeded backlog read as a
    static frame into noop, minus the same read without the parse."""
    from pyspark.sql import functions as F

    from gen import Generator, write_file
    from syslog_handler_with_clickhouse_spark.functions.parse import parsed_logs

    spark = ctx.spark
    files, per = (2, 500) if ctx.tiny else (10, 20_000)
    d = os.path.join(ctx.run_dir, "parse_in")
    staging = os.path.join(ctx.run_dir, "parse_staging")
    os.makedirs(d)
    os.makedirs(staging)
    gen = Generator(ctx.seed)
    for k in range(files):
        dev, lines = gen.batch(per, 0.0)
        write_file(d, f"{k:05d}", dev, lines, staging)
    raw = spark.read.text(d).select(
        F.col("value").alias("raw"), F.lit("10.0.0.1:514").alias("device"))
    diffs = []
    for _ in range(3):
        t = time.time()
        raw.write.format("noop").mode("overwrite").save()
        base = time.time() - t
        t = time.time()
        parsed_logs(raw).write.format("noop").mode("overwrite").save()
        diffs.append(time.time() - t - base)
    return files * per / max(statistics.median(diffs), 1e-3)


def traced_layers(ctx, tracer, progress, wl, win_u, win_t, cold_start_s) -> tuple[dict, dict]:
    """The per-layer metrics of the traced window and the report extras."""
    import spans as sp

    from summary import summarize

    jobs, stages = sp.spark_jobs(ctx.spark)
    sp.attribute_jobs(tracer.spans, jobs)
    t0, t1 = win_t.t0, win_t.t1
    in_win = [s for s in tracer.spans if t0 <= s["start"] <= t1]
    layer = {"session.start_s": cold_start_s}
    for name in ("query.build", "query.plan"):
        layer[name + "_s"] = sum(s["end"] - s["start"] for s in in_win if s["name"] == name)
    layer.update(sp.window_spark_metrics(jobs, stages, t0, t1))
    layer.update(sp.trigger_metrics(progress.events, t0, t1))
    u, t = e2e_metrics(win_u), e2e_metrics(win_t)
    layer["trace.overhead_frac"] = t["pass_s"] / u["pass_s"] - 1.0
    layer["parse.rows_per_s"] = parse_probe(ctx)
    extra = {
        "untraced": u, "traced": t,
        "overhead": {k: t[k] - u[k] for k in ("pass_s", "latency_p50_s", "latency_tail_s")},
        "summary": summarize(tracer.spans, t0, t1),
        **wl.layer_report(t0, t1),
    }
    return layer, extra


def measure(spark, wl, seconds: float, deadline: float) -> list:
    """Measurement windows until one runs with CPU steal at most
    ``STEAL_MAX`` (the host's other tenants took at most that share of
    the CPU), ``MAX_WINDOWS`` have run, or another would pass
    ``deadline``.  Each window records its steal share and JVM GC time."""
    windows = []
    while True:
        t, gc0, cpu0 = time.time(), jvm_gc_s(spark), cpu_times()
        w = wl.window(seconds)
        cpu1 = cpu_times()
        w.extra["cpu_steal_frac"] = (cpu1[7] - cpu0[7]) / max(sum(cpu1) - sum(cpu0), 1)
        w.extra["jvm_gc_s"] = jvm_gc_s(spark) - gc0
        windows.append(w)
        if (w.extra["cpu_steal_frac"] <= STEAL_MAX or len(windows) >= MAX_WINDOWS
                or time.time() + 1.5 * (time.time() - t) > deadline):
            return windows


def run(args) -> int:
    t_start = time.time()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir)
    sys.path[:0] = [ROOT, HERE]
    prov = provenance(args)

    from spans import ProgressLog, Tracer

    import workloads

    tracer = Tracer(enabled=False)
    spark = wl = None
    phase_s: dict = {}
    try:
        cycles = []
        for _ in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            spark, s = start_session(tracer)
            cycles.append(s)
        ctx = workloads.Ctx(spark=spark, seed=args.seed, run_dir=run_dir, tracer=tracer, tiny=args.tiny)
        if args.trace:
            # installed before the workload starts its stream: the ingest
            # sink binds write_snapshot when start_ingest_snapshots runs
            from syslog_handler_with_clickhouse_spark.queries import _common
            from syslog_handler_with_clickhouse_spark.sources import snapshots

            undo = [tracer.wrap(snapshots, "write_snapshot", "snapshot.write"),
                    tracer.wrap(_common, "load_table", "testdata.load")]
        t = time.time()
        wl = workloads.WORKLOADS[args.workload](ctx)
        phase_s["workload_setup"] = time.time() - t
        t = time.time()
        windows = measure(spark, wl, args.seconds, t_start + DEADLINE_S)
        win = min(windows, key=lambda w: w.extra["cpu_steal_frac"])
        if args.trace:
            tracer.enabled = True
            progress = ProgressLog(spark)
            spark.sparkContext.setJobGroup("client", "perfbench client")
            try:
                win_t = wl.window(args.seconds)
            finally:
                for u in undo:
                    u()
            windows.append(win_t)
        phase_s["windows"] = time.time() - t
        t = time.time()
        wl.finish(windows)
        phase_s["verify"] = time.time() - t
        if args.trace:
            t = time.time()
            layer, extra = traced_layers(ctx, tracer, progress, wl, win, win_t, cycles[0])
            progress.close()
            phase_s["layers"] = time.time() - t
        rss = peak_rss_mb(spark)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_jvm(spark)
        os.chdir(ROOT)

    e2e = e2e_metrics(win)
    e2e["setup_s"] = statistics.median(cycles)
    invalid = wl.invalid(win)
    report = {
        "provenance": {**prov, "loadavg_end": [round(x, 2) for x in os.getloadavg()]},
        "e2e": e2e,
        "peak_rss_mb": rss,
        "setup_cycles_s": cycles,
        "phase_s": phase_s,
        "windows": [{**e2e_metrics(w), **w.report()} for w in windows],
        "reported_window": windows.index(win),
        "notes": ctx.notes,
        "invalid": invalid,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failed_frac": ctx.failed / max(ctx.attempted, 1),
    }
    if args.trace:
        layer["peak_rss_mb"] = rss
        report.update(per_layer=layer, trace=extra, traced_window=[win_t.t0, win_t.t1])
    stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    if invalid:
        print(f"# run invalid, not reported: {invalid}", file=sys.stderr)
        return 3

    section, values = ("per_layer", layer) if args.trace else ("end_to_end", e2e)
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench_spec()[section]},
    }
    print("# report " + json.dumps(report, default=str))
    print(json.dumps(result), flush=True)
    return 0


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in (PACKAGE, "bench.py", "BENCHMARK.json") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing}); "
              "run from the repository root", file=sys.stderr)
        return 2
    names = [w["name"] for w in bench_spec()["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
