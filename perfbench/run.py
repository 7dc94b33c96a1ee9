"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload corpus|writes|analyst \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run makes (or reuses) its seeded
inputs, starts the engine's own Spark session on local[<cores>], sets
up, makes one untimed warm-up pass, then makes timed passes over the
workload's fixed op list until `--seconds` have gone by (a pass is
never cut short), one op in flight at a time: a closed loop with one
client. Every op's output is checked. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`), or the
per-layer metrics of a traced run (`--trace 1`), which also writes its
spans and the full layer table under .perfbench/traces/. Progress and
diagnostics go to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "data_engineering_challenge_spark")
# a fixed heap (initial = maximum) so that peak RSS does not hang on how
# far the collector chose to grow it; leaves room for DuckDB, the
# Python workers and the OS on a 15 GB box
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "ok_frac": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "catalog.load_s": "s",
    "catalyst.s": "s",
    "collect.s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.driver_gap_s": "s", "exec.task_run_s": "s",
    "exec.gc_s": "s", "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "jvm.gc_s": "s", "proc.python_workers": "count",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(run_dir: str) -> None:
    """Point everything the engine and Spark write at this run's own
    directory inside the checkout, and size the session for the box."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "duckdb")):
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "index"),
        "SPARK_GRAFT_ORACLE_TMP": os.path.join(run_dir, "duckdb"),
        "SPARK_GRAFT_ORACLE_MEM": "1GB",
        "TMPDIR": tmp,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    log(f"cpus={cpus} driver_mem={DRIVER_MEM} run_dir={run_dir}")


def clear_stale_runs(runs: str) -> None:
    """Remove the directories of earlier runs whose process is gone,
    and say so: a run that did not clean up was cut off."""
    if not os.path.isdir(runs):
        return
    for d in os.listdir(runs):
        pid = d.split("-", 1)[0]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            log(f"WARNING: removing leftovers of an earlier run: {d}")
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)


def peak_rss_mb(jvm_pid: int) -> tuple[float, int]:
    """Peak RSS of this process, the JVM and its live Python workers,
    from VmHWM; also the number of those workers."""
    from perfbench.trace import descendants, is_python_worker, status_kb

    workers = [p for p in descendants(jvm_pid) if is_python_worker(p)]
    kb = status_kb(os.getpid(), "VmHWM") + status_kb(jvm_pid, "VmHWM")
    kb += sum(status_kb(p, "VmHWM") for p in workers)
    return kb / 1024, len(workers)


def stop_spark(spark, jvm) -> None:
    """Stop the session, end the JVM and wait for it and for every
    process this run started."""
    from perfbench.trace import descendants

    try:
        spark.stop()
    finally:
        if jvm is not None:
            jvm.stdin.close()  # the gateway exits when its stdin closes
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in descendants(os.getpid()):
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def run_pass(ctx, wl, pass_no: int) -> tuple[float, list[tuple[str, float, str | None]]]:
    """One pass over the workload's ops; returns the sum of its op
    times (the checks between ops are the benchmark's work, not the
    program's, and are left out) and, per latency sample,
    (op, seconds, error or None)."""
    t, probe = ctx.tracer, ctx.probe
    samples, busy = [], 0.0
    ctx.extra.clear()
    ops = wl.ops(ctx, pass_no)
    for op in ops:
        wl.op_groups = []
        err, out = None, None
        planning = t.layers.get("catalyst.planning_s", 0.0)
        with t.span(op.name, kind="op") as sp, probe.jobs(sp, lambda: wl.op_groups):
            start = time.perf_counter()
            try:
                out = op.run()
            except Exception as e:
                err = f"raised {type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - start
        busy += dt
        if sp is not None:
            t.add(f"{wl.name}.{op.name}_s", dt)
            t.add("exec.driver_gap_s", max(
                0.0, dt - sp.get("job_s", 0.0) - (t.layers.get("catalyst.planning_s", 0.0) - planning)
            ))
        if err is None:
            try:
                err = op.check(out)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {str(e)[:300]}"
        if err:
            log(f"FAILED {op.name}: {err}")
        per = op.samples(out) if (op.samples and err is None) else [dt]
        samples += [(op.name, s, err) for s in per]
        log(f"pass {pass_no} {op.name} {dt:.3f}s {'ok' if not err else 'FAILED'}")
    wl.end_pass(ctx)
    return busy, samples


def main(argv: list[str] | None = None) -> int:
    from statistics import median

    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        log(f"no engine package at {PACKAGE}: run from the root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, stats
    from perfbench.trace import CATALYST_PHASES, SparkProbe, Tracer
    from perfbench.workloads import SF, WORKLOADS, Context

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]()
    runs = os.path.join(inputs.WORK, "runs")
    clear_stale_runs(runs)
    run_id = f"{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(runs, run_id)
    isolate(run_dir)
    tracer = Tracer(False, run_id)
    spark = jvm = None
    try:
        # inputs: made (or found in the cache) before any timing starts
        t0 = time.perf_counter()
        ctx = Context(None, tracer, None, args.seed, run_dir,
                      inputs.ensure_scales([SF], dict(os.environ))[SF])
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t0

        # set-up: session, the workload's set-up step three times, and
        # an untimed warm-up pass, which pays the first compile of every
        # plan and code path; that cost swings with the box's load far
        # more than a warm pass does. Peak RSS counts from here: the
        # oracle runs of input preparation are not the program's memory.
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        t0 = time.perf_counter()
        from data_engineering_challenge_spark.session import get_session

        spark = get_session(f"perfbench-{args.workload}")
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        ctx.spark, ctx.probe = spark, SparkProbe(spark, tracer)
        session_s = time.perf_counter() - t0
        prime_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            wl.prime(ctx)
            prime_s.append(time.perf_counter() - t0)
        warm_s, warm = run_pass(ctx, wl, 0)
        if any(err for _, _, err in warm):
            log("the warm-up pass had failures")
        setup_s = session_s + median(prime_s) + warm_s
        log(f"prepare {prepare_s:.2f}s; setup {setup_s:.2f}s (session {session_s:.2f}, "
            f"catalog {[round(x, 3) for x in prime_s]}, warm-up pass {warm_s:.2f})")

        # measurement
        tracer.enabled = bool(args.trace)
        gc0 = ctx.probe.jvm_gc_ms() if args.trace else 0
        passes, samples, extras, workers = [], [], [], 0
        t_measure = time.perf_counter()
        while not passes or time.perf_counter() - t_measure < args.seconds:
            dt, s = run_pass(ctx, wl, len(passes) + 1)
            passes.append(dt)
            samples += s
            extras.append(dict(ctx.extra))
            workers = max(workers, peak_rss_mb(jvm.pid)[1] if jvm else 0)
        tracer.enabled = False
        rss, _ = peak_rss_mb(jvm.pid) if jvm else (0.0, 0)
        jvm_gc_s = (ctx.probe.jvm_gc_ms() - gc0) / 1000 if args.trace else 0.0
    except Exception:
        traceback.print_exc(file=sys.stderr)
        log("run aborted")
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark, jvm)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(samples)
    failed = sum(1 for _, _, err in samples if err)
    lat = [s for _, s, _ in samples]
    end_to_end = {
        "setup_s": setup_s,
        "pass_s": median(passes),
        "op_p50_s": median(lat),
        "ok_frac": (attempted - failed) / attempted,
        "peak_rss_mb": rss,
    }
    # the tail rule needs more than TAIL_BEYOND samples; a corpus pass
    # has 7, so the tail is reported here and in the trace, not gated
    if len(lat) > stats.TAIL_BEYOND:
        tail_v, tail_p, _ = stats.tail(lat)
        tail = f"op tail {tail_v:.3f}s = p{tail_p:.1f} of {len(lat)} samples"
    else:
        tail_v, tail_p, tail = None, None, f"no op tail: {len(lat)} samples"
    workload_figures = {k: median(e[k] for e in extras) for k in extras[0]}
    log(f"{len(passes)} passes {[round(p, 2) for p in passes]}; {tail}; "
        f"prepare_s {prepare_s:.2f}; {json.dumps(workload_figures)}")
    if args.trace:
        layers = dict(tracer.layers)
        layers.update({
            "session.start_s": session_s, "catalog.load_s": median(prime_s),
            "jvm.gc_s": jvm_gc_s, "proc.python_workers": workers,
        })
        layers["catalyst.s"] = sum(layers.get(f"catalyst.{p}_s", 0.0) for p in CATALYST_PHASES)
        seen = layers.get("index.reads", 0) + layers.get("index.builds", 0)
        if seen:
            layers["index.hit_ratio"] = layers.get("index.reads", 0) / seen
        # per-pass totals, so traced figures compare across run lengths
        layers = {k: v / len(passes) if k not in (
            "session.start_s", "catalog.load_s", "proc.python_workers", "index.hit_ratio"
        ) else v for k, v in layers.items()}
        path = os.path.join(inputs.WORK, "traces", f"{args.workload}-seed{args.seed}-{run_id}.json")
        tracer.write(path, {
            "workload": args.workload, "seed": args.seed, "passes": passes,
            "layers_per_pass": layers, "self_s": tracer.self_times(),
            "end_to_end": end_to_end, "workload_figures": workload_figures,
            "op_tail_s": tail_v, "op_tail_percentile": tail_p, "samples": len(lat),
        })
        log(f"trace written to {path}")
        for k in sorted(layers):
            log(f"  {k} = {layers[k]:.6g}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    log(f"run took {time.perf_counter() - t_start:.1f}s")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
