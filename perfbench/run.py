"""Job-level benchmark of batch_import_spark.

    python3 perfbench/run.py --workload kg_extract --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout, one process driving ``local[nproc]``
with ``spark.sql.shuffle.partitions = nproc``, as a closed loop with one
client: each job starts when the previous one has finished and been
verified. Set-up (session start, input generation and staging, the
warm-up jobs) is timed on its own; staging repeats SETUP_REPEATS times
and the median counts. Then complete jobs run back to back for about
``--seconds``, at least MIN_JOBS of them; every job's outputs are
checked against the generator's closed-form expectation. A job's cost
is its CPU time summed over the process tree, which time lost to other
tenants of a shared host does not inflate as it does wall time.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run on the same inputs: it alternates untraced and traced jobs (two of
each), then times single layers in isolation, and prints the
per-layer metrics (self time per span, Spark scheduler counters from the
event log, the tracing overhead). Its spans go to ``.perfbench/trace/``.
Metric names and units are those of ``BENCHMARK.json`` beside the
benchmark.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# figures are medians over at least this many jobs, even when fewer fit
# in --seconds
MIN_JOBS = 3
# driver heap, fixed (-Xms = -Xmx) so the JVM does not resize it mid-run
DRIVER_HEAP = "2g"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _start_session(work: str, nproc: int, trace: bool):
    from batch_import_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


def _run_job(wl, ctx, tr):
    """One timed job plus its (untimed) verification."""
    from spans import tree_cpu_s

    c = tree_cpu_s(os.getpid())
    t = time.perf_counter()
    try:
        out = wl.job(ctx, tr)
        dt = time.perf_counter() - t
        out["cpu_s"] = tree_cpu_s(os.getpid()) - c
        failed = wl.verify(ctx, out)
    except Exception:
        traceback.print_exc()
        return time.perf_counter() - t, None, ["raised"]
    if failed:
        print(f"perfbench: {wl.name} output check failed: {failed}", file=sys.stderr)
    return dt, out, failed


def _measure(wl, ctx, seconds: float, tracers):
    """Run jobs back to back for about ``seconds``, at least MIN_JOBS.
    Two tracers take turns as A B B A, at least one round, so a drift
    in job time over the run (the JIT still warming up) does not show as
    tracing overhead."""
    n = len(tracers)
    runs, start = [], time.perf_counter()
    while True:
        k = len(runs) % (2 * n)
        tr = tracers[k if k < n else 2 * n - 1 - k]
        tr.run = f"job{len(runs)}"
        runs.append((tr,) + _run_job(wl, ctx, tr))
        elapsed = time.perf_counter() - start
        if (
            len(runs) >= MIN_JOBS
            and len(runs) % (2 * n) in (0, n)
            and elapsed + _median([r[1] for r in runs]) > seconds
        ):
            return runs


def end_to_end(runs, setup_s: float, peak_rss: int) -> dict:
    from gen import dir_size

    ok = [(dt, out) for _tr, dt, out, failed in runs if not failed]
    if not ok:
        return {}
    return {
        "setup_s": setup_s,
        "cpu_s": _median([out["cpu_s"] for _, out in ok]),
        "peak_rss_mb": peak_rss / 1e6,
        "output_mb": dir_size(ok[-1][1]["out"])[1] / 1e6,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "batch_import_spark", "__init__.py")):
        print(f"perfbench: no batch_import_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    sys.path.insert(0, ROOT)
    from layers import per_layer
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _configure_env(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(work, nproc, bool(args.trace))
        session_s = time.perf_counter() - t0

        ctx = Ctx(spark, work, args.seed, args.scale)
        off = Tracer(enabled=False)
        stage_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            inputs = wl.stage(ctx)
            stage_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        setup_failed = wl.warmup(ctx, off)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + _median(stage_s) + warmup_s

        if args.trace:
            tracer = Tracer(spark.sparkContext)
            runs = _measure(wl, ctx, args.seconds, [off, tracer])
            tracer.run = "layers"
            setup_failed += wl.layers(ctx, tracer)
        else:
            with RssSampler() as rss:
                runs = _measure(wl, ctx, args.seconds, [off])
            peak = rss.peak
        _stop_session(spark)
        spark = None

        if args.trace:
            metrics, spans = per_layer(tracer, runs, os.path.join(work, "events"), units)
            trace_dir = os.path.join(ROOT, ".perfbench", "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json"), "w") as f:
                json.dump(
                    {"workload": wl.name, "seed": args.seed, "inputs": inputs,
                     "metrics": metrics, "spans": spans},
                    f, indent=1, default=str,
                )
        else:
            metrics = end_to_end(runs, setup_s, peak)

        if setup_failed:
            print(f"perfbench: {wl.name} set-up or layer check failed: {setup_failed}",
                  file=sys.stderr)
        n_failed = sum(1 for r in runs if r[3])
        correct = not setup_failed and n_failed == 0 and bool(metrics)
        print(
            f"perfbench: {wl.name} seed={args.seed} local[{nproc}] inputs={inputs} "
            f"jobs={len(runs)} walls={[round(r[1], 2) for r in runs]} "
            f"cpus={[round(r[2]['cpu_s'], 2) for r in runs if r[2]]} "
            f"failed_ratio={n_failed / len(runs):.3f} "
            f"setup: session={session_s:.2f}s stage={_median(stage_s):.2f}s "
            f"warmup={warmup_s:.2f}s",
            file=sys.stderr,
        )
        for name, value in metrics.items():
            print(f"  {name:28s} {value:14.4f} {units[name]}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": len(runs),
                    "failed": n_failed,
                    "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
