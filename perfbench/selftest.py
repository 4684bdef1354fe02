"""Self-test of the benchmark at tiny input sizes (a few minutes).

    python3 perfbench/selftest.py

Checks, for every workload named in BENCHMARK.json:

1. ``run.py --trace 0`` and ``--trace 1`` at a tiny ``--scale`` print, as
   the last stdout line, a correct result holding a finite value for
   every ``end_to_end`` (resp. ``per_layer``) metric;
2. output verification passes on a real job and fails once one output
   file has lost a row;
3. ``run.py`` in a directory holding only BENCHMARK.json and the
   benchmark's files exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_printed_metrics(spec: dict) -> list[str]:
    errors = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(ROOT, w["name"], trace)
            where = f"{w['name']} --trace {trace}"
            if p.returncode != 0:
                errors.append(f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{where}: keys {sorted(res)}")
            if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
                errors.append(f"{where}: not correct: {res}")
            want = [m["name"] for m in spec[key]]
            if sorted(res["metrics"]) != sorted(want):
                errors.append(f"{where}: metrics {sorted(res['metrics'])} != {sorted(want)}")
            for k, v in res["metrics"].items():
                if not (isinstance(v["value"], (int, float)) and math.isfinite(v["value"])):
                    errors.append(f"{where}: {k} = {v['value']!r}")
            print(f"ok: {where}", flush=True)
    return errors


def _drop_a_row(table_dir: str) -> None:
    """Rewrite the largest data file of ``table_dir`` without its last row."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(table_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    path = max(files, key=os.path.getsize)
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows - 1), path)
    # Hadoop's checksum sidecar would reject the rewritten file outright
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def check_verification_catches_corruption(spec: dict) -> list[str]:
    sys.path[:0] = [HERE, ROOT]
    import run
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(work)
    run._configure_env(work)
    spark = run._start_session(work, 2, False)
    off = Tracer(enabled=False)
    errors = []
    try:
        for w in spec["workloads"]:
            wl = WORKLOADS[w["name"]]
            ctx = Ctx(spark, os.path.join(work, wl.name), 7, float(SCALE))
            wl.stage(ctx)
            if wl.warmup(ctx, off):
                errors.append(f"{wl.name}: warm-up checks failed")
            out = wl.job(ctx, off)
            if wl.verify(ctx, out):
                errors.append(f"{wl.name}: verification failed on a correct output")
            _drop_a_row(os.path.join(out["out"], wl.main_table))
            if not wl.verify(ctx, out):
                errors.append(f"{wl.name}: verification missed a dropped row")
            print(f"ok: {wl.name} verification", flush=True)
    finally:
        run._stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return errors


def check_fails_without_program() -> list[str]:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(d, "kg_extract", 0)
        if p.returncode == 0 or p.stdout.strip():
            return [f"bare directory: exit {p.returncode}, stdout {p.stdout!r}"]
    print("ok: bare directory fails", flush=True)
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    errors = check_fails_without_program()
    errors += check_printed_metrics(spec)
    errors += check_verification_catches_corruption(spec)
    for e in errors:
        print("FAIL:", e, file=sys.stderr)
    print("selftest:", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
