"""Benchmark launcher: one workload, one seed, one fresh engine process.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

Run from the repository root. It generates the seeded input tables under
``perfbench/.work/``, starts ``worker.py`` in a session of its own with a
clean environment (PYTHONPATH = repository root for the Spark driver
and its Python workers, private SPARK_LOCAL_DIRS and temp dirs,
``local[nproc]``), waits for it and for every process it started, and
prints one ``SUMMARY`` line (every reading with its unit and sample
count) and then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (pass_s, setup_s);
with ``--trace 1`` the per-layer ones BENCHMARK.json lists. Exits non-zero when
any query raised or disagreed with the DuckDB oracle, or when the engine
is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TIMEOUT_S = 170

sys.path.insert(0, ROOT)
from perfbench import datagen  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def tail_percentile(values: list[float]) -> tuple[float | None, float | None]:
    """Highest order statistic with at least ten samples above it, and
    its percentile; (None, None) with fewer than eleven samples."""
    xs = sorted(values)
    k = len(xs) - 11
    if k < 0:
        return None, None
    return xs[k], 100.0 * (k + 1) / len(xs)


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. Spark's Python daemon moves to
    its own process group but stays in the worker's session."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def _reap(proc: subprocess.Popen) -> None:
    """Kill every process of the worker's session (Spark driver, JVM, Python
    daemon and workers) and wait until none is left. The worker has
    written its result by then, so nothing is lost by skipping a clean
    stop."""
    while True:
        pids = _session_pids(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.returncode is None:
            proc.wait()
        time.sleep(0.05)
    proc.wait()


def launch(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    data = datagen.ensure(seed, os.path.join(WORK, "data", f"seed{seed}"))
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
        "PERFBENCH_SPAWN_TS": repr(time.time()),
    })
    env.pop("OMP_NUM_THREADS", None)
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(int(traced)), "--data", data, "--out", out,
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _reap(proc)
    for scratch in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"worker failed (exit {proc.returncode}); log: {log_path}")
    with open(out) as fh:
        result = json.load(fh)
    result["run_dir"] = run_dir
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A SIGTERM to the launcher unwinds through launch()'s finally, which
    # reaps the worker's session.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "mapreduce_hw05_spark", "__init__.py")):
        print("engine package mapreduce_hw05_spark not found under "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    r = launch(args.workload, args.seed, args.seconds, bool(args.trace))
    walls = r["pass_walls"]
    failed = len(r["failures"])
    for f in r["failures"]:
        print("FAIL", f, file=sys.stderr)
    tail, pct = tail_percentile(walls)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "pass_s": {"value": statistics.median(walls), "unit": "s", "samples": len(walls)},
        "pass_tail_s": {"value": tail, "unit": "s", "samples": len(walls), "percentile": pct},
        "setup_s": {"value": statistics.median(r["setups"]), "unit": "s",
                    "samples": len(r["setups"])},
        "fail_frac": {"value": failed / r["attempted"], "unit": "1",
                      "samples": r["attempted"]},
        "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
    }
    if args.trace:
        layers = dict(r["layers"])
        layers.update(r["cold"])
        untraced = statistics.median(walls)
        traced = statistics.median(r["traced_walls"])
        layers["trace.untraced_pass_s"] = untraced
        layers["trace.pass_s"] = traced
        layers["trace.overhead_s"] = traced - untraced
        metrics = {
            n: {"value": layers.get(n, 0), "unit": unit}
            for n, unit in per_layer_units().items()
        }
        summary["trace_file"] = os.path.join(r["run_dir"], "result.json")
    else:
        metrics = {k: {"value": summary[k]["value"], "unit": "s"}
                   for k in ("pass_s", "setup_s")}
    print("SUMMARY " + json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
