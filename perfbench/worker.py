"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` (which sets the environment: PYTHONPATH, private
Spark local and temp dirs, core count). Steps:

1. set-up: the engine session is built and runs ``SETUP_QUERY``, timed
   from process spawn (the cold set-up); then the session is stopped and
   rebuilt ``RESTARTS`` times on the live JVM, each timed the same way;
2. an untimed warm pass checks every query against the DuckDB oracle;
3. timed passes run until ``--seconds`` have passed and at least
   ``MIN_PASSES`` have run, every result again checked against the oracle;
4. with ``--trace 1`` every untraced pass is followed by a traced one, so
   the JVM's warm-up trend falls on both alike; the per-layer metrics
   come from the traced passes.

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import time
import traceback

from perfbench import check, trace
from perfbench.workloads import COUNTED_QUERIES, SETUP_QUERY, WORKLOADS

RESTARTS = 3
#: Timed passes per untraced run at least, however short ``--seconds``
#: is: the first pass after the warm pass still runs slower while the
#: JVM compiles, and a median of three puts it at the edge. A traced run
#: takes two untraced and two traced passes at least.
MIN_PASSES = 3
APP = "perfbench"


def _log(msg: str) -> None:
    print(f"[perfbench {time.time():.3f}] {msg}", flush=True)


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    def __init__(self, args):
        self.a = args
        self.queries = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.query_walls: dict[str, list[float]] = {}
        self.tracer = None

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        from mapreduce_hw05_spark.plans import QUERIES
        from mapreduce_hw05_spark.session import get_spark

        spawn = float(os.environ["PERFBENCH_SPAWN_TS"])
        self.QUERIES = QUERIES
        self.spark = get_spark(APP)
        ready = time.time()
        QUERIES[SETUP_QUERY](self.spark, self.a.data).collect()
        warm = time.time()
        self.cold = {"session.start_s": ready - spawn, "session.warm_s": warm - ready}
        self.setups = []
        for _ in range(RESTARTS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(APP)
            QUERIES[SETUP_QUERY](self.spark, self.a.data).collect()
            self.setups.append(time.perf_counter() - t0)

    # -- passes ------------------------------------------------------------

    def run_query(self, name: str):
        """Build, collect and check one query; returns (wall_s, df, rows),
        with ``df`` None when the query raised."""
        self.attempted += 1
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            if tr is None or not tr.enabled:
                df = self.QUERIES[name](self.spark, self.a.data)
                rows = df.collect()
            else:
                with tr.span("plans", "plans"):
                    df = self.QUERIES[name](self.spark, self.a.data)
                with tr.span("sink", "sink"):
                    rows = df.collect()
            wall = time.perf_counter() - t0
            why = check.mismatch(check.digest(df.columns, rows), self.expected[name])
        except Exception:
            wall = time.perf_counter() - t0
            df, rows, why = None, [], traceback.format_exc(limit=3)
        if why is not None:
            self.failures.append(f"{name}: {why}")
        return wall, df, rows

    def one_pass(self) -> float:
        order = self.rng.sample(self.queries, len(self.queries))
        total = 0.0
        for q in order:
            wall = self.run_query(q)[0]
            self.query_walls.setdefault(q, []).append(wall)
            total += wall
        return total

    def traced_pass(self) -> tuple[float, dict]:
        tr, probe = self.tracer, self.probe
        order = self.rng.sample(self.queries, len(self.queries))
        total, pm = 0.0, {}
        tr.enable(True)
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        for q in order:
            lo = probe.last_job_id()
            first_span, first_event = len(tr.spans), len(self.progress)
            tr.qid = q
            wall, df, rows = self.run_query(q)
            tr.qid = None
            hi = probe.last_job_id()
            udf_s, udf_calls = trace.udf_profile(self.spark)
            spans = [s for s in tr.spans[first_span:] if s["qid"] == q]
            qm = trace.query_metrics(
                spans, probe.jobs(lo, hi), self.progress[first_event:], self.cores
            )
            qm["python.udf_s"], qm["python.udf_calls"] = udf_s, udf_calls
            qm["transfer.rows"] = len(rows)
            if df is not None:
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                noop_s = time.perf_counter() - t0
                qm["transfer.s"] = qm["spark.exec_s"] - noop_s
                self.spark.profile.clear(type="perf")
            if q in COUNTED_QUERIES:
                qm[f"spark.jobs.{q}"] = qm["spark.jobs"]
            self.per_query.append({"query": q, "wall_s": wall, **qm})
            total += wall
            for k, v in qm.items():
                pm[k] = pm.get(k, 0) + v
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        tr.enable(False)
        pm["spark.s_per_job"] = pm["spark.job_wall_s"] / max(1, pm["spark.jobs"])
        return total, pm

    def start_tracing(self) -> None:
        self.tracer = trace.Tracer()
        self.tracer.install()
        self.probe = trace.SparkProbe(self.spark)
        self.progress: list[dict] = []
        trace.progress_listener(self.spark, self.progress)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.per_query: list[dict] = []

    # -- main ----------------------------------------------------------------

    def main(self) -> dict:
        from mapreduce_hw05_spark.plans import ORACLES

        self.setup()
        _log(f"setup done: {self.setups}")
        oracle = check.Oracle(self.a.data)
        self.expected = {q: oracle.expect(ORACLES[q]) for q in self.queries}
        oracle.close()

        _log("oracle done")
        self.one_pass()  # warm + verify, untimed
        self.query_walls.clear()
        _log("warm pass done")
        walls, traced, layers = [], [], []
        if self.a.trace:
            self.start_tracing()
        min_passes = 2 if self.a.trace else MIN_PASSES
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.a.seconds or len(walls) < min_passes:
            walls.append(self.one_pass())
            if self.a.trace:
                w, pm = self.traced_pass()
                traced.append(w)
                layers.append(pm)
        out = {"pass_walls": walls, "query_walls": self.query_walls,
               "setups": self.setups, "cold": self.cold}
        if self.a.trace:
            keys = sorted({k for pm in layers for k in pm})
            out["traced_walls"] = traced
            out["layers"] = {
                k: statistics.median(pm.get(k, 0) for pm in layers) for k in keys
            }
            out["per_query"] = self.per_query
            self.tracer.dump(self.a.out + ".spans.json")
        _log(f"passes done: {walls}")
        from pyspark import SparkContext

        out["peak_rss_mb"] = _hwm_mb(os.getpid()) + _hwm_mb(
            SparkContext._gateway.proc.pid
        )
        out["attempted"], out["failures"] = self.attempted, self.failures
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = Run(args).main()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    # The launcher stops the JVM with the rest of the process group;
    # skipping spark.stop() saves its shutdown from every run.
    os._exit(0)


if __name__ == "__main__":
    main()
