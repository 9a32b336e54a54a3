"""Out-of-engine tracing for the traced benchmark run.

Nothing here edits the engine. :meth:`Tracer.install` wraps the public
functions of the engine's layer modules and rebinds every module global
that still points at an original, so names that plans bound at import
(``from ..operators.graph import pagerank``) and names looked up inside
function bodies both reach the wrapper. Each wrapper records a span
(name, layer, start, end, parent, query id) in memory; :func:`query_metrics`
turns one query's spans, its Spark jobs (read from Spark's own status
store), its streaming progress events and its UDF profiles into
per-layer numbers.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time

PKG = "mapreduce_hw05_spark"

#: The tracer currently recording, or None. Wrappers look it up at
#: call time, so a wrapper that reaches a Python worker inside a pickled
#: function runs the original untouched.
_ACTIVE = None


def _layer(module: str) -> str | None:
    parts = module.split(".")
    if module == f"{PKG}.session":
        return "session"
    if len(parts) >= 2 and parts[1] == "sources":
        return "sources"
    if len(parts) == 3 and parts[1] == "operators":
        return f"operators.{parts[2]}"
    if module == f"{PKG}.streaming.replay":
        return "streaming"
    return None


def _call(fn, name, layer, args, kwargs):
    tracer = _ACTIVE
    if tracer is None:
        return fn(*args, **kwargs)
    with tracer.span(name, layer):
        return fn(*args, **kwargs)


def _wrap(fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return _call(fn, name, layer, args, kwargs)

    wrapper.__perfbench_original__ = fn
    return wrapper


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self.qid = None
        self.enabled = False

    def enable(self, on: bool) -> None:
        """Switch the installed wrappers between recording and pass-through."""
        global _ACTIVE
        self.enabled = on
        _ACTIVE = self if on else None

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def install(self) -> None:
        """Wrap every public function of the layer modules, recording off
        until :meth:`enable`."""
        swapped: dict[int, object] = {}
        modules = [m for n, m in sorted(sys.modules.items())
                   if m is not None and n.startswith(PKG)]
        for mod in modules:
            layer = _layer(mod.__name__)
            if layer is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or inspect.isgeneratorfunction(fn)
                    or hasattr(fn, "evalType")  # a Spark UDF object
                ):
                    continue
                swapped[id(fn)] = _wrap(fn, f"{layer}.{attr}", layer)
            if layer == "streaming" and hasattr(mod, "FileReplay"):
                cls = mod.FileReplay
                cls.push_next = _wrap(cls.push_next, "streaming.replay_push", layer)
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                new = swapped.get(id(val))
                if new is not None and getattr(new, "__perfbench_original__", None) is val:
                    setattr(mod, attr, new)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        with t._lock:
            parent = t._stack[-1]["id"] if t._stack else None
            self.rec = {
                "id": len(t.spans), "name": self.name, "layer": self.layer,
                "parent": parent, "qid": t.qid, "start": time.time(), "end": None,
            }
            t.spans.append(self.rec)
            t._stack.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        with t._lock:
            self.rec["end"] = time.time()
            t._stack.remove(self.rec)
        return False


# --------------------------------------------------------------------------
# Spark status store, streaming progress and UDF profiles
# --------------------------------------------------------------------------


class SparkProbe:
    """Reads finished jobs and stages from the Spark driver's status store."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        jvm = spark._jvm
        self.json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.json.registerModule(getattr(scala_mod, "MODULE$"))

    def last_job_id(self) -> int:
        """Newest job id once every queued listener event is processed
        (-1 before the first job)."""
        self.bus.waitUntilEmpty()
        jobs = self.store.jobsList(None)  # newest first
        return -1 if jobs.isEmpty() else jobs.apply(0).jobId()

    def jobs(self, after: int, upto: int) -> list[dict]:
        out = []
        for jid in range(after + 1, upto + 1):
            job = json.loads(self.json.writeValueAsString(self.store.job(jid)))
            job["stages"] = [
                json.loads(self.json.writeValueAsString(self.store.lastStageAttempt(sid)))
                for sid in job["stageIds"]
            ]
            out.append(job)
        return out


def progress_listener(spark, sink: list) -> None:
    """Register a StreamingQueryListener that appends every progress
    event (as its JSON dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())


def udf_profile(spark) -> tuple[float, int]:
    """(seconds, invocations) of the perf UDF profiles collected so far,
    then clear them."""
    results = spark._profiler_collector._perf_profile_results
    secs, calls = 0.0, 0
    for stats in results.values():
        secs += stats.total_tt
        for (path, _line, func), (_cc, nc, *_rest) in stats.stats.items():
            if func == "__exit__" and path.endswith("cProfile.py"):
                calls += nc
    spark.profile.clear(type="perf")
    return secs, calls


# --------------------------------------------------------------------------
# Per-query aggregation
# --------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def query_metrics(spans: list[dict], jobs: list[dict], progress: list[dict],
                  cores: int) -> dict[str, float]:
    """Per-layer metrics of one query execution.

    ``spans`` are the query's spans (the ``plans`` build, the ``sink``
    collect and everything nested under them); ``jobs`` the Spark jobs
    they launched, with stage data; ``progress`` the streaming progress
    events the build produced.
    """
    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0) + v

    by_id = {s["id"]: s for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] in by_id:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    for s in spans:
        self_s = max(0.0, s["end"] - s["start"] - child_s.get(s["id"], 0.0))
        layer = s["layer"]
        if layer.startswith("operators.") or layer in ("session", "streaming", "sources"):
            add(f"{layer}.self_s", self_s)
        if s["name"] == "sources.load_table":
            add("sources.load_calls", 1)
        if s["name"] == "streaming.replay_push":
            add("streaming.replay_push_s", s["end"] - s["start"])
    m["sources.load_s"] = m.pop("sources.self_s", 0.0)

    plans = [s for s in spans if s["layer"] == "plans"]
    sinks = [s for s in spans if s["layer"] == "sink"]
    m["plans.build_s"] = sum(s["end"] - s["start"] for s in plans)

    intervals = []
    for job in jobs:
        sub = job["submissionTime"] / 1000.0
        end = (job.get("completionTime") or job["submissionTime"]) / 1000.0
        intervals.append((sub, end))
        # innermost span holding the submission, then its nearest operator
        holder = None
        for s in spans:
            if s["start"] <= sub <= s["end"] and (
                holder is None or s["start"] >= holder["start"]
            ):
                holder = s
        if any(p["start"] <= sub <= p["end"] for p in plans):
            add("plans.build_jobs", 1)
        while holder is not None and not holder["layer"].startswith("operators."):
            holder = by_id.get(holder["parent"])
        if holder is not None:
            add(f"{holder['layer']}.jobs", 1)
    m["plans.driver_s"] = sum(
        (p["end"] - p["start"]) - _union(_clip(intervals, p["start"], p["end"]))
        for p in plans
    )

    stages = {}
    for job in jobs:
        for st in job["stages"]:
            if st["status"] != "SKIPPED":
                stages[st["stageId"]] = st
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    job_wall = _union(intervals)
    m["spark.job_wall_s"] = job_wall
    m["spark.exec_s"] = sum(s["end"] - s["start"] for s in sinks)
    totals = {k: 0 for k in (
        "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
        "inputBytes", "inputRecords", "outputBytes", "shuffleReadBytes",
        "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")}
    for st in stages.values():
        for k in totals:
            totals[k] += st.get(k) or 0
    m["spark.tasks"] = totals["numTasks"]
    m["spark.task_run_s"] = totals["executorRunTime"] / 1e3
    m["spark.task_cpu_s"] = totals["executorCpuTime"] / 1e9
    m["spark.gc_s"] = totals["jvmGcTime"] / 1e3
    m["spark.idle_core_s"] = cores * job_wall - m["spark.task_run_s"]
    m["spark.shuffle_read_bytes"] = totals["shuffleReadBytes"]
    m["spark.shuffle_write_bytes"] = totals["shuffleWriteBytes"]
    m["spark.spill_bytes"] = totals["memoryBytesSpilled"] + totals["diskBytesSpilled"]
    m["sources.input_bytes"] = totals["inputBytes"]
    m["sources.input_rows"] = totals["inputRecords"]
    m["sources.output_bytes"] = totals["outputBytes"]

    batches = {(p["runId"], p["batchId"]): p for p in progress}
    last: dict[str, dict] = {}
    for p in progress:
        last[p["runId"]] = p
    durations = sorted(p["durationMs"].get("triggerExecution", 0) for p in batches.values())
    m["streaming.batches"] = len(batches)
    m["streaming.batch_p50_ms"] = durations[len(durations) // 2] if durations else 0
    m["streaming.add_batch_s"] = sum(
        p["durationMs"].get("addBatch", 0) for p in batches.values()) / 1e3
    m["streaming.commit_s"] = sum(
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
        for p in batches.values()) / 1e3
    m["streaming.planning_s"] = sum(
        p["durationMs"].get("queryPlanning", 0) for p in batches.values()) / 1e3
    m["streaming.input_rows"] = sum(p.get("numInputRows", 0) for p in batches.values())
    m["streaming.state_rows"] = sum(
        op.get("numRowsTotal", 0) for p in last.values() for op in p.get("stateOperators", []))
    m["streaming.state_mem_bytes"] = sum(
        op.get("memoryUsedBytes", 0) for p in last.values() for op in p.get("stateOperators", []))
    return m
