"""Layer tracing from outside the program (used by ``--trace 1`` runs).

``install()`` wraps every public function of every ``bqetl_spark`` module,
then imports ``__spark_entry__`` and wraps its gates, so each call opens a
span tagged with its layer. No library file is changed: the wrappers
replace module attributes, and a wrapper pickles as the function it wraps,
so UDF closures ship to Python workers unchanged.

While an op runs, the Spark job group is ``<workload>/<op>/<layer>`` of the
innermost layer call. After the op, ``Tracer.end_op`` reads Spark's status
stores (jobs, stages, task summaries, SQL metrics, storage) and attributes
each job to a layer by its group and to a span by its submission time.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import operator
import pkgutil
import re
import sys
import threading
import time

# longest prefix first: sources.sinks is its own layer
LAYERS = (
    ("bqetl_spark.sources.sinks", "sinks"),
    ("bqetl_spark.sources", "sources"),
    ("bqetl_spark.operators", "operators"),
    ("bqetl_spark.functions", "functions"),
    ("bqetl_spark.streaming", "streaming"),
    ("bqetl_spark.caching", "caching"),
    ("bqetl_spark.plans", "plans"),
    ("bqetl_spark.schema", "plans"),
    ("bqetl_spark.__main__", "plans"),
    ("bqetl_spark.sql", "operators"),
    ("bqetl_spark.session", "session"),
    ("__spark_entry__", "entry"),
)
MB = 1024 * 1024
# jobs the tracer itself runs (LSH pair counts); excluded from every op
COUNT_GROUP = "perfbench/trace-count"


def layer_of(module: str) -> str | None:
    for prefix, layer in LAYERS:
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


class Span:
    __slots__ = ("id", "parent", "layer", "name", "t0", "t1", "child_s")

    def __init__(self, sid, parent, layer, name):
        self.id, self.parent, self.layer, self.name = sid, parent, layer, name
        self.t0 = time.time()
        self.t1 = None
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def record(self) -> dict:
        return {"id": self.id, "parent": self.parent, "layer": self.layer,
                "name": self.name, "t0": self.t0, "t1": self.t1,
                "self_s": self.dur - self.child_s}


class Traced:
    """Callable stand-in for a library function: opens a span per call."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self.fn, self.layer, self.tracer = fn, layer, tracer
        self.name = f"{fn.__module__.split('.')[-1]}.{fn.__name__}"

    def __call__(self, *args, **kwargs):
        tr = self.tracer
        if tr.op is None or threading.current_thread() is not tr.main:
            return self.fn(*args, **kwargs)
        span = tr.open(self.layer, self.name)
        try:
            out = self.fn(*args, **kwargs)
        finally:
            tr.close(span)
        tr.saw_result(self.name, out)
        return out

    def __reduce__(self):
        # pickles as the wrapped function itself (workers never trace)
        return (operator.itemgetter(0), ((self.fn,),))


def _import_library() -> list:
    import bqetl_spark

    mods = [bqetl_spark]
    for info in pkgutil.walk_packages(bqetl_spark.__path__, "bqetl_spark."):
        mods.append(importlib.import_module(info.name))
    return mods


def _patch(mods, tracer: "Tracer", wrapped: dict) -> None:
    for mod in mods:
        for name, obj in list(vars(mod).items()):
            if not inspect.isfunction(obj) or obj.__name__.startswith("_"):
                continue
            layer = layer_of(obj.__module__ or "")
            if layer is None:
                continue
            if id(obj) not in wrapped:
                wrapped[id(obj)] = Traced(obj, layer, tracer)
            setattr(mod, name, wrapped[id(obj)])


def install(tracer: "Tracer"):
    """Wrap the library, then import and wrap ``__spark_entry__``; returns
    the entry module. Also routes DataFrame writes through a Catalyst
    probe. Call before anything imports ``__spark_entry__``."""
    assert "__spark_entry__" not in sys.modules, "install before the gates"
    wrapped: dict = {}
    mods = _import_library()
    _patch(mods, tracer, wrapped)
    entry = importlib.import_module("__spark_entry__")
    _patch([entry], tracer, wrapped)

    from pyspark.sql.readwriter import DataFrameWriter

    def probed(write):
        @functools.wraps(write)
        def probe(self, *args, **kwargs):
            tracer.catalyst_probe(self._df)
            return write(self, *args, **kwargs)
        return probe

    # the two write paths the workloads reach: noop save() and parquet()
    for meth in ("save", "parquet"):
        setattr(DataFrameWriter, meth, probed(getattr(DataFrameWriter, meth)))
    return entry


_SIZE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def _bytes(text: str) -> float:
    """First size in a SQL metric string (the total, for per-task metrics)."""
    m = _SIZE.search(text or "")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _union_s(intervals, lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _stage_record(st: dict) -> dict:
    return {"stage": st["stageId"], "name": st.get("name"),
            "tasks": st.get("numCompleteTasks"),
            "run_s": (st.get("executorRunTime") or 0) / 1e3,
            "cpu_s": (st.get("executorCpuTime") or 0) / 1e9,
            "input_mb": (st.get("inputBytes") or 0) / MB,
            "shuffle_read_mb": (st.get("shuffleReadBytes") or 0) / MB,
            "shuffle_write_mb": (st.get("shuffleWriteBytes") or 0) / MB,
            "output_mb": (st.get("outputBytes") or 0) / MB}


class Tracer:
    """Spans of the current op plus status-store readers for one session."""

    def __init__(self, workload: str):
        self.workload = workload
        self.main = threading.main_thread()
        self.op = None
        self.ids = itertools.count(1)

    # --- session binding -------------------------------------------------
    def bind(self, spark) -> None:
        """Attach to a (new) session: status-store handles and baselines."""
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self.mapper = (jvm.com.fasterxml.jackson.databind.ObjectMapper()
                       .registerModule(scala))
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def storage(self) -> tuple[int, float]:
        """(persistent RDD count, executor storage MB in memory + disk)."""
        n = int(self.sc._jsc.getPersistentRDDs().size())
        used = sum(e.get("memoryUsed", 0) + e.get("diskUsed", 0)
                   for e in self._json(self.store.executorList(True)))
        return n, used / MB

    # --- spans -------------------------------------------------------------
    def begin_op(self, op: str) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.catalyst = {"analysis": 0.0, "optimization": 0.0,
                         "planning": 0.0}
        self.lsh_candidates: list = []
        self.lsh_verified: list = []
        self.caching_calls = 0
        self.rdds_before, self.storage_before = self.storage()
        self.op = op
        root = self.open("bench", op)
        self.root = root

    def open(self, layer: str, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(next(self.ids), parent.id if parent else None, layer, name)
        if parent is None or parent.layer != layer:
            self.sc.setLocalProperty("spark.jobGroup.id",
                                     f"{self.workload}/{self.op}/{layer}")
        if layer == "caching":
            self.caching_calls += 1
        self.stack.append(span)
        self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.time()
        self.stack.pop()
        if self.stack:
            parent = self.stack[-1]
            parent.child_s += span.dur
            if parent.layer != span.layer:
                self.sc.setLocalProperty(
                    "spark.jobGroup.id",
                    f"{self.workload}/{self.op}/{parent.layer}")

    def saw_result(self, name: str, out) -> None:
        """Keep MinHash-LSH candidate and verified pair frames; they are
        counted after the op, from their checkpointed inputs."""
        if name == "dedup.minhash_lsh_pairs":
            self.lsh_verified.append(out)
        elif (name == "caching.ckpt" and self.stack
              and self.stack[-1].name == "dedup.minhash_lsh_pairs"
              and sorted(out.columns) == ["id_a", "id_b"]):
            self.lsh_candidates.append(out)

    def catalyst_probe(self, df) -> None:
        """Plan a write's input once, timed as the Catalyst layer, and keep
        the tracker's phase durations. The write plans again by itself, so
        this probe is part of the reported tracing overhead."""
        if self.op is None or threading.current_thread() is not self.main:
            return
        span = self.open("catalyst", "executedPlan")
        try:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        finally:
            self.close(span)
        phases = qe.tracker().phases()
        for name in self.catalyst:
            opt = phases.get(name)
            if opt.isDefined():
                self.catalyst[name] += opt.get().durationMs() / 1000.0

    def end_op(self, files: int = 0) -> dict:
        """Close the op's root span and read every status store."""
        self.close(self.root)
        self.op = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec = self._harvest(self.root)
        rec["sinks"]["files"] = files
        return rec

    # --- status-store reads -----------------------------------------------
    def _harvest(self, root: Span) -> dict:
        spans = self.spans
        # the loop is closed: every job submitted since the op began is
        # the op's (JVM dates are whole milliseconds)
        since_ms = root.t0 * 1000.0 - 2.0
        jobs = [j for j in self._json(self.store.jobsList(None))
                if (j.get("submissionTime") or 0) >= since_ms
                and j.get("jobGroup") != COUNT_GROUP]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = {}
        for st in self._json(self.store.stageList(
                None, False, False,
                self.sc._gateway.new_array(self.sc._jvm.double, 0),
                self.sc._jvm.java.util.ArrayList())):
            if st["stageId"] in stage_ids and st["status"] != "SKIPPED":
                prev = stages.get(st["stageId"])
                if prev is None or st["attemptId"] > prev["attemptId"]:
                    stages[st["stageId"]] = st

        def innermost(t: float) -> Span:
            best = root
            for s in spans:
                if s.t0 <= t <= s.t1 and s.t0 >= best.t0:
                    best = s
            return best

        job_recs, intervals = [], []
        layer_jobs: dict[str, int] = {}
        layer_stage_ids: dict[str, set] = {}
        for j in jobs:
            sub = (j.get("submissionTime") or 0) / 1000.0
            end = (j.get("completionTime") or 0) / 1000.0 or root.t1
            group = j.get("jobGroup") or ""
            span = innermost(sub)
            layer = group.rsplit("/", 1)[-1] if group.startswith(
                f"{self.workload}/") else span.layer
            layer_jobs[layer] = layer_jobs.get(layer, 0) + 1
            layer_stage_ids.setdefault(layer, set()).update(j["stageIds"])
            intervals.append((sub, end))
            job_recs.append({"job": j["jobId"], "group": group,
                             "layer": layer, "span": span.id,
                             "t0": sub, "t1": end,
                             "stages": [_stage_record(stages[s])
                                        for s in j["stageIds"]
                                        if s in stages]})

        st = list(stages.values())
        tot = lambda k: sum(s.get(k) or 0 for s in st)  # noqa: E731
        wall = root.dur
        job_wall = _union_s(intervals, root.t0, root.t1)
        cores = self.sc.defaultParallelism
        skew = 0.0
        multi = [s for s in st if (s.get("numCompleteTasks") or 0) > 1]
        if multi:
            heavy = max(multi, key=lambda s: s.get("executorRunTime") or 0)
            summ = self._json(self.store.taskSummary(
                heavy["stageId"], heavy["attemptId"], self._quantiles()))
            if summ and summ.get("executorRunTime"):
                med, mx = summ["executorRunTime"]
                skew = mx / med if med > 0 else 1.0

        py_sent = py_ret = 0.0
        n_exec = int(self.sql_store.executionsCount())
        recent = self.sql_store.executionsList(max(0, n_exec - 200), 200)
        execs = [e for e in self._json(recent)
                 if (e.get("submissionTime") or 0) >= since_ms]
        for e in execs:
            ids = {m["accumulatorId"]: m["name"] for m in e["metrics"]
                   if m["name"] in ("data sent to Python workers",
                                    "data returned from Python workers")}
            if not ids:
                continue
            vals = self._json(self.sql_store.executionMetrics(
                e["executionId"]))
            for acc, name in ids.items():
                b = _bytes(vals.get(str(acc), ""))
                if name.startswith("data sent"):
                    py_sent += b
                else:
                    py_ret += b

        rdds_after, storage_after = self.storage()
        self.sc.setLocalProperty("spark.jobGroup.id", COUNT_GROUP)
        cand = sum(int(df.count()) for df in self.lsh_candidates)
        verified = sum(int(df.count()) for df in self.lsh_verified)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

        layer_self: dict[str, float] = {}
        for s in spans:
            layer_self[s.layer] = layer_self.get(s.layer, 0.0) + s.dur - s.child_s
        sink_stages = [stages[i] for i in layer_stage_ids.get("sinks", ())
                       if i in stages]
        return {
            "op": root.name, "wall_s": wall,
            "spans": [s.record() for s in spans],
            "jobs": job_recs,
            "layer_self_s": layer_self,
            "layer_jobs": layer_jobs,
            "accounting": {
                "layer_self_sum_s": sum(layer_self.values()),
                "job_wall_s": job_wall,
                "driver_idle_s": wall - job_wall,
            },
            "catalyst": dict(self.catalyst),
            "scheduler": {"jobs": len(jobs), "stages": len(st),
                          "tasks": tot("numCompleteTasks"),
                          "driver_idle_s": wall - job_wall},
            "executor": {"run_s": tot("executorRunTime") / 1e3,
                         "cpu_s": tot("executorCpuTime") / 1e9,
                         "gc_s": tot("jvmGcTime") / 1e3,
                         "job_wall_s": job_wall,
                         "slots_s": job_wall * cores},
            "shuffle": {"write_mb": tot("shuffleWriteBytes") / MB,
                        "read_mb": tot("shuffleReadBytes") / MB,
                        "fetch_wait_s": tot("shuffleFetchWaitTime") / 1e3,
                        "spill_mb": tot("diskBytesSpilled") / MB,
                        "task_skew": skew},
            "sources": {"read_mb": tot("inputBytes") / MB,
                        "rows_read": tot("inputRecords")},
            "sinks": {"written_mb": sum(s.get("outputBytes") or 0
                                        for s in sink_stages) / MB},
            "python": {"sent_mb": py_sent / MB, "returned_mb": py_ret / MB},
            "driver": {"result_mb": tot("resultSize") / MB},
            "caching": {"calls": self.caching_calls,
                        "rdds_before": self.rdds_before,
                        "rdds_after_op": rdds_after,
                        "storage_peak_mb": max(self.storage_before,
                                               storage_after)},
            "lsh": {"candidates": cand, "verified": verified},
        }

    def _quantiles(self):
        arr = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        arr[0], arr[1] = 0.5, 1.0
        return arr
