"""The benchmark's workloads: set-up, timed closed loop, output checks.

Each runner returns ``{"end_to_end", "per_layer", "summary", "attempted",
"failed", "failures"}``. End-to-end numbers always come from untraced
passes; a traced run (``trace=True``) alternates untraced and traced passes
so the tracing overhead is measured in the same process.
"""

from __future__ import annotations

import collections
import json
import math
import os
import random
import statistics
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

import run
from gen import ETL, checksum

MB = 1024 * 1024
ETL_OPS = ("simple", "simple-with-lookups", "nested")
# the 14 bench.HEADLINE gates plus the streaming layer's KMV gate
MIX_GATES = (
    "denorm_flat", "q1_pricing_summary", "q3_top_revenue",
    "q5_region_revenue", "window_running_total", "nest_orders", "sessionize",
    "asof_purchase", "range_join_bands", "dedup_fingerprint", "minhash_lsh",
    "ngram_jaccard", "winnow_neardup", "embed_topk", "stream_kmv",
)
ORACLE_CAP_S = 1.5


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


class Loop:
    """Closed-loop bookkeeping: op times, failures, traced records.

    A run makes passes until ``seconds`` of them are measured and at least
    ``min_passes`` are done. A traced run alternates untraced and traced
    passes, starting untraced, and needs a traced pass and an untraced
    pass other than a cold first one."""

    def __init__(self, seconds: float, trace: bool, cold_first: bool,
                 min_passes: int):
        self.seconds, self.trace = seconds, trace
        self.cold_first, self.min_passes = cold_first, min_passes
        self.measured = 0.0
        self.walls: dict[bool, list[float]] = {False: [], True: []}
        self.op_times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.traced_passes: list[list[dict]] = []
        self.first_pass_s: float | None = None
        self.rss_mb = 0.0

    def warm_untraced(self) -> list[float]:
        return self.walls[False][1:] if self.cold_first else self.walls[False]

    def next_traced(self) -> bool | None:
        """Whether the next pass is traced; None once the run is done."""
        n = len(self.walls[False]) + len(self.walls[True])
        done = self.measured >= self.seconds and n >= self.min_passes
        if self.trace:
            done = done and self.walls[True] and self.warm_untraced()
        if done:
            return None
        return self.trace and n % 2 == 1

    def record(self, spark, traced: bool, wall: float,
               ops: dict[str, float]) -> None:
        cold = self.cold_first and not self.walls[False]
        if not self.walls[False]:
            # peak RSS through the first pass: a fixed point of the run, so
            # the figure does not depend on how many passes fit
            self.rss_mb = run.peak_rss_mb(spark)
            if cold:
                self.first_pass_s = wall
        self.measured += wall
        self.walls[traced].append(wall)
        if not traced and not cold:
            for op, t in ops.items():
                self.op_times.setdefault(op, []).append(t)


def end_to_end(loop: Loop, setup_s: float, input_bytes: int) -> dict:
    wall = statistics.median(loop.warm_untraced())
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "op_geomean_s": (geomean(statistics.median(v)
                                 for v in loop.op_times.values()), "s"),
        "input_mb_per_s": (input_bytes / MB / wall, "MB/s"),
        "peak_rss_mb": (loop.rss_mb, "MB"),
    }


def per_layer(loop: Loop, session_start_s: float, leftover: int) -> dict:
    """Per-layer metrics: per traced pass, summed over its ops, then the
    median over traced passes."""
    def one(recs: list[dict]) -> dict:
        s = lambda f: sum(f(r) for r in recs)  # noqa: E731
        self_s = lambda l: s(lambda r: r["layer_self_s"].get(l, 0.0))  # noqa
        jobs = lambda l: s(lambda r: r["layer_jobs"].get(l, 0))  # noqa
        get = lambda a, b: s(lambda r: r[a][b])  # noqa: E731
        cand = get("lsh", "candidates")
        slots = get("executor", "slots_s")
        wall = s(lambda r: r["wall_s"])
        m = {"session.start_s": (session_start_s, "s"),
             "run.first_pass_s": (loop.first_pass_s, "s")}
        for layer in ("entry", "plans", "sources", "operators", "functions",
                      "streaming"):
            m[f"{layer}.build_s"] = (self_s(layer), "s")
            m[f"{layer}.build_jobs"] = (jobs(layer), "count")
        m.update({
            "sources.read_mb": (get("sources", "read_mb"), "MB"),
            "sources.rows_read": (get("sources", "rows_read"), "count"),
            "functions.lsh_pair_yield": (
                get("lsh", "verified") / cand if cand else 0.0, "ratio"),
            "caching.calls": (get("caching", "calls"), "count"),
            "caching.ckpt_s": (self_s("caching"), "s"),
            "caching.storage_peak_mb": (max(r["caching"]["storage_peak_mb"]
                                            for r in recs), "MB"),
            "caching.rdds_after_op": (max(r["caching"]["rdds_after_op"]
                                          - r["caching"]["rdds_before"]
                                          for r in recs), "count"),
            "caching.leftover_rdds": (leftover, "count"),
            "sinks.write_s": (self_s("sinks"), "s"),
            "sinks.written_mb": (get("sinks", "written_mb"), "MB"),
            "sinks.files": (get("sinks", "files"), "count"),
            "catalyst.analysis_s": (get("catalyst", "analysis"), "s"),
            "catalyst.optimization_s": (get("catalyst", "optimization"), "s"),
            "catalyst.planning_s": (get("catalyst", "planning"), "s"),
            "catalyst.probe_s": (self_s("catalyst"), "s"),
            "scheduler.jobs": (get("scheduler", "jobs"), "count"),
            "scheduler.stages": (get("scheduler", "stages"), "count"),
            "scheduler.tasks": (get("scheduler", "tasks"), "count"),
            "scheduler.driver_idle_s": (get("scheduler", "driver_idle_s"),
                                        "s"),
            "executor.job_wall_s": (get("executor", "job_wall_s"), "s"),
            "executor.run_s": (get("executor", "run_s"), "s"),
            "executor.cpu_s": (get("executor", "cpu_s"), "s"),
            "executor.gc_s": (get("executor", "gc_s"), "s"),
            "executor.slot_util": (get("executor", "run_s") / slots
                                   if slots else 0.0, "ratio"),
            "shuffle.write_mb": (get("shuffle", "write_mb"), "MB"),
            "shuffle.read_mb": (get("shuffle", "read_mb"), "MB"),
            "shuffle.fetch_wait_s": (get("shuffle", "fetch_wait_s"), "s"),
            "shuffle.spill_mb": (get("shuffle", "spill_mb"), "MB"),
            "shuffle.task_skew": (max(r["shuffle"]["task_skew"]
                                      for r in recs), "ratio"),
            "python.sent_mb": (get("python", "sent_mb"), "MB"),
            "python.returned_mb": (get("python", "returned_mb"), "MB"),
            "driver.result_mb": (get("driver", "result_mb"), "MB"),
            "bench.exec_s": (self_s("bench"), "s"),
            "trace.wall_s": (wall, "s"),
            "trace.unaccounted_s": (
                wall - s(lambda r: r["accounting"]["layer_self_sum_s"]), "s"),
        })
        return m

    per_pass = [one(recs) for recs in loop.traced_passes]
    out = {k: (statistics.median(p[k][0] for p in per_pass), u)
           for k, (_, u) in per_pass[0].items()}
    overhead = (statistics.median(loop.walls[True])
                - statistics.median(loop.warm_untraced()))
    out["trace.overhead_s"] = (overhead, "s")
    return out


def write_spans(workload: str, seed: int, loop: Loop) -> str:
    d = os.path.join(run.HERE, ".traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "passes": [{"ops": recs}
                                  for recs in loop.traced_passes]}, f)
    return path


def result(loop: Loop, e2e: dict, layers: dict | None, leftover: int,
           spans: str | None) -> dict:
    failed = len(loop.failures)
    summary = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    summary["first_pass_s"] = {"value": loop.first_pass_s, "unit": "s"}
    summary["leftover_rdds"] = {"value": leftover, "unit": "count"}
    summary["error_rate"] = {"value": failed / max(loop.attempted, 1),
                             "unit": "ratio"}
    summary["passes_s"] = {"untraced": loop.walls[False],
                           "traced": loop.walls[True]}
    summary["op_median_s"] = {op: round(statistics.median(v), 4)
                              for op, v in loop.op_times.items()}
    if spans:
        summary["spans"] = os.path.relpath(spans, run.ROOT)
    return {"end_to_end": e2e, "per_layer": layers or {}, "summary": summary,
            "attempted": loop.attempted, "failed": failed,
            "failures": loop.failures}


def _persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


# --- etl_denorm -------------------------------------------------------------

def _etl_check(op: str, out: str, expect: dict) -> str | None:
    """Compare one pipeline's parquet output with the generator's expected
    row count and order-insensitive checksum; None when it matches."""
    t = pq.read_table(out)
    if op == "nested":
        kids = t.column("artist_recordings").combine_chunks()
        lens = pc.list_value_length(kids).to_numpy(zero_copy_only=False)
        flat = pc.list_flatten(kids)
        parent = pc.list_parent_indices(kids).to_numpy()
        arts = t.column("artist_id").to_numpy()
        got = {
            "rows": t.num_rows,
            "split_rows": int(t.num_rows - len(np.unique(arts))),
            "children": len(flat),
            "checksum": checksum(pd.DataFrame({
                "artist_id": arts[parent].astype(np.int64),
                "recording_length": flat.field("recording_length")
                .to_numpy(zero_copy_only=False).astype(np.int64),
                "position": flat.field("artist_credit_name_position")
                .to_numpy(zero_copy_only=False).astype(np.int64)})),
        }
        if lens.max(initial=0) > ETL["nesting_limit"]:
            return f"{op}: a row holds {lens.max()} children"
    else:
        df = t.to_pandas()
        if op == "simple":
            key = pd.DataFrame({
                "artist_id": df["artist_id"].astype(np.int64),
                "recording_id": df["recording_id"].astype(np.int64),
                "position": df["artist_credit_name_position"]
                .astype(np.int64)})
        else:
            key = pd.DataFrame({
                "artist_id": df["artist_id"].astype(np.int64),
                "recording_id": df["recording_id"].astype(np.int64),
                **{c: df[c].fillna("").astype(str) for c in
                   ("artist_area", "artist_gender", "artist_begin_area")}})
        got = {"rows": len(df), "checksum": checksum(key)}
    diff = {k: (got[k], v) for k, v in expect.items() if got.get(k) != v}
    return f"{op}: got/expected {diff}" if diff else None


def _count_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path)
               for f in fs)


def etl_denorm(inputs: str, manifest: dict, seed: int, seconds: float,
               trace: bool) -> dict:
    """The reference pipelines through the CLI entry point to a parquet
    sink: a JIT-cold first pass, then each pass on a fresh SparkSession."""
    t0 = time.perf_counter()
    tracer = None
    if trace:
        import tracing

        tracer = tracing.Tracer("etl_denorm")
        tracing.install(tracer)
    spark = run.start_session("perfbench-etl_denorm")
    session_s = time.perf_counter() - t0
    from bqetl_spark.__main__ import run as cli_run
    from bqetl_spark.caching import release_pinned
    from bqetl_spark.session import tune_shuffle_partitions

    tune_shuffle_partitions(spark, inputs)
    setup_s = time.perf_counter() - t0

    # the first pass is JIT-cold, as a spark-submit user pays: reported as
    # first_pass_s; the gated medians take the warm passes after it
    loop = Loop(seconds, trace, cold_first=True, min_passes=3)
    leftover = 0
    out_root = os.path.join(run.WORK, "out")
    first = True
    while (traced := loop.next_traced()) is not None:
        if not first:
            spark.stop()
            spark = run.start_session("perfbench-etl_denorm")
            tune_shuffle_partitions(spark, inputs)
        first = False
        if tracer:
            tracer.bind(spark)
        baseline = _persistent_rdds(spark)
        times, recs = {}, []
        start = time.perf_counter()
        for op in ETL_OPS:
            out = os.path.join(out_root, op)
            loop.attempted += 1
            spark.sparkContext.setJobGroup(f"etl_denorm/{op}/run", op)
            if traced:
                tracer.begin_op(op)
            t = time.perf_counter()
            try:
                cli_run([op, "--loading-bucket-url", inputs,
                         "--output", out], spark=spark)
                times[op] = time.perf_counter() - t
            except Exception as e:  # noqa: BLE001 - counted, not hidden
                loop.failures.append(f"{op}: {type(e).__name__}: {e}"[:300])
            if traced:
                recs.append(tracer.end_op(files=_count_files(out)))
        wall = time.perf_counter() - start
        release_pinned()
        leftover = max(leftover, _persistent_rdds(spark) - baseline)
        for op in times:  # untimed output checks
            err = _etl_check(op, os.path.join(out_root, op),
                             manifest["expect"][op])
            if err:
                loop.failures.append(err)
        if len(times) == len(ETL_OPS):
            loop.record(spark, traced, wall, times)
        if traced:
            loop.traced_passes.append(recs)
        if not loop.walls[False] and len(loop.failures) > 3 * len(ETL_OPS):
            break  # every pass fails: stop, the run is reported wrong
    run.shutdown(spark)
    if not loop.walls[False]:
        raise RuntimeError(f"etl_denorm: no clean pass: "
                           f"{loop.failures[:3]}")
    e2e = end_to_end(loop, setup_s, manifest["input_bytes"])
    layers = per_layer(loop, session_s, leftover) if trace else None
    spans = write_spans("etl_denorm", seed, loop) if trace else None
    return result(loop, e2e, layers, leftover, spans)


# --- analytic_mix -----------------------------------------------------------

def _fingerprint(df):
    """Observed row count + order-insensitive xxhash64 sum of all columns:
    compares a timed (noop-sink) output with the oracle-checked one."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return obs, df.observe(obs, F.count(F.lit(1)).alias("n"),
                           F.sum(h.cast("decimal(38,0)")).alias("h"))


def _oracle_check(inputs: str, warm: dict) -> dict[str, str | None]:
    """Each gate's warm-up rows against its DuckDB oracle (the canonical
    hash of tests/oracle_harness), capped per query. A gate with no oracle,
    or past the cap, falls back to its recorded row count."""
    import duckdb

    import __spark_entry__ as entry
    from tests.oracle_harness import TABLES, value_hash

    osql = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(run.WORK, 'duckdb')}'")
    con.execute("SET autoinstall_known_extensions=false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(inputs, t)}.parquet'")
    verdict: dict[str, str | None] = {}
    for gate, (cols, rows, _fp) in warm.items():
        sql = osql.get(gate)
        if sql is None:
            verdict[gate] = None  # row count recorded at warm-up
            continue
        timer = threading.Timer(ORACLE_CAP_S, con.interrupt)
        timer.start()
        try:
            rel = con.sql(sql)
            d_cols, d_rows = rel.columns, rel.fetchall()
        except duckdb.Error:
            verdict[gate] = None  # past the cap: row count only
            continue
        finally:
            timer.cancel()
        if sorted(d_cols) != sorted(cols) or len(d_rows) != len(rows):
            verdict[gate] = (f"{gate}: oracle cols/rows {sorted(d_cols)}/"
                             f"{len(d_rows)} vs {sorted(cols)}/{len(rows)}")
        elif value_hash(d_cols, d_rows) != value_hash(cols, rows):
            verdict[gate] = f"{gate}: value hash differs from oracle"
        else:
            verdict[gate] = None
    con.close()
    return verdict


def analytic_mix(inputs: str, manifest: dict, seed: int, seconds: float,
                 trace: bool) -> dict:
    """A warm, long-lived session rerunning the gates in a seed-shuffled
    order per pass; every timed op materializes through the noop sink."""
    t0 = time.perf_counter()
    tracer = None
    if trace:
        import tracing

        tracer = tracing.Tracer("analytic_mix")
        entry = tracing.install(tracer)
    else:
        import __spark_entry__ as entry
    spark = run.start_session("perfbench-analytic_mix")
    session_s = time.perf_counter() - t0
    from bqetl_spark.caching import release_pinned
    from bqetl_spark.session import tune_shuffle_partitions

    tune_shuffle_partitions(spark, inputs)
    qs = entry.queries()
    if tracer:
        tracer.bind(spark)
    baseline = _persistent_rdds(spark)
    rng = random.Random(seed)
    loop = Loop(seconds, trace, cold_first=False, min_passes=2)

    # warm-up: one full pass at the timed scale, collected for the oracle
    warm_start = time.perf_counter() - t0
    warm: dict[str, tuple] = {}
    for gate in rng.sample(MIX_GATES, len(MIX_GATES)):
        try:
            obs, df = _fingerprint(qs[gate](spark, inputs))
            rows = [tuple(r) for r in df.collect()]
            warm[gate] = (df.columns, rows, obs.get)
        except Exception as e:  # noqa: BLE001 - counted below
            warm[gate] = None
            loop.failures.append(f"{gate} (warm-up): {type(e).__name__}: {e}"[:300])
        release_pinned()
    setup_s = time.perf_counter() - t0
    loop.first_pass_s = setup_s - warm_start

    leftover = 0
    ran: collections.Counter = collections.Counter()
    while (traced := loop.next_traced()) is not None:
        times, recs, fps = {}, [], {}
        start = time.perf_counter()
        for gate in rng.sample(MIX_GATES, len(MIX_GATES)):
            loop.attempted += 1
            spark.sparkContext.setJobGroup(f"analytic_mix/{gate}/run", gate)
            if traced:
                tracer.begin_op(gate)
            t = time.perf_counter()
            try:
                obs, df = _fingerprint(qs[gate](spark, inputs))
                df.write.format("noop").mode("overwrite").save()
                times[gate] = time.perf_counter() - t
                fps[gate] = obs
                ran[gate] += 1
            except Exception as e:  # noqa: BLE001 - counted, not hidden
                loop.failures.append(f"{gate}: {type(e).__name__}: {e}"[:300])
            if traced:
                recs.append(tracer.end_op())
            release_pinned()
            if traced:
                recs[-1]["caching"]["rdds_after_release"] = \
                    tracer.storage()[0]
        wall = time.perf_counter() - start
        leftover = max(leftover, _persistent_rdds(spark) - baseline)
        for gate, obs in fps.items():  # untimed: same rows as the warm-up
            if warm.get(gate) is None or obs.get != warm[gate][2]:
                loop.failures.append(f"{gate}: timed output {obs.get} differs from "
                          f"the checked output")
        if len(times) == len(MIX_GATES):
            loop.record(spark, traced, wall, times)
        if traced:
            loop.traced_passes.append(recs)
        if not loop.walls[False] and len(loop.failures) > len(MIX_GATES):
            break
    run.shutdown(spark)

    for gate, err in _oracle_check(
            inputs, {g: w for g, w in warm.items() if w}).items():
        if err:  # every timed op of the gate matched this wrong output
            loop.failures.extend([err] * ran[gate])
    if not loop.walls[False]:
        raise RuntimeError(f"analytic_mix: no clean pass: "
                           f"{loop.failures[:3]}")
    e2e = end_to_end(loop, setup_s, manifest["input_bytes"])
    layers = per_layer(loop, session_s, leftover) if trace else None
    spans = write_spans("analytic_mix", seed, loop) if trace else None
    return result(loop, e2e, layers, leftover, spans)


RUNNERS = {"etl_denorm": etl_denorm, "analytic_mix": analytic_mix}
