#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one Spark driver process.

    python3 perfbench/run.py --workload etl_denorm --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs come from perfbench/gen.py (cached
per seed under perfbench/.inputs/); everything Spark, DuckDB and the
library write at run time goes under perfbench/.work/. The last stdout
line is the result object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it is a human-readable summary with every
end-to-end metric plus ``leftover_rdds`` and ``error_rate``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
INPUTS = os.path.join(HERE, ".inputs")
WORKLOADS = ("etl_denorm", "analytic_mix")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured time per run (at least one iteration)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the library. Must run before pyspark is imported."""
    if not os.path.isfile(os.path.join(ROOT, "bqetl_spark", "__init__.py")):
        sys.exit("perfbench: bqetl_spark/ not found beside perfbench/; "
                 "run from a full checkout")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    sys.path.insert(0, ROOT)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ensure_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generate the seed's inputs in a child process (so generator memory
    stays out of the driver's peak RSS), or reuse them."""
    out = os.path.join(INPUTS, f"{workload}-{seed}")
    manifest = os.path.join(out, "manifest.json")
    if not os.path.isfile(manifest):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        workload, str(seed), out], check=True)
    with open(manifest) as f:
        return out, json.load(f)


# Session set-up: local[nproc], UI off (library default), driver memory
# sized for a small box, and every local path inside the checkout.
def session_conf() -> dict[str, str]:
    return {
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def start_session(app: str):
    from bqetl_spark.session import get_spark

    spark = get_spark(app, master=f"local[{nproc()}]",
                      extra_conf=session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return hwm("self") + hwm(jvm_pid)


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_env()
    inputs, manifest = ensure_inputs(args.workload, args.seed)

    import workloads

    res = workloads.RUNNERS[args.workload](
        inputs=inputs, manifest=manifest, seed=args.seed,
        seconds=args.seconds, trace=bool(args.trace))
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "summary": res["summary"],
                      "failures": res["failures"][:10]}))
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
