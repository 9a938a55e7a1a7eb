"""SparkSession factory.

The reference configures its runner by hand (worker counts, disk:
BQETLSimple.java:41-45, run.sh:59-60). Spark's equivalent knobs live here,
with AQE enabled so the engine re-plans from runtime statistics instead of
hard-coding physical strategy the way the Beam DAG does
(MusicBrainzTransforms.java:82-99 vs :402-423 — shuffle vs broadcast chosen
by the author; Catalyst+AQE chooses from data sizes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local test boxes run a single JVM; a real deployment overrides these via
# spark-submit --conf. Shuffle partitions sized to cores locally; on a
# 1000-executor cluster AQE coalescing makes the initial number forgiving.
_DEFAULTS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing stays at its defaults (parallelismFirst=true): an
    # experiment with parallelismFirst=false + byte-sized advisory targets
    # bought ~25% on the scan-light TPC-H shapes but coalesced the
    # row-heavy/byte-light gram-index shuffles (winnow/ngram inverted
    # indexes: millions of ~30-byte rows) down to 1-2 tasks — a 40-60%
    # regression there. Reducer-count tuning from input stats
    # (tune_shuffle_partitions) captures most of the small-stage win
    # without starving compute-bound shuffles.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Spark 4 reads tz-less parquet timestamps as TIMESTAMP_NTZ by default;
    # the engine's time semantics (watermarks, unix_micros, windows) are
    # LTZ-with-UTC-session, matching DuckDB's naive timestamps bit-for-bit.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "48g",
    # PySpark 4's DataFrame debugging wraps F.col, every Column operator
    # and alias in a call-site capture: ~10 extra Py4J commands per call
    # (active-session lookup, a conf get, PySparkCurrentOrigin set/clear)
    # plus a stack walk that retries `import ipykernel` each time (a failed
    # module search when it is not installed). Measured on a 4-vCPU box
    # (PLANS.md): F.col 13 -> 3 commands (~1.0 -> 0.25 ms), a reference-ETL
    # benchmark pass ~12k -> ~4k commands, its traced driver-idle time
    # 3.4 -> 2.1 s. Only the Python file:line in a runtime error's
    # "DataFrame context" is lost; the error class and message remain.
    # PySpark caches the flag process-wide on first use, so to get call
    # sites back pass extra_conf={"spark.python.sql.dataFrameDebugging
    # .enabled": "true"} to the process's FIRST get_spark call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "bqetl_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured in the environment.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def compute_parallelism(spark: SparkSession) -> int:
    """Partition count for CPU-bound map stages (Arrow UDFs, expression
    folds): never below one slot per core, even when
    ``spark.sql.shuffle.partitions`` is tuned below the core count for
    small-reducer efficiency (tune_shuffle_partitions). Reducer sizing and
    compute parallelism are different dials: the first tracks shuffled
    BYTES, the second tracks CORES."""
    return max(int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
               spark.sparkContext.defaultParallelism)


def tune_shuffle_partitions(spark: SparkSession, input_dir: str) -> int:
    """Size the session's initial ``spark.sql.shuffle.partitions`` from the
    input's on-disk footprint instead of the fixed core count.

    Rationale: the initial reducer count is the number AQE coalesces DOWN
    from — it can never split upward (outside skew-join), so it should
    track data volume. A fixed 32 costs a full task-scheduling round per
    tiny stage at small SF, while a fixed small number would under-
    parallelize large inputs. Heuristic: one reducer per ~2 MB of
    compressed parquet (≈8-16 MB in-flight after decode), clamped to
    [4, 4×cores] locally. A real cluster deployment should instead leave
    this at the default and let AQE's advisory size govern — this helper
    is the local/single-node analogue of that sizing.

    Returns the chosen partition count (also applied to the session).
    """
    total = 0
    try:
        for root, _dirs, files in os.walk(input_dir):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        pass
    cores = spark.sparkContext.defaultParallelism
    n = max(4, min(4 * cores, total // (2 * 1024 * 1024))) if total else cores
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    return int(n)
