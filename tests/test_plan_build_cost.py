"""Plan-build round-trip budget: Py4J commands to BUILD a plan, no action.

Building a DataFrame plan in PySpark is a stream of Py4J commands, one or
more per Column op. PySpark 4's DataFrame debugging (call-site capture on
every ``F.col``, Column operator and ``alias``) adds ~10 commands per op;
``session._DEFAULTS`` turns it off. This test freezes the per-plan command
counts at ~1.25x the measured value (the BNLJ-freeze discipline of
tests/test_plan_quality.py), so capture coming back (say, a PySpark
upgrade renaming the conf) or a per-column loop creeping into a loader
fails here instead of showing up as slower benchmark passes.

Measured with capture off / on (4-vCPU box, PySpark 4.1.2):
bqetl_simple with lookups 692 / 2002, bqetl_nested 718 / 1758,
minhash_lsh_pairs on 20 docs 2428 / 6248 (its three eager localCheckpoint
jobs included). Memory-release commands are not counted: they follow
Python's garbage collector, not the build.
"""

from __future__ import annotations

import gc

import pytest
import py4j.clientserver

BUDGETS = {
    "simple": 870,
    "nested": 900,
    "minhash": 3050,
}


@pytest.fixture
def count_commands(monkeypatch):
    """Calls ``build`` twice (the first warms the session's schema memo)
    and returns the Py4J commands the second call sent."""
    send = py4j.clientserver.ClientServerConnection.send_command
    n = [0]

    def counted(self, command):
        if not command.startswith("m\n"):  # memory-release commands
            n[0] += 1
        return send(self, command)

    def run(build):
        build()
        gc.collect()
        monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                            "send_command", counted)
        try:
            build()
        finally:
            monkeypatch.undo()
        return n[0]

    return run


def test_simple_plan_build_budget(spark, mb_bucket, count_commands):
    from bqetl_spark.plans.etl_simple import bqetl_simple

    n = count_commands(lambda: bqetl_simple(spark, mb_bucket,
                                            perform_lookups=True))
    assert n <= BUDGETS["simple"], n


def test_nested_plan_build_budget(spark, mb_bucket, count_commands):
    from bqetl_spark.plans.etl_nested import bqetl_nested

    n = count_commands(lambda: bqetl_nested(spark, mb_bucket))
    assert n <= BUDGETS["nested"], n


def test_minhash_plan_build_budget(spark, count_commands):
    from bqetl_spark.caching import release_pinned
    from bqetl_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)))
         for i in range(20)], ["doc_id", "text"])
    try:
        n = count_commands(lambda: minhash_lsh_pairs(docs))
    finally:
        release_pinned()
    assert n <= BUDGETS["minhash"], n
