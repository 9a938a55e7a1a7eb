"""Pre-flight for the driver's correctness gate: every queries() entry with
an oracle must hash-match DuckDB on the same parquet data."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_harness import compare, duck_connection, first_diff

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

# Builders are side-effectful (streaming gates run bounded replays, the
# roundtrip gates write temp dirs) — build each gate's DataFrame ONCE and
# share it across the oracle / rows-only / scalar-lint tests instead of
# re-running the replica work per parametrized test (code-review r6).
_DF_CACHE: dict[str, object] = {}


def _gate_df(spark, name):
    if name not in _DF_CACHE:
        _DF_CACHE[name] = QUERIES[name](spark, SF_DIR)
    return _DF_CACHE[name]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_all_oracle_keys_have_queries():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(spark, duck, name):
    df = _gate_df(spark, name)
    res = compare(df, duck, ORACLES[name])
    if not res["hash_match"]:
        diff = first_diff(QUERIES[name](spark, SF_DIR), duck, ORACLES[name])
        pytest.fail(f"{name}: {res}\ndiff: {diff}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = _gate_df(spark, name)
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_gate_outputs_are_scalar(spark, name):
    """Driver-canonicalizer contract: gate outputs must be scalar columns
    only. The r5 driver run ERRed five gates whose outputs carried
    array<double> cells — pandas sort_values raises `unhashable type:
    'list'` in the driver's hasher (the local harness canonicalizes lists,
    which is exactly how the gap shipped). This lint closes the class:
    every queries() entry must posexplode/flatten complex values."""
    from pyspark.sql import types as T

    df = _gate_df(spark, name)
    bad = [f"{f.name}: {f.dataType.simpleString()}" for f in df.schema.fields
           if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))]
    assert not bad, (f"{name} returns non-scalar column(s) {bad}; the "
                     "driver canonicalizer cannot hash these — scalarize "
                     "(posexplode / per-component columns)")


def test_window_order_matches_tool():
    """r7: the queries() dict order (= the driver-window schedule) is
    GENERATED by tools/window_order.py from the CORRECTNESS_r* history +
    ROUND_HEAD; this pin makes the ordering-contract comment unable to
    drift from reality (r6 verdict item 1)."""
    import os
    import sys

    tools = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
    sys.path.insert(0, tools)
    try:
        import window_order as wo
    finally:
        sys.path.remove(tools)

    import __spark_entry__ as em

    gates = list(em.queries().keys())
    want = wo.compute_order(gates, wo.gate_history(), **wo.ROUND_HEAD)
    assert gates == want, (
        "queries() dict order does not match tools/window_order.py output "
        "— regenerate the dict or update ROUND_HEAD")


def test_window_history_ignores_rounds_after_pin(tmp_path):
    """The driver-window history is frozen at HISTORY_THROUGH: committing
    a newer CORRECTNESS_r*.json must not move the queries() order."""
    import json
    import os
    import shutil
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import window_order as wo
    finally:
        sys.path.remove(os.path.join(repo, "tools"))

    pinned = wo.gate_history()
    for n in range(1, wo.HISTORY_THROUGH + 1):
        src = os.path.join(repo, f"CORRECTNESS_r{n:02d}.json")
        if os.path.exists(src):
            shutil.copy(src, tmp_path)
    newer = {g: {"hash_match": True} for g in pinned}
    (tmp_path / f"CORRECTNESS_r{wo.HISTORY_THROUGH + 1:02d}.json") \
        .write_text(json.dumps(newer))
    assert wo.gate_history(str(tmp_path)) == pinned
