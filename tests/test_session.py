"""Engine session defaults: PySpark's DataFrame debugging stays off.

With it on, every ``F.col``, Column operator and ``alias`` captures its
Python call site (``pyspark.errors.utils._capture_call_site``) and sends
it to the JVM — ~10 Py4J commands per op on the plan-build path (see the
comment in ``session._DEFAULTS`` and tests/test_plan_build_cost.py).
"""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F


def test_get_spark_turns_dataframe_debugging_off(spark):
    # the session fixture is a get_spark session
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_column_ops_never_capture_call_sites(spark, monkeypatch):
    import pyspark.errors.utils as eu

    def capture(depth):
        raise AssertionError("call site captured while building a Column")

    monkeypatch.setattr(eu, "_capture_call_site", capture)
    c = (F.col("a") + 1).alias("b")
    t = F.transform(F.col("xs"), lambda x: (x * 2).alias("y"))
    df = spark.range(3).select(F.col("id").alias("a"),
                               F.array("id", "id").alias("xs"))
    assert df.select(c, t.alias("t")).columns == ["b", "t"]


def test_runtime_error_keeps_its_class(spark):
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select((F.lit(1) / F.lit(0)).alias("q")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
