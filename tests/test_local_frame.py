"""``engine.session.local_frame`` — the one way a driver-built table enters
Spark — and the driver-memory default of ``get_spark``."""

import ast
from pathlib import Path

import pandas as pd

from nettopologysuite_spark.engine.session import (
    DRIVER_MEM_CEILING,
    driver_memory,
    local_frame,
)

ROOT = Path(__file__).resolve().parent.parent


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rows_become_a_local_relation(spark):
    df = local_frame(spark, [(1, "a", 0.5), (2, "b", 1.5)], "k long, v string, d double")
    assert _analyzed(df).startswith("LocalRelation [")
    assert _executed(df).startswith("LocalTableScan [")
    assert df.schema.simpleString() == "struct<k:bigint,v:string,d:double>"
    assert sorted(df.collect()) == [(1, "a", 0.5), (2, "b", 1.5)]


def test_zero_rows_keep_the_schema(spark):
    df = local_frame(spark, [], "cell_id long, poly_id string, interior boolean")
    assert _analyzed(df).startswith("LocalRelation <empty>")
    assert df.schema.simpleString() == "struct<cell_id:bigint,poly_id:string,interior:boolean>"
    assert df.count() == 0


def test_nulls(spark):
    df = local_frame(spark, [(1, None, None), (None, "x", True)], "k long, v string, b boolean")
    assert sorted(df.collect(), key=str) == [(1, None, None), (None, "x", True)]


def test_binary_accepts_bytes_and_bytearray(spark):
    df = local_frame(spark, [("p", b"\x01\x02"), ("q", bytearray(b"\x03"))], "id string, wkb binary")
    assert sorted(df.collect()) == [("p", bytearray(b"\x01\x02")), ("q", bytearray(b"\x03"))]


def test_numpy_scalars_and_int_to_double(spark):
    import numpy as np

    df = local_frame(spark, [(np.int64(7), 3)], "k long, d double")
    assert df.collect() == [(7, 3.0)]


def test_pandas_columns_follow_the_schema(spark):
    pdf = pd.DataFrame({"node": [3, 1], "label": [1, 1]})
    df = local_frame(spark, pdf, "node long, label long")
    assert _analyzed(df).startswith("LocalRelation [")
    assert sorted(df.collect()) == [(1, 1), (3, 1)]


def test_still_local_with_arrow_fallback_enabled(spark):
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = local_frame(spark, [(1, b"x")], "k long, b binary")
        assert _analyzed(df).startswith("LocalRelation [")
        assert "ExistingRDD" not in _executed(df)
    finally:
        spark.conf.set(key, old)


def _create_dataframe_calls(path: Path) -> list[int]:
    """Line numbers of the ``createDataFrame`` calls in ``path`` that are
    not inside ``local_frame``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    allowed = {
        id(node)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
        for node in ast.walk(fn)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and id(node) not in allowed
    ]


def test_create_dataframe_only_inside_local_frame():
    files = sorted((ROOT / "nettopologysuite_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    offenders = {
        str(f.relative_to(ROOT)): lines
        for f in files
        if (lines := _create_dataframe_calls(f))
    }
    assert offenders == {}


def test_driver_memory_default_is_half_of_the_host(monkeypatch):
    monkeypatch.delenv("NTS_SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(15 * 2**30) == f"{15 * 2**9}m"  # 7.5 GiB
    assert driver_memory(4 * 2**30) == "2048m"
    assert driver_memory(64 * 2**30) == f"{DRIVER_MEM_CEILING // 2**20}m"  # the 16g ceiling
    assert driver_memory(32 * 2**30) == "16384m"
    # the host read, when no size is given, obeys the same cap
    assert int(driver_memory()[:-1]) <= DRIVER_MEM_CEILING // 2**20


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("NTS_SPARK_DRIVER_MEM", "3g")
    assert driver_memory(64 * 2**30) == "3g"
    assert driver_memory() == "3g"
