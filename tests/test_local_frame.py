"""session.local_frame: driver-built rows enter Spark as an Arrow local
relation. Pins value/schema parity with the pickled-row path
(``createDataFrame(list, schema)``) for every type the engine ships this
way, the absence of a PythonRDD in the frame's lineage, and a source guard
that keeps the row path from coming back."""

from __future__ import annotations

import ast
import datetime as dt
import os
import time
from pathlib import Path

import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from vector_db_mvp_spark.schemas import CHUNK_SCHEMA
from vector_db_mvp_spark.session import local_frame

PKG = Path(__file__).resolve().parent.parent / "vector_db_mvp_spark"

TS = dt.datetime(2024, 5, 6, 7, 8, 9, 123456)

ALL_TYPES = StructType(
    [
        StructField("s", StringType(), False),
        StructField("i", IntegerType(), True),
        StructField("l", LongType(), False),
        StructField("d", DoubleType(), True),
        StructField("af", ArrayType(FloatType()), True),
        StructField("ad", ArrayType(DoubleType(), False), True),
        StructField("ts", TimestampType(), True),
        StructField("ntz", TimestampNTZType(), True),
        StructField(
            "st",
            StructType(
                [
                    StructField("b_ts", TimestampNTZType(), True),
                    StructField("n", LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

ALL_ROWS = [
    ("a", 1, 2**40, 0.1, [0.1, -2.5, 1e-9], [1.0, 2.5], TS, TS, (TS, 7)),
    ("b", None, -3, None, None, [], None, None, None),
    ("", -(2**31), 0, float("inf"), [], None, TS, TS, (None, None)),
]


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _same_as_row_path(spark, rows, schema):
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    return new


def test_every_shipped_type_matches_row_path(spark):
    new = _same_as_row_path(spark, ALL_ROWS, ALL_TYPES)
    assert new.schema == ALL_TYPES
    assert not new.schema["l"].nullable and not new.schema["s"].nullable


def test_chunk_schema_round_trip_keeps_float32_and_naive_timestamp(spark):
    rows = [
        ("c1", "d", "l", "t", [0.1, 0.2, 1 / 3], "m", TS, TS),
        ("c2", "d", "l", "t", None, None, TS, TS),
    ]
    new = _same_as_row_path(spark, rows, CHUNK_SCHEMA)
    got = new.collect()
    assert got[0]["created_at"] == TS
    assert got[1]["embedding"] is None


def test_ddl_string_schema_matches_row_path(spark):
    ddl = (
        "k long, last_a timestamp_ntz,"
        " chain struct<b_ts: timestamp_ntz, a_ts: timestamp_ntz>,"
        " c array<double>, pid: int"
    )
    rows = [(1, TS, (TS, None), [1.0, 2.5], 3), (2, None, None, None, None)]
    _same_as_row_path(spark, rows, ddl)


def test_naive_timestamp_is_system_local_time_like_row_path(spark):
    """The row path reads a naive datetime in a ``timestamp`` field as
    Python-local time (time.mktime); the Arrow path must not silently
    switch to UTC when the process time zone differs."""
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        schema = StructType([StructField("t", TimestampType(), False)])
        old = spark.createDataFrame([(TS,)], schema)
        new = local_frame(spark, [(TS,)], schema)
        cast = "CAST(t AS STRING) AS t"
        assert new.selectExpr(cast).collect() == old.selectExpr(cast).collect()
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()


def test_lineage_has_no_python_rdd(spark):
    assert "PythonRDD" in _lineage(spark.createDataFrame(ALL_ROWS, ALL_TYPES))
    assert "PythonRDD" not in _lineage(local_frame(spark, ALL_ROWS, ALL_TYPES))
    one = [("c", "d", "l", "t", [0.5], None, TS, TS)]
    assert "PythonRDD" not in _lineage(local_frame(spark, one, CHUNK_SCHEMA))


@pytest.mark.parametrize("schema", [ALL_TYPES, CHUNK_SCHEMA, "pid: int, off long"])
def test_empty_rows_keep_schema(spark, schema):
    df = local_frame(spark, [], schema)
    want = spark.createDataFrame([], schema).schema
    assert df.schema == want
    assert df.count() == 0


def test_null_in_non_nullable_field_is_rejected(spark):
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None, "d", "l", "t", None, None, TS, TS)], CHUNK_SCHEMA)


def test_no_row_path_create_dataframe_in_package():
    """Every driver-built frame goes through local_frame: the only
    ``createDataFrame`` reference in the package is the one inside it."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "session.py" and path.parent == PKG:
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert offenders == []
