"""local_frame: driver rows as a JVM local relation, equal in schema
and values to ``createDataFrame(list, schema)``; the session's codegen
cache outlives a burst of unrelated plan shapes."""

import json
import math

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
)

from langchain_memvid_spark.plans.registry import QUERIES
from langchain_memvid_spark.session import codegen_compiles, local_frame

EDGE_SCHEMA = StructType(
    [
        StructField("i", IntegerType()),
        StructField("l", LongType(), nullable=False),
        StructField("f", ArrayType(FloatType())),
        StructField("d", ArrayType(DoubleType(), containsNull=False)),
        StructField("t", StringType()),
        StructField("x", DoubleType()),
    ]
)

EDGE_ROWS = [
    (
        2**31 - 1,
        2**63 - 1,
        # float32 rounding of Python doubles, subnormal, max, overflow, underflow
        [0.1, 1 / 3, 1e-40, 3.4028235e38, 1e39, -0.0, 1e-50, None],
        [math.nan, math.inf, -math.inf, -0.0, 5e-324, 1.7976931348623157e308],
        "héllo 漢字 🎉 ß",
        None,
    ),
    (-(2**31), -(2**63), None, [], None, -0.0),
    (0, 0, [], [0.1 + 0.2], "", 1.5),
]


def _plan_leaf(df):
    return df._jdf.queryExecution().analyzed().nodeName()


def _jvm_schema(df):
    """The schema the JVM plan carries (``df.schema`` may be a cached
    Python copy)."""
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


@pytest.mark.parametrize(
    "schema",
    [EDGE_SCHEMA, "a INT, b BIGINT, c ARRAY<DOUBLE>, d STRING"],
    ids=["struct", "ddl"],
)
def test_local_frame_schema_matches_list_path(spark, schema):
    for rows in ([], EDGE_ROWS if isinstance(schema, StructType) else [(1, 2, [0.5], "z")]):
        df = local_frame(spark, rows, schema)
        assert _plan_leaf(df) == "LocalRelation"
        assert _jvm_schema(df) == _jvm_schema(spark.createDataFrame(rows, schema))


def test_local_frame_values_bit_identical_to_list_path(spark):
    got = local_frame(spark, EDGE_ROWS, EDGE_SCHEMA).collect()
    want = spark.createDataFrame(EDGE_ROWS, EDGE_SCHEMA).collect()
    # repr tells -0.0 from 0.0 and prints NaN, which == cannot compare
    assert repr(got) == repr(want)
    assert got[0]["f"][0] == 0.10000000149011612  # float32 rounding
    assert math.copysign(1.0, got[1]["x"]) == -1.0
    assert local_frame(spark, [], EDGE_SCHEMA).collect() == []


@pytest.mark.parametrize(
    "rows",
    [[("x",)], [(1.5,)], [(2**31,)], [(1, 2)], [(None,)]],
    ids=["str", "float", "overflow", "arity", "null-in-not-null"],
)
def test_local_frame_rejects_bad_rows(spark, rows):
    schema = StructType([StructField("a", IntegerType(), nullable=False)])
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, schema)


def test_codegen_cache_survives_unrelated_shapes(spark, sf_dir):
    """A registry query compiles nothing on its second run, even after
    more distinct plan shapes than Spark's default cache of 100 holds:
    each of the 150 flood queries inlines its own literal, so each is a
    class of its own.  ``lsh_ann_search`` is the recall-witness shape:
    a limit inside a codegen stage would name a new counter per run."""
    for name in ("q1_pricing_summary", "lsh_ann_search"):
        query = QUERIES[name].fn
        first = query(spark, sf_dir).collect()
        for i in range(150):
            spark.range(3).selectExpr(f"id + {i} AS x").collect()
        before = codegen_compiles(spark)
        again = query(spark, sf_dir).collect()
        assert codegen_compiles(spark) == before, name
        assert again == first, name
