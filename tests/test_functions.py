"""ClickHouse function-registry behavior tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_from_scratch_spark.functions import REGISTRY, ch, has_function
from clickhouse_from_scratch_spark.functions.typemap import (
    ch_type_to_spark, spark_type_to_ch,
)


def _one(spark, col, **kwargs):
    return spark.range(1).select(col.alias("r")).collect()[0].r


def test_registry_size():
    # the dialect surface from SURVEY §2.10 + common CH library names
    assert len(REGISTRY) > 180


# args are thunks: F.lit needs an active SparkContext, which only the
# session fixture provides
@pytest.mark.parametrize("name,args,expected", [
    ("plus", lambda: (F.lit(2), F.lit(3)), 5),
    ("intDiv", lambda: (F.lit(7), F.lit(2)), 3),
    ("modulo", lambda: (F.lit(7), F.lit(3)), 1),
    ("if", lambda: (F.lit(True), F.lit(1), F.lit(2)), 1),
    ("multiIf", lambda: (F.lit(False), F.lit(1), F.lit(True), F.lit(2), F.lit(3)), 2),
    ("ifNull", lambda: (F.lit(None).cast("int"), F.lit(9)), 9),
    ("nullIf", lambda: (F.lit(5), F.lit(5)), None),
    ("empty", lambda: (F.lit(""),), True),
    ("position", lambda: (F.lit("hello"), "ll"), 3),
    ("splitByChar", lambda: (",", F.lit("a,b,c")), ["a", "b", "c"]),
    ("startsWith", lambda: (F.lit("hello"), "he"), True),
    ("substring", lambda: (F.lit("hello"), 2, 3), "ell"),
    ("left", lambda: (F.lit("hello"), 2), "he"),
    ("repeat", lambda: (F.lit("ab"), 3), "ababab"),
    ("toInt32", lambda: (F.lit("42"),), 42),
    ("toString", lambda: (F.lit(42),), "42"),
    ("toDayOfWeek", lambda: (F.lit("2024-01-01").cast("date"),), 1),  # Monday=1 (CH)
    ("toYYYYMM", lambda: (F.lit("2024-03-15").cast("date"),), 202403),
    ("dateDiff", lambda: ("day", F.lit("2024-01-01").cast("date"),
                          F.lit("2024-01-31").cast("date")), 30),
    ("arrayElement", lambda: (F.array(F.lit(1), F.lit(2)), 2), 2),
    ("has", lambda: (F.array(F.lit(1), F.lit(2)), 2), True),
    ("indexOf", lambda: (F.array(F.lit(5), F.lit(7)), 7), 2),
    ("arraySum", lambda: (F.array(F.lit(1), F.lit(2), F.lit(3)),), 6.0),
    ("arrayUniq", lambda: (F.array(F.lit(1), F.lit(1), F.lit(2)),), 2),
    ("arrayStringConcat", lambda: (F.array(F.lit("a"), F.lit("b")), "-"), "a-b"),
    ("arrayPopBack", lambda: (F.array(F.lit(1), F.lit(2)),), [1]),
    ("range", lambda: (F.lit(3),), [0, 1, 2]),
    ("JSONExtractInt", lambda: (F.lit('{"k": 42}'), "k"), 42),
    ("JSONHas", lambda: (F.lit('{"k": 1}'), "x"), False),
    ("IPv4StringToNum", lambda: (F.lit("1.2.3.4"),), 16909060),
    ("bitShiftLeft", lambda: (F.lit(1), 4), 16),
    ("bitTest", lambda: (F.lit(5), 2), 1),
    ("hex", lambda: (F.lit(255),), "FF"),
    ("roundBankers", lambda: (F.lit(2.5), 0), 2.0),
    ("xor", lambda: (F.lit(True), F.lit(False)), True),
    ("caseWithExpression", lambda: (F.lit(2), F.lit(1), F.lit("one"),
                                    F.lit(2), F.lit("two"), F.lit("other")), "two"),
])
def test_scalar_functions(spark, name, args, expected):
    assert _one(spark, ch(name, *args())) == expected


def test_ipv4_roundtrip(spark):
    out = _one(spark, ch("IPv4NumToString", ch("IPv4StringToNum",
                                               F.lit("10.20.30.40"))))
    assert out == "10.20.30.40"


def test_ngrams(spark):
    assert _one(spark, ch("ngrams", F.lit("abcd"), 2)) == ["ab", "bc", "cd"]


def test_aggregates(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        ch("countIf", F.col("l_quantity") < 10).alias("c"),
        ch("sumIf", F.col("l_quantity"), F.col("l_quantity") < 10).alias("s"),
        ch("argMax", F.col("l_orderkey"), F.col("l_quantity")).alias("am"),
        ch("uniqExact", F.col("l_suppkey")).alias("u"),
        ch("quantileExact", 0.5, F.col("l_quantity")).alias("q"),
        ch("anyLast", F.col("l_returnflag")).alias("al"),
    ).collect()[0]
    assert row.c > 0 and row.s > 0 and row.u == 10
    assert row.q is not None and row.al in ("A", "N", "R")


def test_missing_function_raises():
    with pytest.raises(KeyError, match="notARealFunction"):
        ch("notARealFunction", F.lit(1))
    assert not has_function("notARealFunction")
    assert has_function("toStartOfMonth")


@pytest.mark.parametrize("ch_type,spark_type", [
    ("Int64", "long"), ("UInt8", "smallint"), ("Float32", "float"),
    ("String", "string"), ("FixedString(16)", "string"),
    ("Date", "date"), ("DateTime", "timestamp"),
    ("DateTime64(3)", "timestamp"), ("DateTime64(9, 'UTC')", "timestamp"),
    ("Decimal(10,2)", "decimal(10,2)"), ("Decimal64(4)", "decimal(18,4)"),
    ("Nullable(Int32)", "int"), ("LowCardinality(String)", "string"),
    ("Array(Int32)", "array<int>"), ("Array(Nullable(String))", "array<string>"),
    ("Map(String, UInt64)", "map<string,long>"),
    ("Tuple(Int8, String)", "struct<_1:tinyint,_2:string>"),
    ("Tuple(a Int8, b String)", "struct<a:tinyint,b:string>"),
    ("Enum8('a' = 1, 'b' = 2)", "string"),
    ("UInt256", "decimal(38,0)"), ("UUID", "string"),
    ("BIGINT", "long"), ("VARCHAR", "string"),
])
def test_type_mapping(ch_type, spark_type):
    assert ch_type_to_spark(ch_type) == spark_type


@pytest.mark.parametrize("spark_type,ch_type", [
    ("bigint", "Int64"), ("smallint", "Int16"), ("double", "Float64"),
    ("string", "String"), ("binary", "String"), ("date", "Date"),
    ("timestamp", "DateTime"), ("timestamp_ntz", "DateTime"),
    ("boolean", "Bool"), ("decimal(10,2)", "Decimal(10, 2)"),
    ("array<int>", "Array(Int32)"),
    ("map<string,bigint>", "Map(String, Int64)"),
    ("struct<a:tinyint,b:array<string>>", "Tuple(Int8, Array(String))"),
    ("interval day to second", "String"),
])
def test_spark_type_mapping(spark_type, ch_type):
    assert spark_type_to_ch(spark_type) == ch_type


def test_type_mapping_unmapped():
    # AggregateFunction value carriers map since r13; a genuinely
    # unknown type name still raises
    with pytest.raises(ValueError):
        ch_type_to_spark("NoSuchType")
    assert ch_type_to_spark(
        "AggregateFunction(sum, UInt64)") == "long"
