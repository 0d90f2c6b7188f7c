"""`Lakehouse.align_to_schema` builds its projection as one `selectExpr`
of SQL strings.  These tests pin it to the per-field Column form it
replaced, kept below as the reference: same schema (names, order, types
and nullability) and same rows."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tagmarshal_data_lakehouse_spark.storage import Lakehouse


def _column_form(df, schema: T.StructType):
    """The Column-per-field projection `align_to_schema` used to build."""
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for field in schema.fields:
        if have.get(field.name) == field.dataType:
            cols.append(F.col(field.name))
        else:
            src = F.col(field.name) if field.name in have else F.lit(None)
            cols.append(src.cast(field.dataType).alias(field.name))
    return df.select(*cols)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    return Lakehouse(spark, str(tmp_path_factory.mktemp("align")))


def _source(spark):
    return spark.createDataFrame(
        [
            (1, 7, "12.50", "2024-03-01 10:00:00", "2024-03-01 10:00:00", [1, 2], (3, "x"), "drop me", 4),
            (2, None, None, None, None, None, None, None, None),
        ],
        "keep int, widen int, amount string, ts string, ts_ntz string, "
        "arr array<int>, st struct<a:int,b:string>, extra string, `c d` int",
    )


_TARGET = T.StructType(
    [
        # passed through
        T.StructField("keep", T.IntegerType()),
        T.StructField("c d", T.IntegerType()),
        # cast
        T.StructField("widen", T.LongType()),
        T.StructField("amount", T.DecimalType(10, 2)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts_ntz", T.TimestampNTZType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField(
            "st",
            T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]),
        ),
        # missing: NULL-filled
        T.StructField("m_dec", T.DecimalType(38, 6)),
        T.StructField("m_ts", T.TimestampType()),
        T.StructField("m_ntz", T.TimestampNTZType()),
        T.StructField("m_arr", T.ArrayType(T.StringType())),
        T.StructField(
            "m_st",
            T.StructType(
                [
                    T.StructField("x y", T.IntegerType(), False),
                    T.StructField("z`", T.ArrayType(T.DateType())),
                ]
            ),
        ),
        T.StructField("m space", T.StringType(), False),
    ]
)


def test_select_expr_matches_column_form(spark, lake):
    src = _source(spark)
    got, want = lake.align_to_schema(src, _TARGET), _column_form(src, _TARGET)
    assert got.schema == want.schema
    assert got.columns == [f.name for f in _TARGET.fields]  # `extra` dropped
    assert got.collect() == want.collect()
    row = got.filter("keep = 1").first()
    assert row["amount"] == Decimal("12.50")
    assert row["ts"] == dt.datetime(2024, 3, 1, 10, 0)  # session zone is UTC
    assert row["ts_ntz"] == dt.datetime(2024, 3, 1, 10, 0)
    assert row["arr"] == [1, 2] and row["st"] == (3, "x")
    assert row["m_st"] is None and row["m space"] is None


def test_dot_and_backtick_names_are_taken_literally(spark, lake):
    """The Column form parses `a.b` as a struct path and rejects a lone
    backtick; the quoted SQL names reach those columns.  The reference
    is the Column form run on positionally renamed columns, then renamed
    back."""
    src = spark.createDataFrame(
        [(1, "2", "p"), (None, "5", None)], "`a.b` int, `e``f` string, `g h` string"
    )
    target = T.StructType(
        [
            T.StructField("e`f", T.IntegerType()),
            T.StructField("a.b", T.IntegerType()),
            T.StructField("n.`m", T.DoubleType()),
            T.StructField("g h", T.StringType()),
        ]
    )
    for name in ("a.b", "e`f"):
        with pytest.raises(AnalysisException):
            _column_form(src, T.StructType([T.StructField(name, T.LongType())])).schema

    safe = {"a.b": "c0", "e`f": "c1", "g h": "c2", "n.`m": "c3"}
    renamed_target = T.StructType(
        [T.StructField(safe[f.name], f.dataType, f.nullable) for f in target.fields]
    )
    want = _column_form(src.toDF(*(safe[c] for c in src.columns)), renamed_target).toDF(
        *(f.name for f in target.fields)
    )
    got = lake.align_to_schema(src, target)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert got.collect()[0].asDict() == {"e`f": 2, "a.b": 1, "n.`m": None, "g h": "p"}
