"""functions/lits.py: fast_lit must be value-identical to F.lit for the
literal shapes the operators feed it (nested double tables, plane
matrices), while costing ONE py4j call instead of one per element."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simtradedata_spark.functions.lits import fast_lit


def test_nested_doubles_match_f_lit(spark):
    books = [
        [[float(i * 7 + j * 3 + k) * 1.0000001 for k in range(4)] for j in range(3)]
        for i in range(2)
    ]
    row = (
        spark.range(1)
        .select(
            (fast_lit(books) == F.lit(books)).alias("eq"),
            fast_lit(books).alias("v"),
        )
        .first()
    )
    assert row["eq"] is True
    assert row["v"] == books


def test_roundtrip_edge_doubles(spark):
    vals = [0.0, -0.0, 1e-300, -1.7976931348623157e308, 0.1, 2.0 / 3.0]
    row = spark.range(1).select((fast_lit(vals) == F.lit(vals)).alias("eq")).first()
    assert row["eq"] is True


def test_strings_escaped(spark):
    vals = ["plain", "o'brien", "back\\slash", "两个字"]
    row = spark.range(1).select(fast_lit(vals).alias("v")).first()
    assert list(row["v"]) == vals


def test_ints_are_bigint(spark):
    df = spark.range(1).select(fast_lit([1, 2, 3]).alias("v"))
    assert df.schema["v"].dataType.simpleString() == "array<bigint>"
    assert list(df.first()["v"]) == [1, 2, 3]


def test_rejects_empty_and_nonfinite():
    with pytest.raises(ValueError, match="empty"):
        fast_lit([[]])
    with pytest.raises(ValueError, match="non-finite"):
        fast_lit([1.0, float("inf")])
    with pytest.raises(TypeError):
        fast_lit([object()])


def test_decimals_render_exact(spark):
    from decimal import Decimal

    vals = [Decimal("12345678901234567890"), Decimal("-0.125"), Decimal("1E+3")]
    row = spark.range(1).select(fast_lit(vals).alias("v")).first()
    assert list(row["v"]) == vals
    with pytest.raises(ValueError, match="non-finite"):
        fast_lit([Decimal("NaN")])


def test_ident_quotes_names(spark):
    from simtradedata_spark.functions.lits import ident

    df = spark.range(2).select(
        F.col("id").alias("tok count"), F.col("id").alias("a`b")
    )
    got = df.selectExpr(f"{ident('tok count')} + {ident('a`b')} AS s").collect()
    assert [r["s"] for r in got] == [0, 2]
