"""Unit tests for the scalar function library (SURVEY §5.1 ports of
reference tests/test_utils.py:51-74, as DataFrame tests)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from skylogix_real_time_weather_data_pipeline_spark import functions as fx


@pytest.fixture(scope="module")
def one(spark):
    return spark.range(1)


def test_celsius_to_fahrenheit(one):
    # reference tests/test_utils.py:57-60
    r = one.select(
        fx.celsius_to_fahrenheit(F.lit(0.0)).alias("a"),
        fx.celsius_to_fahrenheit(F.lit(100.0)).alias("b"),
        fx.celsius_to_fahrenheit(F.lit(-40.0)).alias("c"),
    ).first()
    assert (r.a, r.b, r.c) == (32.0, 212.0, -40.0)


def test_fahrenheit_to_celsius(one):
    # reference tests/test_utils.py:62-65
    r = one.select(
        fx.fahrenheit_to_celsius(F.lit(32.0)).alias("a"),
        fx.fahrenheit_to_celsius(F.lit(212.0)).alias("b"),
        fx.fahrenheit_to_celsius(F.lit(-40.0)).alias("c"),
    ).first()
    assert (r.a, r.b, r.c) == (0.0, 100.0, -40.0)


def test_format_timestamp(one):
    # reference tests/test_utils.py:67-69
    r = one.select(
        fx.format_timestamp(F.to_timestamp(F.lit("2023-01-01 12:00:00"))).alias("s")
    ).first()
    assert r.s == "2023-01-01 12:00:00"


def test_get_date_range(one):
    # reference tests/test_utils.py:51-55 — inclusive bounds
    r = one.select(fx.get_date_range("2023-01-01", "2023-01-05").alias("d")).first()
    assert r.d == ["2023-01-01", "2023-01-02", "2023-01-03", "2023-01-04", "2023-01-05"]


def test_weather_icon(one):
    # reference tests/test_utils.py:71-74 — known keys + unknown default
    r = one.select(
        fx.weather_icon(F.lit("Clear")).alias("a"),
        fx.weather_icon(F.lit("Rain")).alias("b"),
        fx.weather_icon(F.lit("NotACondition")).alias("c"),
        fx.weather_icon(F.lit(None).cast("string")).alias("d"),
    ).first()
    assert (r.a, r.b, r.c, r.d) == ("☀️", "🌧️", "❓", "❓")


def test_epoch_and_iso_parse(one):
    r = one.select(
        fx.epoch_to_timestamp(F.lit(1704067200)).alias("e"),
        fx.parse_iso_timestamp(F.lit("2024-01-01T00:00:00.123456")).alias("i"),
        fx.day_name(F.to_timestamp(F.lit("2024-01-01 00:00:00"))).alias("d"),
        fx.iso_format(F.to_timestamp(F.lit("2024-01-01 05:06:07"))).alias("s"),
    ).first()
    assert str(r.e) == "2024-01-01 00:00:00"
    assert r.i.microsecond == 123456
    assert r.d == "Monday"
    assert r.s == "2024-01-01T05:06:07"


# --- fsum/fmean split-long exact fold (functions/exact.py) ----------------

def _py_fsum(vals, scale):
    """Reference model: round-half-up each value to 10^-scale units on the
    DOUBLE (exactly what Spark's ROUND(double) does via BigDecimal), sum
    the integer units exactly, divide once."""
    from decimal import ROUND_HALF_UP, Decimal

    units = [
        int(Decimal(v * 10**scale).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        for v in vals
        if v is not None
    ]
    return float(sum(units)) / 10**scale


@pytest.mark.parametrize("scale", [2, 4, 6])
def test_fsum_matches_exact_fixed_point_model(spark, scale):
    import random

    from skylogix_real_time_weather_data_pipeline_spark.functions.exact import fsum

    rng = random.Random(17 + scale)
    vals = [rng.uniform(-1e5, 1e5) for _ in range(500)] + [0.0, -0.005, 123456.789]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(fsum("v", scale).alias("s")).first()["s"]
    assert got == _py_fsum(vals, scale)


def test_fsum_is_partition_layout_independent(spark):
    from skylogix_real_time_weather_data_pipeline_spark.functions.exact import fsum

    import random

    rng = random.Random(99)
    vals = [rng.uniform(-1e4, 1e4) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    results = {
        df.repartition(n).agg(fsum("v", 6).alias("s")).first()["s"]
        for n in (1, 7, 32)
    }
    assert len(results) == 1
    assert results.pop() == _py_fsum(vals, 6)


def test_fmean_null_semantics_match_avg(spark):
    """fmean must skip nulls like AVG (all-null group → NULL)."""
    from pyspark.sql import functions as F

    from skylogix_real_time_weather_data_pipeline_spark.functions.exact import fmean

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), ("b", None)], "g string, v double"
    )
    rows = {r.g: r for r in df.groupBy("g").agg(fmean("v").alias("m")).collect()}
    assert rows["a"].m == 1.5
    assert rows["b"].m is None


def test_string_name_sql_path_matches_column_path(spark):
    """fsum / fmean / fmean_round given a column NAME parse one SQL string;
    given a Column they build the tree op by op. Both must give
    bit-identical values: negative values, means on a .5 display boundary
    (1.005 and -1.005 at k=2 round half away) and an all-null group."""
    from skylogix_real_time_weather_data_pipeline_spark.functions.exact import (
        fmean,
        fmean_round,
        fsum,
    )

    df = spark.createDataFrame(
        [("neg", -1.005), ("neg", -2.5), ("neg", -0.125), ("neg", -1234.567891),
         ("half", 1.0), ("half", 1.01),
         ("nhalf", -1.0), ("nhalf", -1.01),
         ("mixed", 2.675), ("mixed", -0.335), ("mixed", None),
         ("null", None), ("null", None)],
        "g string, v double",
    )
    aggs = {
        "fsum2": lambda c: fsum(c, 2), "fsum4": lambda c: fsum(c),
        "fsum6": lambda c: fsum(c, 6),
        "fmean6": lambda c: fmean(c), "fmean2": lambda c: fmean(c, 2),
        "fmr2": lambda c: fmean_round(c, 2), "fmr6": lambda c: fmean_round(c, 6),
        "fmr8": lambda c: fmean_round(c, 8), "fmr1s2": lambda c: fmean_round(c, 1, 2),
    }

    def run(arg):
        out = df.groupBy("g").agg(*[fn(arg).alias(n) for n, fn in aggs.items()])
        return {r.g: r.asDict() for r in out.collect()}

    by_name, by_col = run("v"), run(F.col("v"))
    assert by_name == by_col
    assert by_name["half"]["fmr2"] == 1.01
    assert by_name["nhalf"]["fmr2"] == -1.01
    assert {k: v for k, v in by_name["null"].items() if v is not None} == {"g": "null"}
