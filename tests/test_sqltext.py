"""sqltext: Python values render as Spark SQL text that parses back to the
same values, and builders that splice SQL text reject anything but str."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark import sqltext
from build_pipeline_with_apache_beam_spark.operators.similarity import _bucket


def test_sqltext_round_trips_values_and_rejects_columns(spark):
    with pytest.raises(TypeError):
        _bucket(F.col("embedding").cast("array<double>"))
    with pytest.raises(TypeError):
        sqltext.dot("a", F.col("b"))

    xs = [math.nan, math.inf, -math.inf, 5e-324, -0.0, 0.1]
    got = list(spark.sql(
        "SELECT " + ", ".join(sqltext.double(x) for x in xs)).first())
    assert math.isnan(got[0])
    assert got[1:] == xs[1:]
    assert math.copysign(1.0, got[4]) == -1.0
    assert spark.sql("SELECT " + sqltext.doubles(xs[1:])).first()[0] == xs[1:]

    s = "it's a 'quoted' \\n path"
    assert spark.sql("SELECT " + sqltext.string(s)).first()[0] == s

    # events_attribution_markov's degenerate stream: zero rows, same types
    schema = "channel STRING, effect_in_unit BOOLEAN, shares_valid BOOLEAN"
    empty = spark.sql(sqltext.values([], schema))
    one = spark.sql(sqltext.values([("a'b", True, False)], schema))
    assert empty.count() == 0
    assert empty.schema.simpleString() == one.schema.simpleString() == (
        "struct<channel:string,effect_in_unit:boolean,shares_valid:boolean>")
    assert [tuple(r) for r in one.collect()] == [("a'b", True, False)]
