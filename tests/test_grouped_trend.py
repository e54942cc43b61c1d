"""``per_group_linear_trend`` input contract: exact integers only."""

from __future__ import annotations

import pytest

from redis_lsm_timeseries_spark.operators.grouped import per_group_linear_trend


def test_fractional_value_raises_instead_of_truncating(spark):
    """int(2.5) == 2 would bias the slope silently; the UDF refuses."""
    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 2.0, 2.5), ("a", 3.0, 7.0)],
        "tag string, x double, y double",
    )
    with pytest.raises(Exception, match="not integral"):
        per_group_linear_trend(df).collect()


def test_integral_doubles_match_the_integer_columns(spark):
    ints = spark.createDataFrame(
        [("a", 1, 2), ("a", 2, 5), ("a", 4, 7), ("b", 1, 1), ("b", 2, 3)],
        "tag string, x long, y long",
    )
    doubles = ints.selectExpr(
        "tag", "CAST(x AS double) AS x", "CAST(y AS double) AS y"
    )
    assert sorted(per_group_linear_trend(ints).collect()) == sorted(
        per_group_linear_trend(doubles).collect()
    )
