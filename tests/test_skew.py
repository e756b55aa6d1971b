"""Salted-join skew utility: result equivalence with the plain join,
partitioning spread, and determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.operators.skew import salted_join


@pytest.fixture()
def skewed(spark):
    # 90% of rows carry key 1 (the hot key), the rest spread over 2..50
    return spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(1))
        .otherwise((F.col("id") % 49 + 2))
        .cast("long")
        .alias("k"),
        (F.col("id") * 3).alias("v"),
    )


@pytest.fixture()
def dim(spark):
    return spark.range(1, 51).select(
        F.col("id").alias("k"), F.concat(F.lit("name"), F.col("id")).alias("name")
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_equals_plain_inner(skewed, dim):
    plain = skewed.join(dim, ["k"], "inner")
    salted = salted_join(skewed, dim, ["k"], n_salt=8, how="inner")
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_join_equals_plain_left(spark, skewed, dim):
    # drop some dim keys so left-join null rows exist
    dim2 = dim.filter(F.col("k") % 7 != 0)
    plain = skewed.join(dim2, ["k"], "left")
    salted = salted_join(skewed, dim2, ["k"], n_salt=8, how="left")
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_join_rejects_right_join(skewed, dim):
    with pytest.raises(ValueError):
        salted_join(skewed, dim, ["k"], how="right")


def test_salted_join_spreads_hot_key(skewed, dim):
    # the hot key's rows must land in >1 salt bucket — the entire point
    from snowplow_s3_loader_spark.operators.skew import _SALT, _salt_of

    n = (
        skewed.withColumn(_SALT, _salt_of(skewed, 8))
        .filter(F.col("k") == 1)
        .select(_SALT)
        .distinct()
        .count()
    )
    assert n > 1


def test_salt_is_deterministic(skewed):
    from snowplow_s3_loader_spark.operators.skew import _SALT, _salt_of

    a = skewed.withColumn(_SALT, _salt_of(skewed, 8)).collect()
    b = skewed.withColumn(_SALT, _salt_of(skewed, 8)).collect()
    assert a == b


def test_skew_helpers_reject_preexisting_salt_column(spark):
    # a caller-owned '__salt' column would silently collide with the
    # internal working column — the join must fail loudly on either side
    big = spark.createDataFrame([(1, 0)], "k long, __salt int")
    small = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(big, small, ["k"])
    with pytest.raises(ValueError, match="__salt"):
        salted_join(small, big, ["k"])
