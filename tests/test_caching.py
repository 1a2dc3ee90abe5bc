"""Unit tests for the session memo and bulk eviction in caching.py."""

from __future__ import annotations

import pytest

from big_data_analytics_spark import caching
from big_data_analytics_spark.caching import evict_all, memo


def test_second_call_in_same_session_hits(spark):
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    first = memo(spark, ("test_caching", "hit"), build)
    assert memo(spark, ("test_caching", "hit"), build) is first
    assert len(builds) == 1


def test_new_session_misses(spark):
    other = spark.newSession()
    mine = memo(spark, ("test_caching", "session"), lambda: spark.range(1))
    theirs = memo(other, ("test_caching", "session"), lambda: other.range(1))
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert memo(spark, ("test_caching", "session"), lambda: None) is mine


def test_failed_build_stores_nothing(spark):
    key = ("test_caching", "raises")
    before = dict(caching._MEMO)

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        memo(spark, key, boom)
    assert caching._MEMO == before
    assert memo(spark, key, lambda: spark.range(2)).count() == 2


def test_evict_all_unpersists_nested_values_and_empties_registry(spark):
    in_tuple = spark.range(11).selectExpr("id * 3 AS x").persist()
    in_dict = spark.range(13).selectExpr("id * 5 AS y").persist()
    assert in_tuple.count() == 11 and in_dict.count() == 13
    memo(spark, ("test_caching", "tuple"), lambda: (in_tuple, {"n": 11}))
    memo(spark, ("test_caching", "dict"), lambda: {"t": in_dict})
    assert in_tuple.is_cached and in_dict.is_cached

    assert evict_all() >= 2
    assert not in_tuple.is_cached
    assert not in_dict.is_cached
    assert all(len(cache) == 0 for cache in caching._REGISTRY)
