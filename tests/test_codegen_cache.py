"""The session's generated-class cache holds a working set larger than
Spark's 100-entry default: a cycle of distinct plans, run twice,
compiles every class once and none on the second round (an LRU of 100
evicts each class before its next use, so the second round recompiles
them all)."""

from __future__ import annotations

import uuid

PLANS = 60


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark, base: int) -> int:
    before = _compiled(spark)
    for k in range(PLANS):
        spark.range(3).selectExpr(f"id * {base + k} AS v").collect()
    return _compiled(spark) - before


def test_cache_holds_a_cycle_of_distinct_plans(spark):
    # literals no other test plans, so round 1 compiles every class
    base = 1_000_000 + uuid.uuid4().int % 1_000_000_000
    first = _round(spark, base)
    assert first > 100, first
    assert _round(spark, base) == 0
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
