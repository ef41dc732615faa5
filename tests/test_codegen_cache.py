"""Warm queries reuse their generated code (session.CODEGEN_CACHE_ENTRIES).

Spark keeps whole-stage-codegen classes in one JVM-wide LRU cache keyed
by the generated source. At Spark's default of 100 entries a working
set of more than 100 classes is evicted in a cycle, so every pass
compiles all of them again. Here 64 tiny projections, each with its own
inlined literal and so its own classes (two each), run twice: the
second loop must find every class still cached.
"""

from __future__ import annotations

from functools import reduce

from etl_pipeline_spark.session import CODEGEN_CACHE_ENTRIES

N_JOBS = 8
PER_JOB = 8  # 64 projections, 128 generated classes


def _compilations(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _run_projections(spark) -> None:
    for j in range(N_JOBS):
        parts = [
            spark.range(2).selectExpr(f"id * {7_000_003 + PER_JOB * j + i} AS x")
            for i in range(PER_JOB)
        ]
        reduce(lambda a, b: a.union(b), parts).collect()


def test_second_pass_compiles_nothing(spark):
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_ENTRIES
    c0 = _compilations(spark)
    _run_projections(spark)
    c1 = _compilations(spark)
    # the cold loop needs more classes than Spark's default cache holds
    assert c1 - c0 > 100, c1 - c0
    _run_projections(spark)
    assert _compilations(spark) == c1
