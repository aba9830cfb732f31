"""Steady-state reuse of Spark's generated classes.

Spark caches compiled whole-stage-codegen and expression classes in an LRU
cache of ``spark.sql.codegen.cache.maxEntries`` entries (a static conf, 100
by default). One curation_pipeline call uses ~150 distinct classes, so at
the default every lookup misses: each call runs Janino on every class again
(~140 compiles) and HotSpot re-JITs the fresh classes anew.
session.get_spark sizes the cache to the pipeline; this pins that a
repeated identical call compiles (almost) nothing.
"""

from __future__ import annotations

from otlp_wire_spark.queries_ext import QUERIES_EXT

SF = "/root/testdata/sf0.001"
# a repeated call can still recompile a few classes (14-24 seen on the
# third call): AQE numbers whole-stage-codegen stages in the order their
# query stages are planned, and the stage id is part of the generated class
# name, so a renumbered stage misses the cache; LRU thrash recompiles ~140
MAX_STEADY_COMPILES = 20


def _janino_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_curation_pipeline_reuses_generated_classes(spark):
    q = QUERIES_EXT["curation_pipeline"]
    for _ in range(2):
        q(spark, SF).collect()
    before = _janino_compiles(spark)
    assert q(spark, SF).collect()
    compiles = _janino_compiles(spark) - before
    assert compiles <= MAX_STEADY_COMPILES, (
        f"{compiles} generated classes recompiled on a repeated call: "
        "spark.sql.codegen.cache.maxEntries is below the pipeline's "
        "distinct generated classes (LRU thrash)"
    )
