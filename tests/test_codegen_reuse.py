"""Repeat requests must reuse generated code. Whole-stage codegen compiles
each generated Java source with Janino and caches the class keyed by that
source; a second run of a query compiles nothing unless the registry has
outgrown the cache (session.CODEGEN_CACHE_ENTRIES) or the query generates
different source on every request."""

from __future__ import annotations

from thisishappening_spark.queries import REGISTRY


def test_second_round_of_registry_queries_compiles_nothing(spark, sf_dir):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compilations() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    for spec in REGISTRY.values():
        spec.fn(spark, sf_dir).collect()
    recompiled = {}
    for name, spec in REGISTRY.items():
        before = compilations()
        spec.fn(spark, sf_dir).collect()
        if n := compilations() - before:
            recompiled[name] = n
    assert not recompiled, (
        f"{sum(recompiled.values())} compilations in the second round, "
        f"{len(recompiled)} of {len(REGISTRY)} queries recompiled: {recompiled}"
    )
