"""Repeat requests must reuse generated code. Whole-stage codegen compiles
each generated Java source with Janino and caches the class keyed by that
source; a second run of a query compiles nothing unless the registry has
outgrown the cache (session.CODEGEN_CACHE_ENTRIES) or the query generates
different source on every request."""

from __future__ import annotations

import os
from datetime import timedelta

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from thisishappening_spark.queries import REGISTRY
from thisishappening_spark.sources.tables import load_table


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


def test_retention_cutoff_compiles_nothing_for_a_new_max_ts(spark, sf_dir, tmp_path):
    """Every arriving event moves ``max(ts)`` and with it the retention
    cutoff. The cutoff is a joined column, not a value inlined into the
    generated Java, so a new ``max(ts)`` compiles nothing once the first
    copy of the events has been run."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = events.column("ts")
    dirs = []
    for shift in (1, 2, 3):
        out = tmp_path / f"shift{shift}"
        out.mkdir()
        shifted = pc.add(ts, pa.scalar(timedelta(seconds=shift), pa.duration(ts.type.unit)))
        pq.write_table(
            events.set_column(events.schema.get_field_index("ts"), "ts", shifted.cast(ts.type)),
            out / "events.parquet",
        )
        dirs.append(str(out))
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    query = REGISTRY["q_retention_cutoff"].fn
    cutoffs, added = [], []
    for i, d in enumerate(dirs):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        query(spark, d).collect()
        if i:
            added.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
        cutoffs.append(load_table(spark, d, "events").agg(F.max("ts")).first()[0])
    assert len(set(cutoffs)) == len(dirs)
    assert added == [0] * (len(dirs) - 1), added
