"""SparkSession factory.

Local test harness runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
config here is chosen to also hold on a real multi-executor cluster at
~100 TB scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy
  switches) — at 100 TB static shuffle-partition counts are always wrong.
- shuffle partitions default to cores locally; at cluster scale AQE's
  coalesce makes the initial number mostly a ceiling. ``extra_conf``
  overrides any setting here, the master and shuffle partitions included.
- Arrow enabled so the few pandas-UDF operators batch through Arrow rather
  than pickling rows.
- UTC session timezone: the reference stores naive-UTC timestamps and
  re-attaches tzinfo on read (reference data_base.py:141); we normalize at
  the session level instead.
- Generated-code cache sized to the registry's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark's whole-stage codegen compiles each
  generated Java source once with Janino and caches the class in an LRU
  keyed by that source, 100 entries by default. One pass over the 38
  registry queries generates about 400 distinct classes (measured on a
  4-vCPU host, ``local[4]``: 394 at sf0.001, 398 at sf0.1), so a pass
  that cycles through the queries evicts every class before its next use
  and recompiles all of them on every request. Sized at 2000 (about 5x the
  working set), a repeat pass compiles nothing and reuses classes the JVM
  has already JIT-compiled; ``tests/test_codegen_reuse.py`` guards it.
  The cache is keyed by source text, so results cannot change. It is a
  static conf: ``getOrCreate()`` ignores it on an already-running session,
  and the cache is JVM-wide, so a vanilla session built elsewhere (such as
  one a caller hands to ``__spark_entry__``) keeps Spark's 100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "thisishappening-spark", extra_conf: dict[str, str] | None = None
) -> SparkSession:
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long (tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Let the planner pick shuffled-hash join where its size bounds hold
        # (optimization guide §3.1: no sort on either side, faster than
        # sort-merge when a per-partition build side fits). No local plan
        # changes at bench SFs (every eligible join already broadcasts) —
        # this is the cluster-scale default for the fact-fact joins.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # AQE coalesce target (guide §2.2/§9): post-shuffle partitions in the
        # hundreds-of-MB range instead of the 64 MB default. Scale-adaptive,
        # not core-count-derived; at bench SFs every shuffle is below either
        # threshold so local plans (and the driver's low-core run) are
        # unaffected.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
