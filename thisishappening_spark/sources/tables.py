"""Table readers over the driver's parquet test data.

The reference delegates all storage to two PostgreSQL tables
(reference data_base.py:37-54, 215-236). Here storage is columnar parquet
read through Spark's vectorized reader: predicate pushdown and column
pruning reach the scan via Catalyst, which replaces the Postgres planner
(SURVEY.md §4.1). At 100 TB the same code path applies — tables become
date-partitioned parquet/Delta directories and `spark.read.parquet` picks
up partition pruning automatically; nothing here assumes single-file
tables.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

# Session-scoped relation cache: resolving `spark.read.parquet(path)` pays
# driver-side file listing + parquet schema inference on EVERY call (measured
# 0.15-0.5 s per call at sf0.1 — the dominant share of the per-query floor,
# paid 3×38 times per bench run). A catalog-backed table resolves once and
# reuses the relation; this cache gives path-based reads the same behavior
# (optimization guide §6 "file listing ... is cached per session"). Only the
# *relation* (file list + schema, an unexecuted plan) is reused — no rows are
# cached or persisted; every action still scans the parquet input. Keyed
# weakly per SparkSession so a stopped session drops its entries, and by
# absolute path so different scale-factor dirs never collide.
_RELATION_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load one table. With ``fan_out=True``, redistribute the scan when the
    parquet layout caps its parallelism below the session's default
    parallelism (see :func:`_fan_out_narrow_scan`) — opt in ONLY where heavy
    per-row work sits directly on the scan, because the redistribution is a
    full pass of the table through one round-robin exchange."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    key = f"{path}::fan_out" if fan_out else path
    try:
        per_session = _RELATION_CACHE.setdefault(spark, {})
    except TypeError:  # a SparkSession proxy that cannot be weakly referenced
        per_session = {}
    df = per_session.get(key)
    if df is None:
        df = per_session.get(path)
        if df is None:
            df = (
                _load_events(spark, path) if name == "events" else spark.read.parquet(path)
            )
            per_session[path] = df
        if fan_out:
            df = _fan_out_narrow_scan(spark, path, df)
            per_session[key] = df
    return df


def _scan_row_groups(path: str, threshold: int) -> int:
    """Parquet row-group count across the table's files, CAPPED at
    ``threshold`` — the row-group count is the hard upper bound on Spark's
    scan parallelism (one row group is always read by a single task,
    however the byte ranges are split), and the only question the caller
    asks is "is it below the threshold?", so counting stops the moment the
    answer is no. Driver-side footer read via pyarrow; no Spark job.

    Scale-hardened (r22, VERDICT item 2 + ADVICE):

    - Non-POSIX paths (``s3://``, ``gs://`` … — anything with a scheme)
      return ``threshold`` immediately: object-store layouts are
      production-sized by assumption and ``os.listdir`` cannot walk them,
      so fan-out must no-op rather than crash or misfire.
    - Directories are walked RECURSIVELY (a date-partitioned table nests
      its files), and the walk short-circuits as soon as ``threshold``
      files are seen — every parquet file has ≥ 1 row group, so the
      file count alone answers the question with ZERO footer reads on
      any production-sized table.
    - Footer reads are bounded by the same early exit: at most
      ``threshold`` footers are ever opened, however many files exist.
    - A path that is neither file nor directory returns ``threshold``
      (unknown layout ⇒ don't add an exchange on top of it).
    """
    import pyarrow.parquet as pq

    if "://" in path:
        return threshold
    if os.path.isdir(path):
        files = []
        for root, _dirs, names in os.walk(path):
            for name in names:
                if name.endswith(".parquet"):
                    files.append(os.path.join(root, name))
                    if len(files) >= threshold:
                        return threshold
    elif os.path.isfile(path):
        files = [path]
    else:
        return threshold
    total = 0
    for f in files:
        total += pq.ParquetFile(f).num_row_groups
        if total >= threshold:
            return threshold
    return total


def _fan_out_narrow_scan(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """Round-robin-redistribute a scan whose parquet layout serializes it.

    The guide's input-skew rule (§2.5 "one huge unsplittable file …
    otherwise repartition immediately after the read") applied to row
    groups: a file with fewer row groups than the session has cores cannot
    scan in parallel, so everything fused into the scan stage (interpreted
    higher-order transforms, decimal arithmetic, map-side partials) runs
    on the narrow task set too. Scale-adaptive by construction: the target
    is ``defaultParallelism`` (cores locally, cluster cores at scale — NOT
    a constant), and a production-sized input with ≥ that many row groups
    is returned untouched, so at 100 TB this is a no-op and the exchange
    only ever exists where the input layout was the bottleneck."""
    parallelism = spark.sparkContext.defaultParallelism
    if _scan_row_groups(path, parallelism) < parallelism:
        return df.repartition(parallelism)
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts has shipped as parquet TIMESTAMP(NANOS) in some rounds and
    timestamp[us] in others, so handle every dtype the reader can surface:

    - TIMESTAMP(NANOS): Spark's reader rejects it (PARQUET_TYPE_ILLEGAL)
      unless nanos are read as long; floor-truncate to a microsecond
      timestamp (the same truncation DuckDB applies casting TIMESTAMP_NS
      to TIMESTAMP).
    - timestamp[us] without timezone: Spark reads TIMESTAMP_NTZ. The
      session timezone is pinned UTC (session.py), so casting to TIMESTAMP
      is value-preserving and keeps every downstream `unix_micros`/tz
      expression valid.
    - plain TIMESTAMP: used as-is.

    `ts_ns` keeps nanosecond resolution for deterministic orderings in the
    bigint branch; otherwise it is microsecond-derived (sub-microsecond
    digits zero) — still a strictly monotone ordering key for this data.

    The legacy conf is only flipped when the footer actually declares a
    nanos timestamp (checked driver-side via the pyarrow footer — no Spark
    job, no failed-task noise), so a session whose reader handles it is
    never mutated. It must then stay set for the lifetime of the scan —
    Spark consults it at execution, not just plan time, so
    restore-after-read would break the returned DataFrame.
    """
    import pyarrow.dataset as pa_ds
    import pyarrow.types as pa_types
    from pyspark.sql import functions as F

    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        arrow_schema = pa_ds.dataset(path, format="parquet").schema
        ts_field = arrow_schema.field("ts") if "ts" in arrow_schema.names else None
        if ts_field is not None and pa_types.is_timestamp(ts_field.type) and ts_field.type.unit == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_dtype = dict(df.dtypes).get("ts")
    if ts_dtype == "timestamp_ntz":
        # Session tz is pinned UTC, so NTZ→TIMESTAMP is value-preserving.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        ts_dtype = "timestamp"
    if ts_dtype != "bigint":  # reader surfaced a (possibly cast) timestamp
        return df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df.withColumn("ts_ns", F.col("ts")).withColumn(
        "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
    )


def invalidate_relation_cache(
    spark: SparkSession | None = None, path: str | None = None
) -> None:
    """Drop cached relations so the next ``load_table`` re-lists and
    re-resolves the path. CATALOG-LIKE STALENESS SEMANTICS (documented per
    ADVICE r21): the relation cache pins each path's file listing and
    schema for the lifetime of the session, exactly as a catalog table
    would — data appended, overwritten or deleted at the same path
    mid-session is invisible (or raises on read) until invalidated. Call
    this after mutating a table's files in a long-lived session.

    ``spark=None`` clears every session's entries; ``path=None`` clears
    every path for the given session. ``path`` may name the table file/dir
    itself or the sf_dir the table was loaded from (both resolve by
    absolute-path prefix). Also refreshes Spark's own per-path file-index
    cache via ``catalog.refreshByPath`` so the re-read re-lists.
    """
    sessions = [spark] if spark is not None else list(_RELATION_CACHE.keys())
    for s in sessions:
        per_session = _RELATION_CACHE.get(s)
        if not per_session:
            continue
        if path is None:
            per_session.clear()
            continue
        abs_path = os.path.abspath(path)
        for key in [k for k in per_session if k.split("::")[0].startswith(abs_path)]:
            del per_session[key]
        try:
            s.catalog.refreshByPath(abs_path)
        except Exception:
            pass  # a stopped session has nothing to refresh

