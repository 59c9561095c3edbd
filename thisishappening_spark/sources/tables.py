"""Table readers over the driver's parquet test data.

The reference delegates all storage to two PostgreSQL tables
(reference data_base.py:37-54, 215-236). Here storage is columnar parquet
read through Spark's vectorized reader: predicate pushdown and column
pruning reach the scan via Catalyst, which replaces the Postgres planner
(SURVEY.md §4.1). At 100 TB the same code path applies — tables become
date-partitioned parquet/Delta directories and `spark.read.parquet` picks
up partition pruning automatically; nothing here assumes single-file
tables. A table's files are the ones ``_table_files`` lists, the set
Spark scans; the row-group gate and the DuckDB oracle read that list.

A one-task events scan is planned as one partition (``_load_events``), so
the per-tweet requests above it run without a hash shuffle that AQE would
only coalesce back into one partition; a table at scale keeps its
exchanges. Only ``events`` takes this rule: on one task the ``documents``
n-gram Jaccard join measured more CPU.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from thisishappening_spark.sqlexpr import ident

# Session-scoped relation cache: resolving `spark.read.parquet(path)` lists
# the files and infers the parquet schema on the driver on every call, a
# per-request cost a catalog table pays once. This cache gives path-based
# reads the same behavior. Only the *relation* (file list + schema, an
# unexecuted plan) is reused — no rows are cached or persisted; every action
# still scans the parquet input. Keyed weakly per SparkSession so a stopped
# session drops its entries, and by (absolute path, fan_out) so different
# scale-factor dirs never collide.
_RELATION_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, bool], DataFrame]]" = (
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
    per_session = _RELATION_CACHE.setdefault(spark, {})
    df = per_session.get((path, fan_out))
    if df is None:
        df = per_session.get((path, False))
        if df is None:
            df = (
                _load_events(spark, path) if name == "events" else spark.read.parquet(path)
            )
            per_session[(path, False)] = df
        if fan_out:
            df = _fan_out_narrow_scan(spark, path, df)
            per_session[(path, True)] = df
    return df


def _table_files(path: str) -> list[str]:
    """The data files of the table at ``path``, by pyarrow's dataset
    discovery: ``path`` itself when it is a file; otherwise every file
    below it, hive and other subdirectories included, with any suffix,
    skipping names that start with ``_`` or ``.`` (``_SUCCESS``,
    checksums, ``_temporary/``, ``_delta_log/``) — the set Spark's file
    index reads. The empty schema keeps discovery from reading a footer.
    Raises ``FileNotFoundError`` for a missing path."""
    import pyarrow as pa
    import pyarrow.dataset as pa_ds

    return pa_ds.dataset(path, format="parquet", partitioning="hive", schema=pa.schema([])).files


def _scan_row_groups(path: str, threshold: int) -> int:
    """Parquet row-group count across the table's files
    (:func:`_table_files`), CAPPED at ``threshold`` — the row-group count
    bounds Spark's scan parallelism (a row group is always read by one
    task), and the caller only asks whether it is below the threshold.
    Driver-side pyarrow footer reads, no Spark job:

    - a path with a scheme (``s3://`` …) or a missing path returns
      ``threshold``: an unknown layout is treated as wide, with no fan-out
      exchange and no single-partition coalesce;
    - a table of ≥ ``threshold`` files returns ``threshold`` from the
      listing alone (every file has ≥ 1 row group), so a production-sized
      table costs no footer read, and the footer reads stop once
      ``threshold`` is reached.
    """
    import pyarrow.parquet as pq

    if "://" in path:
        return threshold
    try:
        files = _table_files(path)
    except FileNotFoundError:
        return threshold
    if len(files) >= threshold:
        return threshold
    total = 0
    for f in files:
        total += pq.ParquetFile(f).num_row_groups
        if total >= threshold:
            return threshold
    return total


def _fan_out_narrow_scan(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """Round-robin-redistribute a scan whose parquet layout serializes it.

    An input-skew rule (repartition right after reading an input that
    cannot be split) applied to row groups: a file with fewer row groups
    than the session has cores cannot scan in parallel, so everything
    fused into the scan stage (interpreted higher-order transforms,
    decimal arithmetic, map-side partials) runs on the narrow task set
    too. Scale-adaptive by construction: the target is
    ``defaultParallelism`` (cores locally, cluster cores at scale — NOT a
    constant), and a production-sized input with ≥ that many row groups
    is returned untouched, so at 100 TB this is a no-op and the exchange
    only ever exists where the input layout was the bottleneck."""
    parallelism = spark.sparkContext.defaultParallelism
    if _scan_row_groups(path, parallelism) < parallelism:
        return df.repartition(parallelism)
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.ts has shipped as parquet TIMESTAMP(NANOS) in some rounds and
    timestamp[us] in others. Every decision is taken from the parquet
    footer's arrow schema (a driver-side pyarrow read, no Spark job), so
    the caller's session is read with and never changed:

    - TIMESTAMP(NANOS), or nanoseconds as a plain int64: Spark's reader
      rejects a nanos timestamp (PARQUET_TYPE_ILLEGAL) unless it reads it
      as a long, which it does under a user schema that declares ``ts``
      BIGINT. The BIGINT is floor-truncated to a microsecond timestamp
      (the same truncation DuckDB applies casting TIMESTAMP_NS to
      TIMESTAMP).
    - anything else is cast to TIMESTAMP. timestamp[us] without timezone
      reads as TIMESTAMP_NTZ; the session timezone is pinned UTC
      (session.py), so the cast is value-preserving and keeps every
      downstream `unix_micros`/tz expression valid. On a TIMESTAMP column
      the cast is a no-op that Catalyst removes.

    `ts_ns` keeps nanosecond resolution for deterministic orderings in the
    bigint branch; otherwise it is microsecond-derived (sub-microsecond
    digits zero) — still a strictly monotone ordering key for this data.
    ``ts`` keeps its place among the columns and ``ts_ns`` comes last.

    A table of fewer than 2 row groups is read by one task anyway, so the
    scan is returned as ``coalesce(1)``: ``CoalesceExec(1)`` reports
    ``SinglePartition``, which satisfies every distribution an aggregate,
    window, sort or join asks for, so no exchange is planned above it,
    while filters and column pruning still reach the scan. A table of ≥ 2
    row groups or data files (any file name ``_table_files`` lists), or a
    path ``_scan_row_groups`` cannot inspect (a URI or a missing path: it
    returns the threshold), is a plain scan and keeps its exchanges. The
    decision is made once per relation and cached with it like the file
    listing: no request pays a footer read, and a table rewritten with
    more row groups is seen only after ``invalidate_relation_cache``.
    """
    import pyarrow as pa
    import pyarrow.dataset as pa_ds
    import pyarrow.types as pa_types

    arrow_schema = pa_ds.dataset(path, format="parquet", partitioning="hive").schema
    ts_type = arrow_schema.field("ts").type
    if pa_types.is_int64(ts_type) or (pa_types.is_timestamp(ts_type) and ts_type.unit == "ns"):
        from pyspark.sql.pandas.types import from_arrow_schema

        as_long = arrow_schema.set(arrow_schema.get_field_index("ts"), pa.field("ts", pa.int64()))
        df = spark.read.schema(from_arrow_schema(as_long)).parquet(path)
        ts, ts_ns = "timestamp_micros(ts DIV 1000)", "ts"
    else:
        df = spark.read.parquet(path)
        ts, ts_ns = "CAST(ts AS TIMESTAMP)", "unix_micros(CAST(ts AS TIMESTAMP)) * 1000"
    if _scan_row_groups(path, 2) < 2:
        df = df.coalesce(1)
    return df.selectExpr(
        *(f"{ts} AS ts" if name == "ts" else ident(name) for name in arrow_schema.names),
        f"{ts_ns} AS ts_ns",
    )


def invalidate_relation_cache(spark: SparkSession, path: str) -> None:
    """Drop ``spark``'s cached relations under ``path`` so the next
    ``load_table`` re-lists and re-resolves them. CATALOG-LIKE STALENESS
    SEMANTICS: the relation cache pins each path's file listing and schema
    for the lifetime of the session, exactly as a catalog table would —
    data appended, overwritten or deleted at the same path mid-session is
    invisible (or raises on read) until invalidated. Call this after
    mutating a table's files in a long-lived session.

    ``path`` may name the table file/dir itself or the sf_dir the table was
    loaded from (both resolve by absolute path: the path itself and
    everything under it, never a sibling such as ``sf0.10`` for
    ``sf0.1``). Also refreshes Spark's own per-path file-index cache via
    ``catalog.refreshByPath`` so the re-read re-lists.
    """
    per_session = _RELATION_CACHE.get(spark, {})
    abs_path = os.path.abspath(path)
    under = os.path.join(abs_path, "")  # a sibling sharing the prefix is not under it
    for key in list(per_session):
        if key[0] == abs_path or key[0].startswith(under):
            del per_session[key]
    spark.catalog.refreshByPath(abs_path)
