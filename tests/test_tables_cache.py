"""The session-scoped relation cache in sources/tables.py must reuse the
*relation* (file listing + schema — an unexecuted plan), never rows: every
action still scans the parquet input, and the Spark cache manager stays
empty. Guards against both a regression (per-call re-listing returning,
which costs 0.1-0.5 s of driver time per query) and against the cache ever
turning into a result cache (which the bench rules forbid)."""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from thisishappening_spark.sources.tables import _RELATION_CACHE, load_table

from tests.executed_plans import final_plan


def test_load_table_reuses_relation_within_session(spark, sf_dir):
    a = load_table(spark, sf_dir, "documents")
    b = load_table(spark, sf_dir, "documents")
    assert a is b, "second load_table call must reuse the cached relation"


def test_load_table_keys_by_absolute_path(spark, sf_dir, tmp_path):
    other = str(tmp_path / "sfX")
    base = load_table(spark, sf_dir, "documents")
    base.limit(7).write.mode("overwrite").parquet(f"{other}/documents.parquet")
    alt = load_table(spark, other, "documents")
    assert alt is not base, "different sf_dir must resolve its own relation"
    assert alt.count() == 7

    # Re-point the same name at the same dir again: still the same relation.
    assert load_table(spark, sf_dir, "documents") is base


def test_relation_cache_holds_no_rows(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    df.collect()  # an action through the cached relation
    n_cached = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    assert n_cached == 0, f"{n_cached} cached plans leaked — relation cache must not persist rows"
    assert any(spark is s for s in _RELATION_CACHE), "cache should be keyed by this session"


def test_fan_out_redistributes_narrow_scan_same_rows(spark, sf_dir):
    """The test tables are single-row-group parquet (scan parallelism 1);
    fan_out must add a round-robin exchange sized to defaultParallelism and
    change nothing about the rows."""
    base = load_table(spark, sf_dir, "documents")
    fanned = load_table(spark, sf_dir, "documents", fan_out=True)
    assert fanned is not base
    n = spark.sparkContext.defaultParallelism
    plan = final_plan(fanned)
    assert f"Exchange RoundRobinPartitioning({n})," in plan, plan
    assert {tuple(r) for r in fanned.collect()} == {tuple(r) for r in base.collect()}
    # cached separately from the plain relation, and reused on re-call
    assert load_table(spark, sf_dir, "documents", fan_out=True) is fanned


def test_fan_out_is_noop_when_row_groups_cover_parallelism(spark, sf_dir, tmp_path):
    """A layout with >= defaultParallelism row groups must NOT be
    redistributed — the production (100 TB) case."""
    other = str(tmp_path / "sfRG")
    base = load_table(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    # many files => many row groups (>= one per file)
    base.repartition(n).write.mode("overwrite").parquet(f"{other}/documents.parquet")
    fanned = load_table(spark, other, "documents", fan_out=True)
    plan = final_plan(fanned)
    assert "RoundRobinPartitioning" not in plan, "wide layout must not be redistributed"


def test_scan_row_groups_short_circuits_on_file_count(tmp_path, monkeypatch):
    """A table with >= threshold parquet files must be classified 'wide'
    from the file count ALONE — zero footer reads: at 100 TB a fan-out
    table has thousands of files, and a per-file driver-side footer scan
    would itself be the scale hazard."""
    import pyarrow.parquet as pq

    from thisishappening_spark.sources.tables import _scan_row_groups

    d = tmp_path / "many.parquet"
    d.mkdir()
    for i in range(8):
        (d / f"part-{i}.parquet").write_bytes(b"not read")

    def boom(*a, **k):
        raise AssertionError("footer read attempted despite file-count short-circuit")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    assert _scan_row_groups(str(d), threshold=8) == 8
    assert _scan_row_groups(str(d), threshold=3) == 3


def test_scan_row_groups_counts_nested_layouts(spark, sf_dir, tmp_path):
    """A partitioned/nested layout (files under subdirectories) must be
    counted recursively: a top-level listing finds no file there, counts
    0 row groups and would fan out a production-shaped input."""
    from thisishappening_spark.sources.tables import _scan_row_groups

    base = load_table(spark, sf_dir, "documents")
    nested = tmp_path / "nested.parquet"
    base.limit(10).write.mode("overwrite").parquet(str(nested / "lang=en"))
    base.limit(10).write.mode("overwrite").parquet(str(nested / "lang=fr"))
    assert _scan_row_groups(str(nested), threshold=2) == 2


def test_table_files_match_spark_input_files(spark, tmp_path):
    """``_table_files`` lists the files Spark scans (``inputFiles()``) on a
    layout of hive directories, data files with and without a
    ``.parquet`` suffix, and writers' leftovers that are not parquet:
    ``_SUCCESS``, a ``.crc`` checksum, a ``_temporary/`` attempt and an
    ``_``-prefixed subdirectory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from thisishappening_spark.sources.tables import _table_files

    root = tmp_path / "layout.parquet"
    data = ("lang=en/000000_0", "lang=en/part-0.parquet", "lang=de/000001_0", "lang=de/part-1.parquet")
    leftovers = ("_SUCCESS", "lang=en/.part-0.parquet.crc", "_temporary/0/part-9.parquet", "lang=de/_delta/x.parquet")
    for rel in data + leftovers:
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
    for rel in data:
        pq.write_table(pa.table({"n": [1, 2]}), str(root / rel))
    for rel in leftovers:
        (root / rel).write_bytes(b"not parquet")

    scanned = sorted(unquote(urlparse(f).path) for f in spark.read.parquet(str(root)).inputFiles())
    assert scanned == sorted(str(root / rel) for rel in data)
    assert sorted(_table_files(str(root))) == scanned


def test_scan_row_groups_noops_on_non_posix_paths():
    """Object-store URIs are not listed locally: treat them as
    wide (no fan-out) instead of crashing or misfiring."""
    from thisishappening_spark.sources.tables import _scan_row_groups

    assert _scan_row_groups("s3://bucket/table.parquet", threshold=32) == 32
    assert _scan_row_groups("/no/such/path.parquet", threshold=32) == 32


def test_invalidate_relation_cache_picks_up_rewritten_data(spark, sf_dir, tmp_path):
    """The cache pins the file listing per path (catalog-like staleness);
    invalidate_relation_cache must make the next load re-list."""
    from thisishappening_spark.sources.tables import invalidate_relation_cache

    other = str(tmp_path / "sfMut")
    base = load_table(spark, sf_dir, "documents")
    base.limit(3).write.mode("overwrite").parquet(f"{other}/documents.parquet")
    first = load_table(spark, other, "documents")
    assert first.count() == 3

    base.limit(5).write.mode("overwrite").parquet(f"{other}/documents.parquet")
    invalidate_relation_cache(spark, other)
    fresh = load_table(spark, other, "documents")
    assert fresh is not first, "invalidate must drop the pinned relation"
    assert fresh.count() == 5


def test_invalidate_relation_cache_keeps_sibling_sharing_the_prefix(spark, sf_dir, tmp_path):
    """Invalidating sf0.1 drops what was loaded from it, never the relations
    of a sibling directory whose name extends it (sf0.10)."""
    from thisishappening_spark.sources.tables import invalidate_relation_cache

    base = load_table(spark, sf_dir, "documents")
    for d in ("sf0.1", "sf0.10"):
        base.limit(3).write.mode("overwrite").parquet(str(tmp_path / d / "documents.parquet"))
    target = load_table(spark, str(tmp_path / "sf0.1"), "documents")
    sibling = load_table(spark, str(tmp_path / "sf0.10"), "documents")

    invalidate_relation_cache(spark, str(tmp_path / "sf0.1"))
    assert load_table(spark, str(tmp_path / "sf0.1"), "documents") is not target
    assert load_table(spark, str(tmp_path / "sf0.10"), "documents") is sibling, (
        "invalidating sf0.1 dropped the cached sf0.10 relation"
    )


def test_invalidate_relation_cache_keeps_directory_named_with_separator(spark, sf_dir, tmp_path):
    """A directory whose name extends the invalidated one by ``::`` (sf and
    sf::x) is a sibling, not the same table: its relation stays cached."""
    from thisishappening_spark.sources.tables import invalidate_relation_cache

    base = load_table(spark, sf_dir, "documents")
    for d in ("sf", "sf::x"):
        base.limit(3).write.mode("overwrite").parquet(str(tmp_path / d / "documents.parquet"))
    target = load_table(spark, str(tmp_path / "sf"), "documents")
    sibling = load_table(spark, str(tmp_path / "sf::x"), "documents")

    invalidate_relation_cache(spark, str(tmp_path / "sf"))
    assert load_table(spark, str(tmp_path / "sf"), "documents") is not target
    assert load_table(spark, str(tmp_path / "sf::x"), "documents") is sibling, (
        "invalidating sf dropped the cached sf::x relation"
    )
