"""Physical-plan assertions, each on the executed (final AQE) plan: no
global sort on the unordered recent_tweets path and the O1 sort kept on
the ordered one, no nested-loop join in the sliding-window count, no
shuffle after a one-row-group events scan, the exchanges kept when events
has more row groups, token ids taken in the row with no dictionary join,
and the status projection folded into a local scan that runs no job."""

from __future__ import annotations

import datetime as dt
import os
import re

import pyarrow.parquet as pq
import pytest

from thisishappening_spark.functions.geo import BoundingBox
from thisishappening_spark.operators.dedup import doc_shingles, ranked_dictionary
from thisishappening_spark.plans.recent_tweets import recent_tweets
from thisishappening_spark.sources.tables import _scan_row_groups, load_table
from thisishappening_spark.sources.tweets_view import load_tweets

from tests.executed_plans import final_plan, reused_bucket_exchanges
from tests.oracle import compare

BBOX = BoundingBox(west=-71.15, south=42.25, east=-70.95, north=42.45)


def _final_plan(spark, sf_dir, name: str) -> str:
    """The final AQE plan of a registry query, after running it."""
    from thisishappening_spark.queries import REGISTRY

    return final_plan(REGISTRY[name].fn(spark, sf_dir))


def test_recent_tweets_unordered_has_no_sort(spark, sf_dir):
    tw = load_tweets(spark, sf_dir)
    df = recent_tweets(
        tw,
        timestamp=dt.datetime(2024, 1, 10, 12),
        hours=48,
        bounding_box=BBOX,
    )
    assert "Sort" not in final_plan(df)


def test_recent_tweets_ordered_keeps_o1_sort(spark, sf_dir):
    assert "Sort" in _final_plan(spark, sf_dir, "q_recent_tweets_stack")


def test_sliding_window_counts_no_nested_loop(spark, sf_dir):
    assert "NestedLoop" not in _final_plan(spark, sf_dir, "q_sliding_window_counts")


def test_sliding_window_counts_scans_events_once(spark, sf_dir):
    """Anchors and counts come from one scan of events: no second scan for
    the distinct anchors and no join to put them back together."""
    plan = _final_plan(spark, sf_dir, "q_sliding_window_counts")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_ann_dedup_keys_on_ids_not_vectors(spark, sf_dir):
    """The candidate dedup groups on (query_id, vid): no 64-double vector
    is normalized per collision row as a grouping key."""
    plan = _final_plan(spark, sf_dir, "q_ann_lsh_topk")
    assert "knownfloatingpointnormalized" not in plan, plan


def test_status_projection_is_folded_into_a_local_scan(spark, sf_dir):
    """Catalyst evaluates the VALUES relation and the ``from_json``
    projection above it while planning: the executed plan is one
    ``LocalTableScan``, and ``collect()`` returns its rows without a job."""
    from thisishappening_spark.queries import REGISTRY
    from thisishappening_spark.queries.tweets import RAW_STATUSES

    df = REGISTRY["q_status_projection"].fn(spark, sf_dir)
    plan = final_plan(df)
    assert plan.startswith("LocalTableScan") and "\n" not in plan.strip(), plan
    sc = spark.sparkContext
    group = "test-status-projection-jobs"
    sc.setJobGroup(group, "q_status_projection collect")
    try:
        assert len(df.collect()) == len(RAW_STATUSES)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _tokens(docs):
    return docs.selectExpr("explode(split(text, ' ')) AS k")


# The keys each query ranked before its ids became md5 hashes.
DICTIONARY_KEYS = {
    "q_simhash": _tokens,
    "q_minhash_lsh_pairs": lambda docs: doc_shingles(docs).selectExpr("shingle AS k"),
    "q_doc_fingerprint": _tokens,
}


@pytest.mark.parametrize("name", sorted(DICTIONARY_KEYS))
def test_dictionary_rank_reuses_bucket_exchange(spark, sf_dir, name):
    """``ranked_dictionary`` over the token or shingle keys ``name`` once
    ranked: the bucket offsets come from the same bucket exchange as the
    per-bucket rank, and the final plan reads it back as a ReusedExchange
    instead of scanning and splitting the corpus a second time."""
    keys = DICTIONARY_KEYS[name](load_table(spark, sf_dir, "documents"))
    plan = final_plan(ranked_dictionary(keys, "k", "kid"))
    assert reused_bucket_exchanges(plan) == 1, plan


@pytest.mark.parametrize("name", ["q_simhash", "q_minhash_lsh_pairs", "q_doc_fingerprint"])
def test_token_ids_are_row_local(spark, sf_dir, name):
    """Token and shingle ids are hashes taken in the row: one documents
    scan, no dictionary join and no window; the fingerprint, which needs
    no aggregate either, has no exchange at all."""
    plan = _final_plan(spark, sf_dir, name)
    scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
    assert len(scans) == 1 and "documents.parquet" in scans[0], plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    if name == "q_doc_fingerprint":
        assert "Exchange" not in plan, plan


def _shuffles(plan: str) -> list[str]:
    """Plan lines that shuffle: an ``Exchange`` (also read back through a
    ``ReusedExchange``), a ``ShuffleQueryStage`` or an ``AQEShuffleRead``.
    A ``BroadcastExchange`` is not a shuffle."""
    return [
        line
        for line in plan.splitlines()
        if re.search(r"\bExchange |ShuffleQueryStage|AQEShuffleRead", line)
    ]


def test_one_row_group_events_queries_run_without_shuffle(spark, sf_dir):
    """events is one row group, so its scan is one task and ``load_table``
    plans it as one partition: no aggregate, window, sort or join above it
    asks for an exchange. The queries come from their optimized plans'
    input files, not from a list."""
    from thisishappening_spark.queries import REGISTRY

    events = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    assert _scan_row_groups(events, 2) == 1, "test data must be one row group"
    shuffled, n_events = {}, 0
    for name, spec in sorted(REGISTRY.items()):
        df = spec.fn(spark, sf_dir)
        if not any(f.endswith("/events.parquet") for f in df.inputFiles()):
            continue
        n_events += 1
        lines = _shuffles(final_plan(df))
        if lines:
            shuffled[name] = lines
    assert n_events > 0
    assert not shuffled, shuffled


SCALE_PATH_QUERIES = [
    "q_weighted_activity",
    "q_decay_weights",
    "q_window_lag_value_delta",
    "q_sliding_window_counts",
    "q_retention_cutoff",
    "q_mode_event_type_per_user",
]


def _assert_plain_scale_scan(spark, sf_dir):
    """``sf_dir``'s events table is loaded as a plain scan: no
    ``Coalesce``, ``q_weighted_activity`` keeps its hash exchange, and
    every ``SCALE_PATH_QUERIES`` query matches its oracle."""
    assert "Coalesce" not in final_plan(load_table(spark, sf_dir, "events"))
    assert "Exchange hashpartitioning" in _final_plan(spark, sf_dir, "q_weighted_activity")
    for name in SCALE_PATH_QUERIES:
        compare(spark, sf_dir, name)


def test_multi_row_group_events_keep_their_exchanges(spark, sf_dir, tmp_path):
    """An events table of several row groups (a table at scale) is loaded
    as a plain scan: no ``Coalesce``, the hash exchanges stay, and the
    window and aggregate queries still match their oracles."""
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    other = str(tmp_path / "sfRG")
    os.makedirs(other)
    pq.write_table(
        table, os.path.join(other, "events.parquet"), row_group_size=-(-table.num_rows // 4)
    )
    assert pq.ParquetFile(os.path.join(other, "events.parquet")).num_row_groups >= 2
    _assert_plain_scale_scan(spark, other)


def test_suffix_less_events_files_keep_their_exchanges(spark, sf_dir, tmp_path):
    """events as 4 data files named without a ``.parquet`` suffix (as Hive
    names them) beside a ``_SUCCESS`` marker: the row-group gate counts
    the files Spark scans, so the table is a plain scan that keeps its
    exchanges, and the oracles read the same 4 files."""
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    other = tmp_path / "sfNoSuffix"
    events = other / "events.parquet"
    events.mkdir(parents=True)
    step = -(-table.num_rows // 4)
    for i in range(4):
        pq.write_table(table.slice(i * step, step), str(events / f"00000{i}_0"))
    (events / "_SUCCESS").write_bytes(b"")

    assert _scan_row_groups(str(events), 2) == 2
    _assert_plain_scale_scan(spark, str(other))
