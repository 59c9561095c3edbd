"""Physical-plan assertions: the shapes VERDICT flagged as perf-weak must
stay fixed (no global sort on the unordered recent_tweets path, no
nested-loop join in the sliding-window count), plus shapes checked on the
executed (final AQE) plan of registry queries."""

from __future__ import annotations

import datetime as dt

from thisishappening_spark.functions.geo import BoundingBox
from thisishappening_spark.plans.recent_tweets import recent_tweets
from thisishappening_spark.sources.tweets_view import load_tweets

BBOX = BoundingBox(west=-71.15, south=42.25, east=-70.95, north=42.45)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(spark, sf_dir, name: str) -> str:
    """Run a registry query, then return the final section of its AQE plan
    (the plan that actually executed, not the pre-execution one)."""
    from thisishappening_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    return plan.split("== Initial Plan ==")[0]


def test_recent_tweets_unordered_has_no_sort(spark, sf_dir):
    tw = load_tweets(spark, sf_dir)
    df = recent_tweets(
        tw,
        timestamp=dt.datetime(2024, 1, 10, 12),
        hours=48,
        bounding_box=BBOX,
        ordered=False,
    )
    assert "Sort" not in _plan(df)


def test_recent_tweets_ordered_keeps_o1_sort(spark, sf_dir):
    tw = load_tweets(spark, sf_dir)
    df = recent_tweets(tw, timestamp=dt.datetime(2024, 1, 10, 12), hours=48)
    assert "Sort" in _plan(df)


def test_sliding_window_counts_no_nested_loop(spark, sf_dir):
    from thisishappening_spark.queries import REGISTRY

    df = REGISTRY["q_sliding_window_counts"].fn(spark, sf_dir)
    assert "NestedLoop" not in _plan(df)


def test_ann_dedup_keys_on_ids_not_vectors(spark, sf_dir):
    """The candidate dedup groups on (query_id, vid): no 64-double vector
    is normalized per collision row as a grouping key."""
    plan = _final_plan(spark, sf_dir, "q_ann_lsh_topk")
    assert "knownfloatingpointnormalized" not in plan, plan


def test_q01_fans_out_narrow_lineitem_scan(spark, sf_dir):
    """lineitem is one parquet row group at the test SF, fewer than the
    session's cores, so q01 round-robins the scan before aggregating."""
    plan = _final_plan(spark, sf_dir, "q01_pricing_summary")
    assert "RoundRobinPartitioning" in plan, plan
