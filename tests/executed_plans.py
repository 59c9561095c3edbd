"""Plan text for shape assertions, taken from what Spark executed. Every
plan-shape test reads its plan through :func:`final_plan`: AQE re-plans a
query while it runs (stage by stage, reusing exchanges and coalescing
partitions as it goes), so only the plan after execution shows what ran."""

from __future__ import annotations

import re


def final_plan(df) -> str:
    """Run ``df``, then return the final section of its AQE plan (the plan
    that actually executed, not the pre-execution one). A plan Spark did
    not make adaptive (no exchange and no required distribution, such as a
    scan under a ``TakeOrderedAndProject``) ran as it is and is returned
    whole."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "AdaptiveSparkPlan" not in plan:
        return plan
    assert "isFinalPlan=true" in plan, plan
    return plan.split("== Initial Plan ==")[0]


def reused_bucket_exchanges(plan: str) -> int:
    """How often ``plan`` reads the dictionary-rank bucket exchange (the
    exchange on the partition key of a ``row_number`` window) again
    through a ``ReusedExchange`` instead of recomputing it."""
    buckets = set(re.findall(r"row_number\(\) windowspecdefinition\(([\w#]+),", plan))
    exchanges = re.findall(
        r"\+- Exchange hashpartitioning\(([\w#]+), \d+\), \w+, \[plan_id=(\d+)\]", plan
    )
    bucket_ids = {pid for key, pid in exchanges if key in buckets}
    reused = re.findall(r"ReusedExchange \[[^\]]*\], Exchange [^\n]*\[plan_id=(\d+)\]", plan)
    return sum(pid in bucket_ids for pid in reused)
