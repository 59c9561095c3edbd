"""Deterministic `tweets` view derived from the driver's `events` table.

The reference's fact table is `recent_tweets` (reference data_base.py:
218-236: status/user ids, created_at, deleted_at, body, language, three
nullable booleans, coords + has_coords, place fields). The driver's test
data has no such table, so the admission filter (P1-P14) and the
recent-tweets query layer (Q1-Q12) are exercised over a view that derives
every column of that schema from `events` with *pure arithmetic on integer
columns* — expressible identically in Spark SQL and DuckDB SQL, so the
DuckDB oracle can state the exact same predicate stack.

Both engines evaluate the SAME expression strings (Spark via selectExpr,
DuckDB via a CTE), and every expression is integer-modulo driven (the two
double columns are `int * literal` — IEEE-exact in both engines), so the
view is bit-identical across engines.

Column coverage vs reference schema: all 17 persisted columns plus
friends/followers counts and a quoted-text column used only by the
admission predicates (the reference reads them from the raw status,
tweet_utils.py:287-289, :217-219).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from thisishappening_spark.sources.tables import load_table

# (name, expression) pairs in the shared Spark-SQL/DuckDB dialect.
# NULLs, three-valued booleans, and blocklist-matching values all occur at
# controlled rates so every predicate has rows on both sides at sf0.01.
TWEET_DERIVATION: list[tuple[str, str]] = [
    ("id", "event_id"),
    ("status_id_str", "CAST(event_id AS STRING)"),
    ("user_id_str", "CAST(user_id AS STRING)"),
    ("user_screen_name", "CONCAT('user_', CAST(user_id AS STRING))"),
    # CAST(ts AS TIMESTAMP): no-op in Spark (ts is already µs), ns→µs
    # truncation in DuckDB — both engines see identical microsecond values,
    # so boundary predicates and ORDER BY created_at tie-breaks agree even
    # when two rows share a microsecond but differ in nanoseconds.
    ("created_at", "CAST(ts AS TIMESTAMP)"),
    ("deleted_at", "CASE WHEN event_id % 11 = 0 THEN CAST(ts AS TIMESTAMP) ELSE NULL END"),
    ("tweet_body", "CASE WHEN event_id % 13 = 0 THEN '' ELSE CONCAT(event_type, ' happening now ', CAST(event_id % 50 AS STRING)) END"),
    ("tweet_language", "CASE WHEN user_id % 4 = 0 THEN 'en' WHEN user_id % 4 = 1 THEN 'ja' WHEN user_id % 4 = 2 THEN 'und' ELSE NULL END"),
    ("quoted_text", "CASE WHEN event_id % 3 = 1 THEN CONCAT('quoted ', event_type) ELSE '' END"),
    ("is_quote_status", "CASE WHEN event_id % 3 = 0 THEN NULL WHEN event_id % 3 = 1 THEN TRUE ELSE FALSE END"),
    ("is_reply_status", "CASE WHEN event_id % 5 = 0 THEN NULL WHEN event_id % 5 < 3 THEN FALSE ELSE TRUE END"),
    ("possibly_sensitive", "event_id % 7 = 0"),
    ("has_coords", "event_id % 10 <> 0"),
    # CAST to DOUBLE: bare decimal literals type as DECIMAL in both Spark
    # and DuckDB, whose decimal-arithmetic scale rules differ; double math
    # is IEEE-identical in both engines.
    ("longitude", "CAST(-71.2 AS DOUBLE) + (event_id % 400) * CAST(0.001 AS DOUBLE)"),
    ("latitude", "CAST(42.2 AS DOUBLE) + (user_id % 300) * CAST(0.001 AS DOUBLE)"),
    ("place_id", "CONCAT('pl_', CAST(user_id % 20 AS STRING))"),
    ("place_name", "CONCAT('place_', CAST(user_id % 20 AS STRING))"),
    ("place_type", "CASE event_type WHEN 'click' THEN 'poi' WHEN 'view' THEN 'neighborhood' WHEN 'purchase' THEN 'city' WHEN 'signup' THEN 'admin' ELSE NULL END"),
    ("friends_count", "event_id % 100"),
    ("followers_count", "user_id % 1000"),
]

TWEETS_VIEW_SQL = "SELECT " + ", ".join(
    f"{expr} AS {name}" for name, expr in TWEET_DERIVATION
) + " FROM events"


def tweets_cte(body_sql: str) -> str:
    """Wrap an oracle query body with the shared tweets-view CTE."""
    return f"WITH tweets AS ({TWEETS_VIEW_SQL})\n{body_sql}"


def load_tweets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tweets view as a DataFrame — same expressions via selectExpr.

    Pushdown note: predicates on derived columns evaluate post-scan —
    Catalyst cannot invert e.g. `-71.2 + (event_id % 400) * 0.001 >= west`
    into an `event_id` scan predicate. Nothing stores the derived columns,
    so a filter on one reads every row of the (column-pruned) events
    scan; only filters on `events`' own columns reach the parquet
    reader."""
    ev = load_table(spark, sf_dir, "events")
    return ev.selectExpr(*[f"{expr} AS {name}" for name, expr in TWEET_DERIVATION])
