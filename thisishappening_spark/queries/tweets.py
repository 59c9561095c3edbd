"""Tweet-domain correctness queries: admission filter (P1-P14), the
recent-tweets predicate stack (Q1-Q8), activity weighting (W1-W3), and the
S4 ingest projection — each oracle-backed over the shared tweets view
(sources/tweets_view.py) or literal raw-status JSON.

See registry.py for the cross-engine determinism rules.
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thisishappening_spark.functions.geo import BoundingBox, inbounds_half_open
from thisishappening_spark.registry import qsum, query
from thisishappening_spark.sources.tweets_view import load_tweets, tweets_cte

BBOX = BoundingBox(west=-71.15, south=42.25, east=-70.95, north=42.45)
ANCHOR = dt.datetime(2024, 1, 10, 12, 0, 0)


# ---------------------------------------------------------------------------
# P1-P14 admission filter
# ---------------------------------------------------------------------------


@query(
    "q_admission_filter",
    tweets_cte("""
    SELECT place_type, COUNT(*) AS n_admitted
    FROM tweets
    WHERE tweet_body <> ''
      AND longitude >= -71.15 AND longitude <= -70.95
      AND latitude >= 42.25 AND latitude <= 42.45
      AND NOT regexp_matches(tweet_body, '(?i)(\\berror\\b)')
      AND NOT regexp_matches(quoted_text, '(?i)(\\berror\\b)')
      AND (has_coords OR place_type IN ('admin', 'city', 'neighborhood', 'poi'))
      AND NOT regexp_matches(user_screen_name, '(?i)(user_13$|user_77$)')
      AND user_id_str NOT IN ('7', '42')
      AND (longitude <> -71.05 OR latitude <> 42.35)
      AND NOT coalesce(possibly_sensitive, FALSE)
      AND NOT coalesce(is_quote_status, FALSE)
      AND NOT coalesce(is_reply_status, FALSE)
      AND friends_count >= 5
      AND followers_count >= 10
    GROUP BY place_type
    """),
)
def q_admission_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P14: the full 13-predicate check_tweet conjunction (reference
    tweet_utils.py:181-311) as one pushdown-friendly filter, counted per
    place type. Every predicate is exercised: bbox (P1), ignore-words on
    body+quote (P3/P4), location validity (P5), screen-name/user-id/coords
    blocklists (P6/P7/P8), the three flag exclusions (P9/P10/P11),
    friends/followers minimums (P12/P13), and the empty-body reject (P14).
    P2 (place-polygon bbox) has no ring column in this view; covered by
    tests/test_admission.py with literal polygons."""
    from thisishappening_spark.operators.admission import AdmissionConfig, admit

    cfg = AdmissionConfig(
        bounding_box=BBOX,
        ignore_words=(r"\berror\b",),
        ignore_user_screen_names=("user_13$", "user_77$"),
        ignore_user_id_str=("7", "42"),
        ignore_lon_lat=((-71.05, 42.35),),
        ignore_possibly_sensitive=True,
        ignore_quote_status=True,
        ignore_reply_status=True,
        min_friends_count=5,
        min_followers_count=10,
    )
    tw = load_tweets(spark, sf_dir)
    return admit(tw, cfg).groupBy("place_type").agg(F.expr("count(1) AS n_admitted"))


# ---------------------------------------------------------------------------
# Q1-Q8 recent-tweets query layer
# ---------------------------------------------------------------------------


@query(
    "q_recent_tweets_stack",
    tweets_cte("""
    SELECT id, status_id_str, place_type, has_coords,
           CAST(created_at AS TIMESTAMP) AS created_at
    FROM tweets
    WHERE created_at >= TIMESTAMP '2024-01-08 12:00:00'
      AND created_at <= TIMESTAMP '2024-01-10 12:00:00'
      AND longitude >= -71.15 AND longitude < -70.95
      AND latitude >= 42.25 AND latitude < 42.45
      AND (place_type IN ('poi', 'neighborhood') OR has_coords = TRUE)
      AND is_quote_status IS NOT TRUE
      AND is_reply_status IS NOT TRUE
      AND deleted_at IS NULL
    """),
)
def q_recent_tweets_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-Q6: the full get_recent_tweets predicate stack (reference
    data_base.py:307-382): closed sliding time window, HALF-OPEN bbox
    (deliberately different from P1), place-type-OR-coords disjunction,
    IS-NOT-TRUE quote/reply exclusions (NULLs kept), deleted IS NULL, in
    the reference's newest-first order (O1)."""
    from thisishappening_spark.plans.recent_tweets import recent_tweets

    tw = load_tweets(spark, sf_dir)
    return recent_tweets(
        tw,
        timestamp=ANCHOR,
        hours=48,
        bounding_box=BBOX,
        place_type=["poi", "neighborhood"],
        has_coords=True,
        include_quote_status=False,
        include_reply_status=False,
    ).orderBy(F.desc("created_at")).select(
        "id", "status_id_str", "place_type", "has_coords", "created_at"
    )


@query(
    "q_count_tweets_windows",
    tweets_cte("""
    SELECT CAST(COUNT(CASE WHEN created_at >= TIMESTAMP '2024-01-10 11:00:00'
                            AND created_at <= TIMESTAMP '2024-01-10 12:00:00'
                           THEN status_id_str END) AS BIGINT) AS n_curr_hour,
           CAST(COUNT(CASE WHEN created_at >= TIMESTAMP '2024-01-10 10:00:00'
                            AND created_at <= TIMESTAMP '2024-01-10 11:00:00'
                           THEN status_id_str END) AS BIGINT) AS n_prev_hour,
           CAST(COUNT(CASE WHEN created_at >= TIMESTAMP '2024-01-09 12:00:00'
                            AND created_at <= TIMESTAMP '2024-01-10 12:00:00'
                           THEN status_id_str END) AS BIGINT) AS n_curr_day,
           CAST(COUNT(CASE WHEN created_at >= TIMESTAMP '2024-01-08 12:00:00'
                            AND created_at <= TIMESTAMP '2024-01-09 12:00:00'
                           THEN status_id_str END) AS BIGINT) AS n_prev_day
    FROM tweets
    WHERE created_at >= TIMESTAMP '2024-01-08 12:00:00'
      AND created_at <= TIMESTAMP '2024-01-10 12:00:00'
      AND longitude >= -71.15 AND longitude < -70.95
      AND latitude >= 42.25 AND latitude < 42.45
    """),
)
def q_count_tweets_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/Q1/J3: the reference's 4-window count pattern (app.py:401-447 —
    current/previous hour, current/previous day, each a count_tweets call,
    data_base.py:276-305) computed as ONE scan with conditional
    aggregation instead of four scans.

    Scale notes: this is the §4.1 caching fix — the reference re-scans
    overlapping ranges 4× per trigger; one pass with per-window CASE
    counts reads each row exactly once and needs no shuffle beyond a
    single-row reduce."""
    tw = load_tweets(spark, sf_dir)

    # The strings mirror the oracle SQL above, with the Q2 half-open bbox
    # of recent_tweets.
    def win(start: str, end: str) -> str:
        return (
            f"count(CASE WHEN created_at >= TIMESTAMP '{start}' "
            f"AND created_at <= TIMESTAMP '{end}' THEN status_id_str END)"
        )

    return tw.filter(
        "created_at >= TIMESTAMP '2024-01-08 12:00:00' "
        "AND created_at <= TIMESTAMP '2024-01-10 12:00:00' "
        f"AND {inbounds_half_open('longitude', 'latitude', BBOX)}"
    ).agg(
        F.expr(win("2024-01-10 11:00:00", "2024-01-10 12:00:00") + " AS n_curr_hour"),
        F.expr(win("2024-01-10 10:00:00", "2024-01-10 11:00:00") + " AS n_prev_hour"),
        F.expr(win("2024-01-09 12:00:00", "2024-01-10 12:00:00") + " AS n_curr_day"),
        F.expr(win("2024-01-08 12:00:00", "2024-01-09 12:00:00") + " AS n_prev_day"),
    )


@query(
    "q_place_type_and_coords",
    tweets_cte("""
    SELECT place_type, COUNT(*) AS n
    FROM tweets
    WHERE created_at >= TIMESTAMP '2024-01-05 00:00:00'
      AND created_at <= TIMESTAMP '2024-01-15 00:00:00'
      AND place_type IN ('city', 'admin')
      AND has_coords = TRUE
      AND deleted_at IS NULL
    GROUP BY place_type
    """),
)
def q_place_type_and_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 else-branch: place_type and has_coords applied INDEPENDENTLY
    (ANDed) when place_type_or_coords=False (reference data_base.py:
    361-368)."""
    from thisishappening_spark.plans.recent_tweets import recent_tweets

    tw = load_tweets(spark, sf_dir)
    return (
        recent_tweets(
            tw,
            timestamp=dt.datetime(2024, 1, 15),
            hours=240,
            place_type=["city", "admin"],
            has_coords=True,
            place_type_or_coords=False,
        )
        .groupBy("place_type")
        .agg(F.expr("count(1) AS n"))
    )


@query(
    "q_in_or_null_place_type",
    tweets_cte("""
    SELECT tweet_language, COUNT(*) AS n
    FROM tweets
    WHERE place_type IN ('poi', 'city') OR place_type IS NULL
    GROUP BY tweet_language
    """),
)
def q_in_or_null_place_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: IN-list-or-NULL disjunction (reference data_base.py:108-115),
    grouped by a nullable key."""
    tw = load_tweets(spark, sf_dir)
    return (
        tw.filter("place_type IN ('poi', 'city') OR place_type IS NULL")
        .groupBy("tweet_language")
        .agg(F.expr("count(1) AS n"))
    )


@query(
    "q_pk_lookup",
    tweets_cte("""
    SELECT id, status_id_str, user_screen_name, place_name,
           CAST(created_at AS TIMESTAMP) AS created_at
    FROM tweets WHERE id = 4242
    """),
)
def q_pk_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 point lookup (reference data_base.py:134-139). At scale this is
    a parquet min/max-pruned scan — only row groups whose id range covers
    the key are read."""
    tw = load_tweets(spark, sf_dir)
    return tw.filter("id = 4242").select(
        "id", "status_id_str", "user_screen_name", "place_name", "created_at"
    )


# ---------------------------------------------------------------------------
# W1-W3 composed activity weighting
# ---------------------------------------------------------------------------


@query(
    "q_weighted_activity",
    tweets_cte("""
    SELECT place_type,
           ROUND(CAST(SUM(CAST(weight AS DECIMAL(28,15))) AS DOUBLE), 6) AS total_weight,
           COUNT(*) AS n
    FROM (
        SELECT place_type,
               (CASE WHEN printf('%.5f', longitude) = '-71.10000'
                      AND printf('%.5f', latitude) = '42.35000'
                     THEN 1.0 / EXP(2.0) ELSE 1.0 END)
               * (CASE WHEN NOT has_coords THEN 1.0 / EXP(1.0) ELSE 1.0 END)
               * (1.0 / EXP((ROW_NUMBER() OVER (PARTITION BY user_id_str
                                                ORDER BY created_at, id) - 1) * 0.5))
                   AS weight
        FROM tweets
    ) w
    GROUP BY place_type
    """),
)
def q_weighted_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1·W2·W3 composed (reference data_utils.py:91-145): blocklisted
    "%.5f"-coords down-weight, no-coords down-weight, per-user exponential
    recency decay — all multiplicative on an initial 1.0, summed per place
    type with per-term integer quantization (order-independent)."""
    from thisishappening_spark.functions.weights import with_activity_weight

    tw = load_tweets(spark, sf_dir)
    weighted = with_activity_weight(
        tw,
        weight_factor_user=0.5,
        reduce_weight_lon_lat=[("-71.10000", "42.35000")],
        weight_factor_lon_lat=2.0,
        weight_factor_no_coords=1.0,
        user_col="user_id_str",
        time_col="created_at",
        order_cols=("id",),
    )
    return weighted.groupBy("place_type").agg(
        F.expr(f"{qsum('weight')} AS total_weight"),
        F.expr("count(1) AS n"),
    )


# ---------------------------------------------------------------------------
# S4/F1/F2 ingest projection over literal raw statuses
# ---------------------------------------------------------------------------

RAW_STATUSES: list[str] = [
    json.dumps(s, separators=(",", ":"))
    for s in [
        {
            "id_str": "1001",
            "created_at": "Tue Apr 15 16:12:34 +0000 2019",
            "text": "short text",
            "extended_tweet": {"full_text": "the full extended text"},
            "lang": "en",
            "is_quote_status": False,
            "in_reply_to_status_id_str": None,
            "possibly_sensitive": True,
            "user": {
                "screen_name": "alice",
                "id_str": "11",
                "friends_count": 50,
                "followers_count": 200,
            },
            "coordinates": {"type": "Point", "coordinates": [-71.05, 42.35]},
            "place": {
                "id": "p1",
                "name": "Fenway Park",
                "full_name": "Fenway Park, Boston",
                "country": "United States",
                "country_code": "US",
                "place_type": "poi",
            },
        },
        {
            "id_str": "1002",
            "created_at": "Wed Apr 16 01:02:03 +0000 2019",
            "full_text": "a full_text only status",
            "lang": "ja",
            "is_quote_status": True,
            "in_reply_to_status_id_str": "999",
            "user": {
                "screen_name": "bob",
                "id_str": "22",
                "friends_count": 1,
                "followers_count": 0,
            },
            "coordinates": None,
            "place": {
                "id": "p2",
                "name": "Boston",
                "full_name": "Boston, MA",
                "country": "United States",
                "country_code": "US",
                "place_type": "city",
            },
        },
        {
            "id_str": "1003",
            "created_at": "Thu Apr 17 23:59:59 +0000 2019",
            "text": "plain text status",
            "lang": "und",
            "user": {
                "screen_name": "carol",
                "id_str": "33",
                "friends_count": 10,
                "followers_count": 5,
            },
            "coordinates": None,
            "place": None,
        },
    ]
]


def values_sql(statuses: list[str]) -> str:
    """The statuses as a SQL VALUES list of single-quoted literals, each
    ``'`` doubled: Spark and DuckDB both read ``''`` as one quote. Spark
    reads backslash escapes in a literal and DuckDB does not, so each
    ``\\`` leaves the literal as ``chr(92)``, which both engines concatenate
    alike (``||``) and fold into the VALUES row."""
    return ", ".join(
        "('" + s.replace("'", "''").replace("\\", "' || chr(92) || '") + "')"
        for s in statuses
    )


# The point and the first place-polygon ring of a raw status, in DuckDB.
_POINT = "CAST(json_extract(raw, '$.coordinates.coordinates') AS DOUBLE[])"
_RING = "CAST(json_extract(raw, '$.place.bounding_box.coordinates[0]') AS DOUBLE[][])"


def _lon_lat_sql(i: int) -> str:
    """DuckDB form of F3 (``ingest.lon_lat``) for coordinate ``i``: the
    point's, else the ring's mean as the same left fold as
    ``geo.polygon_ring_centroid``, so both engines return the same bits;
    NaN for an empty ring, whose ``list_reduce`` this CASE never runs."""
    return (
        f"CASE WHEN {_POINT} IS NOT NULL THEN {_POINT}[{i + 1}] "
        f"WHEN len({_RING}) = 0 THEN 'NaN'::DOUBLE "
        f"WHEN {_RING} IS NOT NULL THEN list_reduce(list_transform({_RING}, "
        f"v -> v[{i + 1}]), (a, y) -> a + y) / len({_RING}) END"
    )


# q_status_projection's DuckDB oracle over the VALUES list ``{values}``.
STATUS_PROJECTION_SQL = f"""
    SELECT json_extract_string(raw, '$.id_str') AS status_id_str,
           json_extract_string(raw, '$.user.screen_name') AS user_screen_name,
           json_extract_string(raw, '$.user.id_str') AS user_id_str,
           strptime(replace(json_extract_string(raw, '$.created_at'), ' +0000', ''),
                    '%a %b %d %H:%M:%S %Y') AS created_at,
           CAST(NULL AS TIMESTAMP) AS deleted_at,
           coalesce(json_extract_string(raw, '$.extended_tweet.full_text'),
                    json_extract_string(raw, '$.full_text'),
                    json_extract_string(raw, '$.text'), '') AS tweet_body,
           json_extract_string(raw, '$.lang') AS tweet_language,
           CAST(json_extract(raw, '$.is_quote_status') AS BOOLEAN) AS is_quote_status,
           json_extract_string(raw, '$.in_reply_to_status_id_str') IS NOT NULL
               AS is_reply_status,
           CAST(json_extract(raw, '$.possibly_sensitive') AS BOOLEAN)
               AS possibly_sensitive,
           json_extract(raw, '$.coordinates.coordinates') IS NOT NULL AS has_coords,
           {_lon_lat_sql(0)} AS longitude,
           {_lon_lat_sql(1)} AS latitude,
           json_extract_string(raw, '$.place.id') AS place_id,
           json_extract_string(raw, '$.place.name') AS place_name,
           json_extract_string(raw, '$.place.full_name') AS place_full_name,
           json_extract_string(raw, '$.place.country') AS place_country,
           json_extract_string(raw, '$.place.country_code') AS place_country_code,
           json_extract_string(raw, '$.place.place_type') AS place_type,
           json_extract_string(raw, '$.quoted_status.text') AS quoted_text,
           CAST(json_extract(raw, '$.user.friends_count') AS BIGINT) AS friends_count,
           CAST(json_extract(raw, '$.user.followers_count') AS BIGINT)
               AS followers_count
    FROM (VALUES {{values}}) t(raw)
    """


@query("q_status_projection", STATUS_PROJECTION_SQL.format(values=values_sql(RAW_STATUSES)))
def q_status_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+F1-F3: the get_tweet_info projection over raw status JSON
    (reference tweet_utils.py:137-178) — ``ingest.project_status``'s 22
    columns, the F3 place-centroid fallback included."""
    return project_statuses(spark, RAW_STATUSES)


def project_statuses(spark: SparkSession, statuses: list[str]) -> DataFrame:
    """``ingest.project_status`` over ``statuses``, read from the same
    VALUES list as q_status_projection's oracle."""
    from thisishappening_spark.operators.ingest import project_status

    # An inline VALUES relation is parsed JVM-side, with no Python-side
    # rows to pickle. Catalyst folds it and the projection above it into
    # one LocalTableScan while planning, so collect() runs no Spark job.
    return project_status(spark.sql(f"SELECT raw FROM VALUES {values_sql(statuses)} AS t(raw)"))
