"""S4 ingest projection: raw status JSON → 19-field flat tweet record.

The reference walks nested dicts per status (reference tweet_utils.py:
137-178, get_tweet_body :95-104, get_lon_lat :107-121, date parse
:314-319). Here the whole projection is a single typed ``from_json`` plus
column expressions — one pass over the raw column, fully codegen'd, no
Python. At 100 TB the JSON parse is the ingest bottleneck; a typed schema
parses each document once (vs one probe per `get_json_object` call) and
prunes unreferenced fields inside Jackson.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from thisishappening_spark.functions.geo import polygon_ring_centroid

# Twitter created_at format "%a %b %d %H:%M:%S +0000 %Y"
# (reference tweet_utils.py:314-319) — F1. Spark's CORRECTED-policy parser
# rejects 'E' (day-of-week) when parsing, so the leading "EEE " is sliced
# off before to_timestamp (see parse_created_at).
CREATED_AT_FORMAT = "MMM dd HH:mm:ss xx yyyy"


def parse_created_at(col: str) -> str:
    """F1: parse "%a %b %d %H:%M:%S +0000 %Y" (reference tweet_utils.py:
    314-319). The day-of-week token is redundant with the date; slicing it
    keeps the parse on Spark's strict parser instead of LEGACY mode. Takes
    and returns SQL expression strings, as do the sibling helpers
    (sqlexpr.py)."""
    return f"to_timestamp(substring({col}, 5, 26), '{CREATED_AT_FORMAT}')"

# Raw-status schema as a DDL type string — only the fields any operator
# reads (SURVEY §1.1). The polygon is array<array<array<double>>> (ring of
# [lon,lat]).
STATUS_DDL = (
    "struct<id_str:string,created_at:string,text:string,full_text:string,"
    "extended_tweet:struct<full_text:string>,lang:string,is_quote_status:boolean,"
    "in_reply_to_status_id_str:string,possibly_sensitive:boolean,"
    "user:struct<screen_name:string,id_str:string,friends_count:bigint,"
    "followers_count:bigint>,"
    "coordinates:struct<coordinates:array<double>>,"
    "quoted_status:struct<text:string>,"
    "place:struct<id:string,name:string,full_name:string,country:string,"
    "country_code:string,place_type:string,"
    "bounding_box:struct<coordinates:array<array<array<double>>>>>>"
)


def tweet_body(s: str) -> str:
    """F2: extended_tweet.full_text → full_text → text → ''
    (reference tweet_utils.py:95-104).

    ACCEPTED DEVIATION: the reference dispatches on KEY PRESENCE — a status
    carrying `"full_text": null` alongside a non-null `"text"` yields
    tweet_body=None there (then rejected by the empty-body check P14),
    whereas coalesce falls through to `text` and admits it. JSON-null
    top-level text fields do not occur in the documented status format;
    coalesce implements the evident intent and is kept deliberately."""
    return f"coalesce({s}.extended_tweet.full_text, {s}.full_text, {s}.text, '')"


def lon_lat(s: str) -> tuple[str, str, str]:
    """F3: point coords if present, else arithmetic-mean centroid of the
    place polygon ring (incl. duplicated closing vertex, exactly like the
    reference's sum/len — tweet_utils.py:107-121). Returns (lon, lat,
    has_coords) SQL expression strings."""
    point = f"{s}.coordinates.coordinates"
    ring = f"{s}.place.bounding_box.coordinates[0]"
    c_lon, c_lat = polygon_ring_centroid(ring)
    lon = (
        f"CASE WHEN {point} IS NOT NULL THEN {point}[0] "
        f"WHEN {ring} IS NOT NULL THEN {c_lon} END"
    )
    lat = (
        f"CASE WHEN {point} IS NOT NULL THEN {point}[1] "
        f"WHEN {ring} IS NOT NULL THEN {c_lat} END"
    )
    return lon, lat, f"{point} IS NOT NULL"


def project_status(df: DataFrame) -> DataFrame:
    """get_tweet_info as one typed projection (reference tweet_utils.py:
    137-178) of the raw status JSON string column ``raw``. Output: the 19
    TweetInfo fields (deleted_at always NULL at ingest, data_base.py:254)
    and the three admission-only extras, 22 columns.

    ``from_json`` parses ``raw`` once with :data:`STATUS_DDL`; the
    projection is ONE ``selectExpr`` over the parsed struct column, built
    from the SQL strings of the helpers above (F1-F3, P14)."""
    lon, lat, has_coords = lon_lat("s")
    return df.selectExpr(f"from_json(raw, '{STATUS_DDL}') AS s").selectExpr(
        "s.id_str AS status_id_str",
        "s.user.screen_name AS user_screen_name",
        "s.user.id_str AS user_id_str",
        f"{parse_created_at('s.created_at')} AS created_at",
        "CAST(NULL AS TIMESTAMP) AS deleted_at",
        f"{tweet_body('s')} AS tweet_body",
        "s.lang AS tweet_language",
        "s.is_quote_status AS is_quote_status",
        "s.in_reply_to_status_id_str IS NOT NULL AS is_reply_status",
        "s.possibly_sensitive AS possibly_sensitive",
        f"{has_coords} AS has_coords",
        f"{lon} AS longitude",
        f"{lat} AS latitude",
        "s.place.id AS place_id",
        "s.place.name AS place_name",
        "s.place.full_name AS place_full_name",
        "s.place.country AS place_country",
        "s.place.country_code AS place_country_code",
        "s.place.place_type AS place_type",
        # admission-only extras (not persisted by the reference's table)
        "s.quoted_status.text AS quoted_text",
        "s.user.friends_count AS friends_count",
        "s.user.followers_count AS followers_count",
    )
