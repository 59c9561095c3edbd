"""Unit tests for admission predicates not expressible over the tweets
view: P2 (place-polygon bbox containment) and the P8 precedence-quirk
compat mode (reference tweet_utils.py:227-229, :261-270)."""

from __future__ import annotations

from pyspark.sql import functions as F

from thisishappening_spark.functions.geo import BoundingBox
from thisishappening_spark.operators.admission import AdmissionConfig, admission_check_exprs

RING = [[-71.10, 42.30], [-71.10, 42.40], [-71.00, 42.40], [-71.00, 42.30], [-71.10, 42.30]]


def _df(spark, rows):
    return spark.createDataFrame(
        rows,
        "tweet_body string, quoted_text string, longitude double, latitude double, "
        "has_coords boolean, place_type string, user_screen_name string, "
        "user_id_str string, possibly_sensitive boolean, is_quote_status boolean, "
        "is_reply_status boolean, friends_count long, followers_count long, "
        "place_ring array<array<double>>",
    )


def check(df, cfg, name):
    """The named admission check evaluated on every row of ``df``."""
    expr = admission_check_exprs(df, cfg)[name]
    return [r.ok for r in df.select(F.expr(expr).alias("ok")).collect()]


def base_row(**kw):
    row = dict(
        tweet_body="hello world",
        quoted_text="",
        longitude=-71.05,
        latitude=42.35,
        has_coords=True,
        place_type="poi",
        user_screen_name="alice",
        user_id_str="1",
        possibly_sensitive=False,
        is_quote_status=False,
        is_reply_status=False,
        friends_count=10,
        followers_count=10,
        place_ring=RING,
    )
    row.update(kw)
    return tuple(row.values())


def test_place_bbox_containment(spark):
    """P2: point inside the polygon's min/max bbox passes; outside fails;
    no ring or no coords → vacuously true (tweet_utils.py:227-229)."""
    df = _df(
        spark,
        [
            base_row(),  # inside ring bbox
            base_row(longitude=-70.50),  # outside ring bbox
            base_row(place_ring=None),  # no ring → vacuous
            base_row(longitude=-70.50, has_coords=False),  # no coords → vacuous
        ],
    )
    assert check(df, AdmissionConfig(), "in_place_bounding_box") == [True, False, True, True]
    # a frame without the ring column has no P2 check at all
    assert "in_place_bounding_box" not in admission_check_exprs(
        df.drop("place_ring"), AdmissionConfig()
    )


def test_lat_lon_quirk_compat(spark):
    """P8 bug-compat: truthy longitude → ONLY longitude is compared, so a
    blocked longitude rejects at ANY latitude (the reference's conditional-
    expression precedence, tweet_utils.py:261-270). Intent mode only
    rejects the exact pair."""
    blocked = ((-71.05, 42.35),)
    rows = [
        base_row(),  # exact blocked pair
        base_row(latitude=40.0),  # blocked lon, different lat
        base_row(longitude=-71.06),  # different lon, blocked lat
    ]
    df = _df(spark, rows)

    intent = AdmissionConfig(ignore_lon_lat=blocked)
    assert check(df, intent, "valid_lat_lon") == [False, True, True]

    quirk = AdmissionConfig(ignore_lon_lat=blocked, lat_lon_quirk_compat=True)
    assert check(df, quirk, "valid_lat_lon") == [False, False, True]


def test_full_conjunction_drops_each_violation(spark):
    """Each predicate independently drops its violating row."""
    from thisishappening_spark.operators.admission import admit

    cfg = AdmissionConfig(
        bounding_box=BoundingBox(west=-71.2, south=42.2, east=-70.9, north=42.5),
        ignore_words=(r"\bspam\b",),
        ignore_user_screen_names=("bot",),
        ignore_user_id_str=("666",),
        ignore_possibly_sensitive=True,
        ignore_quote_status=True,
        ignore_reply_status=True,
        min_friends_count=2,
        min_followers_count=2,
    )
    rows = [
        base_row(),  # passes everything
        base_row(tweet_body=""),  # P14
        base_row(longitude=-75.0),  # P1
        base_row(tweet_body="buy spam now"),  # P3
        base_row(quoted_text="spam quoted"),  # P4
        base_row(has_coords=False, place_type="country"),  # P5
        base_row(user_screen_name="mega_bot_3000"),  # P6
        base_row(user_id_str="666"),  # P7
        base_row(possibly_sensitive=True),  # P9
        base_row(is_quote_status=True),  # P10
        base_row(is_reply_status=True),  # P11
        base_row(friends_count=1),  # P12
        base_row(followers_count=0),  # P13
    ]
    df = _df(spark, rows)
    assert admit(df, cfg).count() == 1
