"""Focused tests for the SQL-expression-string helpers (sqlexpr.py).

The whole point of the string convention is that a rendered literal must
parse back to the exact expression the Column form built — same value AND
same type (a type drift would silently change comparison coercions and
break oracle hash-equality). Pin both.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thisishappening_spark.sqlexpr import flit, sql_str


@pytest.mark.parametrize(
    "s",
    [
        "plain",
        "it's",
        "back\\slash",
        r"\berror\b",  # regex fragment used by admission's RLIKE patterns
        "(?i)(buy now|click here)",
        "mixed '\\' quote",
        "",
    ],
)
def test_sql_str_round_trips_exactly(spark, s):
    got = spark.range(1).select(F.expr(sql_str(s)).alias("v")).collect()[0].v
    assert got == s


@pytest.mark.parametrize("x", [0.0, 1.0, -71.15, 42.3601, 1e-9, -0.25])
def test_flit_is_double_typed_and_exact(spark, x):
    df = spark.range(1).select(F.expr(flit(x)).alias("v"))
    assert df.schema["v"].dataType.simpleString() == "double"
    assert df.collect()[0].v == x


def test_flit_differs_from_bare_literal_typing(spark):
    # A bare decimal literal parses as DECIMAL — exactly the drift flit
    # exists to prevent.
    bare = spark.range(1).select(F.expr("-71.15").alias("v"))
    assert bare.schema["v"].dataType.simpleString().startswith("decimal")


def test_ident_quotes_awkward_names(spark):
    from thisishappening_spark.sqlexpr import ident

    df = spark.range(1).selectExpr(
        "id AS `user id`", "id AS `select`", "id AS `tick``name`"
    )
    for name in ["user id", "select", "tick`name"]:
        got = df.select(F.expr(ident(name)).alias("v")).collect()[0].v
        assert got == 0


def test_in_list_empty_is_false_not_parse_error(spark):
    from thisishappening_spark.sqlexpr import in_list

    df = spark.range(3)
    # empty -> always-false, matching Column.isin([])
    assert df.filter(F.expr(in_list("id", []))).count() == 0
    assert df.filter(~F.expr(in_list("id", []))).count() == 3
    assert df.filter(F.expr(in_list("id", ["1", "2"]))).count() == 2


def test_admission_empty_place_types_compiles(spark):
    """valid_place_types=() must not render 'IN ()', a ParseException. It
    must compile to isin([]) semantics: keep only rows with coordinates."""
    from thisishappening_spark.operators.admission import AdmissionConfig, admit

    df = spark.createDataFrame(
        [(1, "body", True, "city", 5, 5), (2, "body", False, "city", 5, 5)],
        "id INT, tweet_body STRING, has_coords BOOLEAN, place_type STRING, "
        "friends_count INT, followers_count INT",
    )
    kept = admit(df, AdmissionConfig(valid_place_types=()))
    assert [r.id for r in kept.collect()] == [1]


def test_recent_tweets_empty_type_lists_compile(spark):
    import datetime as dt

    from thisishappening_spark.plans.recent_tweets import recent_tweets

    tweets = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 12), "city", True, None)],
        "created_at TIMESTAMP, place_type STRING, has_coords BOOLEAN, "
        "deleted_at TIMESTAMP",
    )
    got = recent_tweets(
        tweets, dt.datetime(2024, 1, 1, 13), place_type=[], has_coords=None,
    )
    assert got.count() == 0  # empty whitelist = always-false, like isin([])


def test_ts_lit_aware_datetime_converts_to_utc(spark):
    import datetime as dt

    from thisishappening_spark.plans.recent_tweets import recent_tweets

    tweets = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 11, 30), None)],
        "created_at TIMESTAMP, deleted_at TIMESTAMP",
    )
    # 06:30-07:30 at UTC-5 == 11:30-12:30 UTC: the aware window must match
    # the row at 11:30 UTC exactly as its naive-UTC twin does.
    tz = dt.timezone(dt.timedelta(hours=-5))
    aware = dt.datetime(2024, 1, 1, 7, 30, tzinfo=tz)
    naive_utc = dt.datetime(2024, 1, 1, 12, 30)
    assert recent_tweets(tweets, aware).count() == 1
    assert recent_tweets(tweets, naive_utc).count() == 1


def test_weights_quote_awkward_column_names(spark):
    from thisishappening_spark.functions.weights import with_activity_weight

    df = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2)],
        "`user id` INT, `order` INT, event_id INT",
    )
    got = with_activity_weight(
        df,
        weight_factor_user=0.5,
        user_col="user id",
        time_col="order",
        order_cols=("event_id",),
    )
    ws = sorted(r.weight for r in got.collect())
    import math

    assert ws[1] == 1.0 and abs(ws[0] - math.exp(-0.5)) < 1e-12
