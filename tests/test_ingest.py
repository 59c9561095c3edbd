"""Unit tests for the S4 ingest projection: the F3 place-polygon centroid
fallback, F1 date parsing and F2 body precedence edge cases (reference
tweet_utils.py:95-121, :314-319), and statuses that q_status_projection's
oracle must read alike (quotes, backslashes, a polygon and no point)."""

from __future__ import annotations

import json

import pytest

from thisishappening_spark.operators.ingest import project_status

PLACE = {
    "id": "p9",
    "name": "Back Bay",
    "full_name": "Back Bay, Boston",
    "country": "United States",
    "country_code": "US",
    "place_type": "neighborhood",
    "bounding_box": {
        "type": "Polygon",
        # non-closed 4-vertex ring (Twitter style): centroid = plain mean
        "coordinates": [[[-71.10, 42.30], [-71.10, 42.40], [-71.00, 42.40], [-71.00, 42.30]]],
    },
}


def _status(**kw):
    s = {
        "id_str": "5001",
        "created_at": "Mon Jan 06 07:08:09 +0000 2020",
        "text": "centroid test",
        "lang": "en",
        "user": {
            "screen_name": "dana",
            "id_str": "44",
            "friends_count": 3,
            "followers_count": 4,
        },
        "coordinates": None,
        "place": PLACE,
    }
    s.update(kw)
    return json.dumps(s)


def test_centroid_fallback(spark):
    """No point coords + place polygon → lon/lat = arithmetic mean of ring
    vertices, has_coords=False (tweet_utils.py:107-121)."""
    df = spark.createDataFrame([(_status(),)], "raw string")
    row = project_status(df).collect()[0]
    assert row.has_coords is False
    assert row.longitude == pytest.approx((-71.10 - 71.10 - 71.00 - 71.00) / 4)
    assert row.latitude == pytest.approx((42.30 + 42.40 + 42.40 + 42.30) / 4)


def test_centroid_includes_duplicated_closing_vertex(spark):
    """The reference averages the raw ring INCLUDING a duplicated closing
    vertex — the mean shifts toward it. Preserved deliberately
    (SURVEY §7.4)."""
    closed = dict(PLACE)
    ring = [[-71.10, 42.30], [-71.10, 42.40], [-71.00, 42.40], [-71.00, 42.30],
            [-71.10, 42.30]]
    closed["bounding_box"] = {"type": "Polygon", "coordinates": [ring]}
    df = spark.createDataFrame([(_status(place=closed),)], "raw string")
    row = project_status(df).collect()[0]
    assert row.longitude == pytest.approx(sum(v[0] for v in ring) / 5)
    assert row.latitude == pytest.approx(sum(v[1] for v in ring) / 5)


def test_point_coords_win_over_place(spark):
    df = spark.createDataFrame(
        [(_status(coordinates={"type": "Point", "coordinates": [-71.03, 42.33]}),)],
        "raw string",
    )
    row = project_status(df).collect()[0]
    assert row.has_coords is True
    assert row.longitude == pytest.approx(-71.03)
    assert row.latitude == pytest.approx(42.33)


def test_no_coords_no_place(spark):
    df = spark.createDataFrame([(_status(place=None),)], "raw string")
    row = project_status(df).collect()[0]
    assert row.has_coords is False
    assert row.longitude is None and row.latitude is None
    assert row.place_type is None


def test_created_at_parse(spark):
    df = spark.createDataFrame([(_status(),)], "raw string")
    row = project_status(df).collect()[0]
    assert row.created_at.isoformat() == "2020-01-06T07:08:09"


def test_body_precedence(spark):
    """F2: extended_tweet.full_text > full_text > text > ''
    (tweet_utils.py:95-104)."""
    cases = [
        (_status(extended_tweet={"full_text": "ext"}, full_text="full"), "ext"),
        (_status(full_text="full"), "full"),
        (_status(), "centroid test"),
        (_status(text=None), ""),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "raw string")
    rows = project_status(df).collect()
    assert [r.tweet_body for r in rows] == [want for _, want in cases]


def test_status_projection_reads_an_apostrophe_like_its_oracle(spark):
    """q_status_projection and its oracle read the same rendering of the
    raw statuses, so a status holding ``'`` parses alike on both engines."""
    import duckdb

    from thisishappening_spark.queries.tweets import (
        RAW_STATUSES,
        STATUS_PROJECTION_SQL,
        project_statuses,
        values_sql,
    )

    from tests.oracle import assert_same_rows

    statuses = RAW_STATUSES + [
        _status(id_str="5002", text="it's O'Brien's '' park", user={"screen_name": "o'hara"})
    ]
    got = project_statuses(spark, statuses)
    want = duckdb.sql(STATUS_PROJECTION_SQL.format(values=values_sql(statuses)))
    assert_same_rows("q_status_projection", got, want)
    assert got.filter("status_id_str = '5002'").first()["tweet_body"] == "it's O'Brien's '' park"


def test_status_projection_reads_a_backslash_like_its_oracle(spark):
    """A status whose JSON holds ``\\"`` and ``\\\\`` reaches Spark with no
    backslash escape to read, so both engines parse it alike; its place
    polygon and missing point also take the F3 centroid fallback on both,
    as the same left fold, so the coordinates match bit for bit."""
    import duckdb

    from thisishappening_spark.queries.tweets import (
        RAW_STATUSES,
        STATUS_PROJECTION_SQL,
        project_statuses,
        values_sql,
    )

    text = 'say "hi" \\ back'
    statuses = RAW_STATUSES + [_status(id_str="5003", text=text)]
    cols = ["status_id_str", "tweet_body", "longitude", "latitude"]
    got = [tuple(r) for r in project_statuses(spark, statuses).select(cols).collect()]
    oracle = STATUS_PROJECTION_SQL.format(values=values_sql(statuses))
    want = duckdb.sql(f"SELECT {', '.join(cols)} FROM ({oracle})").fetchall()
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert {r[0]: r[1] for r in got}["5003"] == text


def test_status_projection_reads_an_empty_ring_as_nan(spark):
    """A place ring with no vertex has NaN coordinates on both engines, as
    the reference's ``np.mean`` of nothing, instead of failing the batch
    (a division by zero in Spark, an empty ``list_reduce`` in DuckDB).
    NaN lies outside every bounding box, so admission with one drops the
    row on both engines."""
    import math

    import duckdb

    from thisishappening_spark.functions.geo import BoundingBox
    from thisishappening_spark.operators.admission import AdmissionConfig, admit
    from thisishappening_spark.queries.tweets import (
        RAW_STATUSES,
        STATUS_PROJECTION_SQL,
        project_statuses,
        values_sql,
    )

    from tests.oracle import assert_same_rows

    empty = dict(PLACE, bounding_box={"type": "Polygon", "coordinates": [[]]})
    statuses = RAW_STATUSES + [_status(id_str="5004", place=empty)]
    got = project_statuses(spark, statuses)
    oracle = STATUS_PROJECTION_SQL.format(values=values_sql(statuses))
    assert_same_rows("q_status_projection", got, duckdb.sql(oracle))
    row = got.filter("status_id_str = '5004'").first()
    assert math.isnan(row.longitude) and math.isnan(row.latitude)

    world = BoundingBox(west=-180.0, south=-90.0, east=180.0, north=90.0)

    def admitted(cfg):
        return {r.status_id_str for r in admit(got, cfg).select("status_id_str").collect()}

    assert "5004" in admitted(AdmissionConfig())
    assert "5004" not in admitted(AdmissionConfig(bounding_box=world))
    in_world = duckdb.sql(
        f"SELECT status_id_str FROM ({oracle}) WHERE longitude >= -180 AND "
        "longitude <= 180 AND latitude >= -90 AND latitude <= 90"
    ).fetchall()
    assert ("5004",) not in in_world
