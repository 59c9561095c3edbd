"""The W2 blocklist match: the numeric guard in front of the "%.5f" string
compare must never change a weight."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from thisishappening_spark.functions.weights import coord_key, with_activity_weight

LON, LAT = "-71.10000", "42.35000"


def _axis(base: float) -> list[float | None]:
    """``base``, ±5e-6 from it (the "%.5f" rounding boundaries), one ulp
    either side of each, NULL and NaN."""
    points = [base, base + 5e-6, base - 5e-6]
    return (
        points
        + [math.nextafter(p, math.inf) for p in points]
        + [math.nextafter(p, -math.inf) for p in points]
        + [None, math.nan]
    )


def test_w2_guard_keeps_every_weight(spark):
    rows = [(lo, la) for lo in _axis(float(LON)) for la in _axis(float(LAT))]
    df = spark.createDataFrame(rows, "longitude double, latitude double")
    guarded = with_activity_weight(
        df, reduce_weight_lon_lat=[(LON, LAT)], weight_factor_lon_lat=2.0
    )
    unguarded = (
        f"CASE WHEN array_contains(array(named_struct('lon_key', '{LON}', "
        f"'lat_key', '{LAT}')), {coord_key('longitude', 'latitude')}) "
        "THEN 1.0D / exp(2.0D) ELSE 1.0D END"
    )
    got = guarded.select(
        "longitude", "latitude", "weight", F.expr(unguarded).alias("want")
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.weight == r.want, r
    # The boundary cases reach both branches: the exact pair and some
    # points 5e-6 away are blocked, NULL and NaN are not.
    blocked = {(r.longitude, r.latitude) for r in got if r.want != 1.0}
    assert (float(LON), float(LAT)) in blocked and len(blocked) > 1
    assert all(
        lo is not None and la is not None and not (math.isnan(lo) or math.isnan(la))
        for lo, la in blocked
    )


def test_activity_weight_replaces_an_existing_weight_column(spark):
    """A frame that already has a ``weight`` column gets it replaced in
    place, as the reference's ``tweet['weight'] = …`` does, so ``weight``
    still resolves."""
    df = spark.createDataFrame([(5.0, False), (5.0, True)], "weight double, has_coords boolean")
    got = with_activity_weight(df, weight_factor_no_coords=1.0)
    assert got.columns == ["weight", "has_coords"]
    rows = sorted((r.has_coords, r.weight) for r in got.select("has_coords", "weight").collect())
    assert [c for c, _ in rows] == [False, True] and rows[1][1] == 1.0
    assert math.isclose(rows[0][1], math.exp(-1.0), rel_tol=1e-15)
