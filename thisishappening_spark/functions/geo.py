"""Geospatial expressions (SURVEY §2.8 F3/F4, §2.2 P1/Q2): bbox
containment and place-polygon centroid/bbox.

All are SQL expression strings over built-in functions — JVM-side,
codegen-friendly, no UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class BoundingBox:
    """west_lon, south_lat, east_lon, north_lat — the reference's 4-float
    bbox layout (reference data_utils.py:49-54)."""

    west: float
    south: float
    east: float
    north: float


def inbounds_closed(lon: str, lat: str, bbox: BoundingBox) -> str:
    """P1: closed-interval bbox containment (reference data_utils.py:43-46).
    Takes column names and returns a SQL expression string (sqlexpr.py);
    ``flit`` types the bounds DOUBLE."""
    from thisishappening_spark.sqlexpr import flit

    return (
        f"{lon} >= {flit(bbox.west)} AND {lon} <= {flit(bbox.east)} "
        f"AND {lat} >= {flit(bbox.south)} AND {lat} <= {flit(bbox.north)}"
    )


def inbounds_half_open(lon: str, lat: str, bbox: BoundingBox) -> str:
    """Q2: half-open bbox used by the query layer — `>= west AND < east AND
    >= south AND < north` (reference data_base.py:344-353). Deliberately
    different from P1's closed interval; preserved as-is (SURVEY §7.4).
    SQL-string form like :func:`inbounds_closed`."""
    from thisishappening_spark.sqlexpr import flit

    return (
        f"{lon} >= {flit(bbox.west)} AND {lon} < {flit(bbox.east)} "
        f"AND {lat} >= {flit(bbox.south)} AND {lat} < {flit(bbox.north)}"
    )


def polygon_ring_centroid(ring: str) -> tuple[str, str]:
    """F3: arithmetic-mean centroid of a polygon ring given as
    array<array<double>> of [lon, lat] vertices — including any duplicated
    closing vertex, exactly like the reference's `np.mean` over the raw ring
    (reference tweet_utils.py:107-121). An empty ring has NaN coordinates,
    as `np.mean` of nothing does, instead of failing the batch on a
    division by zero.

    Takes and returns SQL expression strings (sqlexpr.py), so the ingest
    projection composes its whole select as one parsed string."""

    def mean(idx: int) -> str:
        return (
            f"CASE WHEN size({ring}) = 0 THEN CAST('NaN' AS DOUBLE) "
            f"ELSE aggregate(transform({ring}, v -> v[{idx}]), CAST(0 AS DOUBLE), "
            f"(acc, x) -> acc + x) / CAST(size({ring}) AS DOUBLE) END"
        )

    return mean(0), mean(1)


def polygon_ring_bbox(ring: str) -> str:
    """F4: min/max lon/lat of a place polygon ring → struct(west, south,
    east, north) (reference tweet_utils.py:124-134). SQL-string form."""
    lons = f"transform({ring}, v -> v[0])"
    lats = f"transform({ring}, v -> v[1])"
    return (
        f"named_struct('west', array_min({lons}), 'south', array_min({lats}), "
        f"'east', array_max({lons}), 'north', array_max({lats}))"
    )

