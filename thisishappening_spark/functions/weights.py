"""Activity weighting (SURVEY §2.5 W1-W3, §2.8 F16/F21).

The reference initializes every tweet's weight to 1.0 and then divides by
exp(x·factor) three times (reference data_utils.py:86-145):

  W2  blocklisted exact coords  (x=1, factor_lon_lat)   — matched on the
      "%.5f"-formatted string pair via format_string, behind a numeric
      guard: a double that formats to a blocklisted string lies within
      5e-6 of it, so ``abs(lon - x) < 1e-4`` (and lat) first rules out
      every point that cannot match, and the short-circuit AND runs the
      formatter only near a blocklisted point
  W3  no point coords           (x=1, factor_no_coords)
  W1  per-user recency rank     (x=i, factor_user), i = 0,1,2,… by
      created_at ascending within user

All three compose multiplicatively and are pure column expressions: W1 is a
window row_number — one shuffle on user_id, no Python. At 100 TB the
user_id partitioning is the natural key (skew only if one user dominates,
which admission filters prevent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from thisishappening_spark.sqlexpr import flit, ident, sql_str


def compute_weight(weight: str, x: str, factor: float) -> str:
    """F16: w / exp(x·factor) (reference data_utils.py:86-88), as a SQL
    string (sqlexpr.py)."""
    return f"({weight}) / exp(({x}) * {flit(factor)})"


def coord_key(lon: str, lat: str) -> str:
    """F21: the "%.5f" string pair used for blocklist matching
    (reference data_utils.py:112-114). format_number adds thousands
    separators, so use format_string which mirrors printf %.5f."""
    return (
        f"named_struct('lon_key', format_string('%.5f', {lon}), "
        f"'lat_key', format_string('%.5f', {lat}))"
    )


def with_activity_weight(
    df: DataFrame,
    weight_factor_user: float | None = None,
    reduce_weight_lon_lat: list[tuple[str, str]] | None = None,
    weight_factor_lon_lat: float | None = None,
    weight_factor_no_coords: float | None = None,
    user_col: str = "user_id_str",
    time_col: str = "created_at",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Mirror of set_activity_weight (reference data_utils.py:91-145): sets
    the ``weight`` column, replacing in place one the input already has.
    W2 reads ``longitude``/``latitude`` and W3 reads ``has_coords``, the
    tweet-record columns; a factor left ``None`` skips its step.

    `reduce_weight_lon_lat` is a list of ("%.5f"-formatted lon, lat) string
    pairs, matching the reference's config representation (app.py:200-209).
    `order_cols` appends deterministic tie-breakers to the per-user
    created_at sort (the reference relies on Python stable sort of
    insertion order; a distributed engine needs an explicit key).
    """
    # Caller-supplied column names interpolate into parsed SQL: quote them
    # so names needing backticks keep working (same attribute as ``col()``).
    user_col, time_col = ident(user_col), ident(time_col)
    order_cols = tuple(ident(o) for o in order_cols)

    w = flit(1.0)

    if reduce_weight_lon_lat and weight_factor_lon_lat is not None:
        key = coord_key("longitude", "latitude")
        blocked = "array(" + ", ".join(
            f"named_struct('lon_key', {sql_str(lo)}, 'lat_key', {sql_str(la)})"
            for lo, la in reduce_weight_lon_lat
        ) + ")"
        near = " OR ".join(
            f"(abs(longitude - {flit(float(lo))}) < 1e-4D "
            f"AND abs(latitude - {flit(float(la))}) < 1e-4D)"
            for lo, la in reduce_weight_lon_lat
        )
        w = (
            f"CASE WHEN ({near}) AND array_contains({blocked}, {key}) "
            f"THEN {compute_weight(w, '1', weight_factor_lon_lat)} ELSE {w} END"
        )

    if weight_factor_no_coords is not None:
        w = (
            "CASE WHEN NOT has_coords "
            f"THEN {compute_weight(w, '1', weight_factor_no_coords)} ELSE {w} END"
        )

    if weight_factor_user is not None:
        order = ", ".join((time_col,) + tuple(order_cols))
        rank0 = f"row_number() OVER (PARTITION BY {user_col} ORDER BY {order}) - 1"
        w = compute_weight(w, rank0, weight_factor_user)

    # Matched without case, as Spark resolves a name.
    weight = f"{w} AS weight"
    cols = [weight if c.lower() == "weight" else ident(c) for c in df.columns]
    return df.selectExpr(*(cols if weight in cols else cols + [weight]))
