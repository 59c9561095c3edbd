"""The integer-unit sums of registry rule 1.

Spark sums BIGINT units with ``registry.isum`` (split at bit 32), while the
oracles keep ``SUM(CAST(x AS DECIMAL(18,2)))``. Two things make the two
agree: the split sum is exact wherever a BIGINT sum would overflow, and
``registry.units`` rounds every quantized input to the same cents as
DuckDB's DECIMAL cast, checked here on every data set next to the test one.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from thisishappening_spark.registry import isum, units

from tests.oracle import duckdb_conn

P62 = 2**62

# group -> BIGINT units; each group's exact sum is a double-representable
# integer, so the DOUBLE result must equal it bit for bit.
GROUPS = {
    1: [P62 + 5, P62 - 7, -P62 + 11, -P62 - 13, 17],  # cancels to 13
    2: [P62 + 2**11, P62 + 2**11, P62 - 1, -P62 + 1],  # 2^63 + 2^12: past BIGINT
    3: [-P62 - 1, -P62 - 1, -P62 + 2],  # -3·2^62: past BIGINT's minimum
    4: [None, None, None],  # SUM of no values is NULL
    5: [None, 3, -1],
}


def _sums(spark, s: int) -> dict[int, float | None]:
    values = ", ".join(
        f"({k}, {'NULL' if u is None else u})" for k, us in GROUPS.items() for u in us
    )
    df = spark.sql(f"SELECT k, CAST(u AS BIGINT) AS u FROM VALUES {values} AS t(k, u)")
    out = df.repartition(3).groupBy("k").agg(F.expr(f"{isum('u', s)} AS total"))
    return {r.k: r.total for r in out.collect()}


def test_isum_is_exact_past_bigint(spark):
    got = _sums(spark, 0)
    for k, us in GROUPS.items():
        vals = [u for u in us if u is not None]
        want = float(sum(vals)) if vals else None
        assert got[k] == want, (k, got[k], want)


def test_isum_scales_once_at_the_end(spark):
    got = _sums(spark, 2)
    assert got[5] == 2 / 100 and got[4] is None
    assert got[1] == 13 / 100


# Every quantized money/quantity input of the registry's dsum/isum callers.
QUANTIZED = {
    "events": {
        "value": "SELECT value AS x FROM events",
        "lag delta": (
            "SELECT abs(value - lag(value) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id)) AS x FROM events"
        ),
    },
    "lineitem": {
        x: f"SELECT {x} AS x FROM lineitem"
        for x in ("l_quantity", "l_extendedprice", "l_discount", "1 - l_discount", "1 + l_tax")
    },
}


def test_units_equal_duckdb_decimal_cents(sf_dir):
    """``units(x, 2)`` is the cent count of DuckDB's ``CAST(x AS
    DECIMAL(18,2))`` on every row of every scale factor beside ``sf_dir``."""
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf*")))
    assert dirs
    checked = 0
    for d in dirs:
        con = duckdb_conn(d)
        for table, inputs in QUANTIZED.items():
            if not os.path.exists(os.path.join(d, f"{table}.parquet")):
                continue
            for name, sql in inputs.items():
                n, bad = con.sql(
                    f"SELECT count(x), count(*) FILTER ({units('x', 2)} IS DISTINCT FROM "
                    f"CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT)) FROM ({sql}) q"
                ).fetchone()
                assert bad == 0, f"{d} {name}: {bad} of {n} rows round differently"
                checked += n
    assert checked > 0
