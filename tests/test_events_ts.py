"""events.ts has shipped as parquet TIMESTAMP(NANOS), as naive microseconds
(which Spark reads as TIMESTAMP_NTZ) and as UTC-adjusted microseconds.
``load_table`` must turn each into the same ``ts``/``ts_ns`` columns, both
in the session ``get_spark`` builds and in a new session of it with
``nanosAsLong`` set off. ``_load_events`` reads a nanos ``ts`` as BIGINT
through a user schema taken from the parquet footer, so neither session
needs the setting on, and the load leaves it as it found it."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from thisishappening_spark.sources.tables import load_table

TS = [
    dt.datetime(2024, 1, 10, 12, 0, 0, 123456),
    dt.datetime(2024, 1, 10),
    dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
]
ENCODINGS = {
    "nanos": pa.timestamp("ns"),
    "naive_us": pa.timestamp("us"),
    "utc_us": pa.timestamp("us", tz="UTC"),
}


def _write(root, kind: str) -> str:
    sf_dir = root / kind
    sf_dir.mkdir()
    table = pa.table(
        {"event_id": pa.array([1, 2, 3], pa.int64()), "ts": pa.array(TS, ENCODINGS[kind])}
    )
    pq.write_table(table, sf_dir / "events.parquet")
    return str(sf_dir)


@pytest.mark.parametrize("vanilla", [False, True], ids=["get_spark", "nanos_as_timestamp"])
def test_events_ts_encodings_load_alike(spark, tmp_path, vanilla):
    session = spark
    if vanilla:
        session = spark.newSession()
        session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    epoch = dt.datetime(1970, 1, 1)
    want = [(i, (t - epoch) // dt.timedelta(microseconds=1)) for i, t in enumerate(TS, 1)]
    for kind in ENCODINGS:
        path = _write(tmp_path, kind)
        assert pq.read_schema(f"{path}/events.parquet").field("ts").type == ENCODINGS[kind]
        ev = load_table(session, path, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp", kind
        rows = ev.orderBy("event_id").selectExpr(
            "event_id", "unix_micros(ts) AS us", "ts_ns"
        ).collect()
        assert [(r.event_id, r.us) for r in rows] == want, kind
        assert [r.ts_ns for r in rows] == [us * 1000 for _, us in want], kind
        if vanilla and kind == "nanos":
            assert session.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
