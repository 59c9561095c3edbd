"""Differential test: every registry query must match its DuckDB oracle.

This mirrors the driver's CORRECTNESS gate (sf0.01); tests default to
sf0.001 for speed — set SPARK_GRAFT_TEST_SF_DIR to widen.
"""

from __future__ import annotations

import pytest

from thisishappening_spark.queries import REGISTRY

from tests.oracle import compare


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_match(spark, sf_dir, name):
    compare(spark, sf_dir, name)


@pytest.mark.parametrize("name", ["q_ann_lsh_topk"])
def test_rows_only_runs(spark, sf_dir, name):
    """The ANN query runs and returns rows without its oracle, so a
    failure to run is told apart from an oracle mismatch."""
    df = REGISTRY[name].fn(spark, sf_dir)
    rows = df.collect()
    assert rows
    assert df.count() == len(rows)
    assert len(df.schema.fields) > 0


def test_sliding_window_counts_null_ts(spark, tmp_path):
    """A NULL ts counts toward no anchor but still makes a NULL-day anchor
    with count 0; an event at midnight counts toward its own day; a NULL
    event_id is not counted."""
    import duckdb

    rows = [
        (1, "2024-01-01 00:00:00"),  # midnight: its own anchor
        (2, "2024-01-01 10:00:00"),  # counts toward 2024-01-02
        (3, None),
        (None, "2024-01-02 23:00:00"),  # makes the 2024-01-02 anchor only
        (5, "2024-01-03 05:00:00"),  # counts toward no anchor
    ]
    values = ", ".join(
        f"({'NULL' if e is None else e}, {'NULL' if t is None else repr(t)})" for e, t in rows
    )
    duckdb.sql(
        "COPY (SELECT CAST(e AS BIGINT) AS event_id, CAST(t AS TIMESTAMP) AS ts, "
        "CAST(1 AS BIGINT) AS user_id, 'click' AS event_type, 1.0::DOUBLE AS value, "
        f"'{{}}' AS props FROM (VALUES {values}) v(e, t)) "
        f"TO '{tmp_path / 'events.parquet'}' (FORMAT PARQUET)"
    )
    got = {
        (str(r.anchor) if r.anchor else None): r.n_last_24h
        for r in REGISTRY["q_sliding_window_counts"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {
        "2024-01-01 00:00:00": 1,
        "2024-01-02 00:00:00": 1,
        "2024-01-03 00:00:00": 0,
        None: 0,
    }
    compare(spark, str(tmp_path), "q_sliding_window_counts")
