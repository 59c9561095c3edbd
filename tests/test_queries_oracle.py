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
