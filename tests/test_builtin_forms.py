"""Built-in expressions that replaced interpreted lambdas must return the
rows of the lambda forms they replaced, which are kept here as references:
``doc_quality``'s mean token length is ``(length(text) - n_tok + 1) /
n_tok`` instead of an ``aggregate`` over the split tokens,
``q_collect_sorted_ids`` casts its id array to ``ARRAY<STRING>`` instead of
a ``transform`` of each element, and ``similarity.double_vec`` widens an
embedding with ``CAST(… AS ARRAY<DOUBLE>)`` instead of a ``transform``."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thisishappening_spark.operators.similarity import double_vec
from thisishappening_spark.operators.textstats import doc_quality
from thisishappening_spark.queries import REGISTRY
from thisishappening_spark.sources.tables import load_table

EDGE_TEXTS = [
    "alpha beta gamma delta",
    "",
    " ",
    "   ",
    " leading space",
    "trailing space ",
    "double  space  in  text",
    "tab\tinside a token\t",
    "éclair au café crème brûlée",
    "日本語 テスト の 文 です",
    "emoji \U0001F600 in a \U0001F600 text",
    "\U0001F600",
    None,
]

AGGREGATE_MEAN_LEN = (
    "CAST(aggregate(split(text, ' '), CAST(0 AS BIGINT), (acc, x) -> acc + length(x)) "
    "AS DOUBLE) / size(split(text, ' '))"
)


def _mean_lengths(docs: DataFrame) -> tuple[list, list]:
    """(doc_id, mean_token_len) from ``doc_quality`` and from the
    ``aggregate`` form, both sorted by doc_id."""
    got = doc_quality(docs).select("doc_id", "mean_token_len").collect()
    want = docs.selectExpr("doc_id", f"{AGGREGATE_MEAN_LEN} AS m").collect()
    return sorted(tuple(r) for r in got), sorted(tuple(r) for r in want)


def test_mean_token_length_matches_aggregate_form_on_edge_texts(spark):
    docs = spark.createDataFrame(
        [(i, "edge", t) for i, t in enumerate(EDGE_TEXTS)], "doc_id bigint, source string, text string"
    )
    got, want = _mean_lengths(docs)
    assert got == want
    by_id = dict(got)
    assert by_id[EDGE_TEXTS.index("")] == 0.0
    assert by_id[EDGE_TEXTS.index("\U0001F600")] == 1.0  # one code point
    assert by_id[EDGE_TEXTS.index(None)] is None


def test_mean_token_length_matches_aggregate_form_on_test_data(spark, sf_dir):
    got, want = _mean_lengths(load_table(spark, sf_dir, "documents"))
    assert got
    assert got == want


def _transform_ids(events: DataFrame) -> list:
    """``q_collect_sorted_ids`` with its earlier ``transform`` lambda."""
    rows = (
        events.filter("event_type = 'signup'")
        .groupBy("user_id")
        .agg(
            F.expr(
                "concat_ws(',', transform(sort_array(collect_list(event_id), false), "
                "x -> CAST(x AS STRING))) AS ids"
            )
        )
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def _cast_ids(spark, sf_dir: str) -> list:
    rows = REGISTRY["q_collect_sorted_ids"].fn(spark, sf_dir).collect()
    return sorted(tuple(r) for r in rows)


def test_id_cast_matches_transform_form_on_edge_ids(spark, tmp_path):
    ids = [-(2**63), -10, -1, 0, 1, 7, 10, 2**63 - 1]
    table = pa.table(
        {
            "event_id": pa.array(ids + [3], pa.int64()),
            "user_id": pa.array([1, 1, 1, 2, 2, 3, 3, 3, 4], pa.int64()),
            "event_type": ["signup"] * 8 + ["click"],
            "ts": pa.array([dt.datetime(2024, 1, 10)] * 9, pa.timestamp("us")),
        }
    )
    (tmp_path / "events").mkdir()
    sf_dir = str(tmp_path / "events")
    pq.write_table(table, f"{sf_dir}/events.parquet")
    got = _cast_ids(spark, sf_dir)
    assert got == _transform_ids(load_table(spark, sf_dir, "events"))
    assert dict(got)[1] == "-1,-10,-9223372036854775808"


def test_id_cast_matches_transform_form_on_test_data(spark, sf_dir):
    got = _cast_ids(spark, sf_dir)
    assert got
    assert got == _transform_ids(load_table(spark, sf_dir, "events"))


TRANSFORM_DOUBLE_VEC = "transform(embedding, x -> CAST(x AS DOUBLE))"

FLOAT_MAX = 3.4028234663852886e38
FLOAT_SUBNORMALS = [2.0**-149, -(2.0**-149), 2.0**-127]
EDGE_VECS = [
    [float("nan"), 0.0, -0.0, float("inf"), float("-inf")],
    FLOAT_SUBNORMALS + [FLOAT_MAX, -FLOAT_MAX, 1.0, -0.1],
    [0.5, None, -2.5],
    [],
    None,
]


def _hex_vecs(emb: DataFrame) -> tuple[list, list]:
    """(vec_id, each element as ``float.hex``) from ``double_vec`` and from
    the ``transform`` form, both sorted by vec_id: ``float.hex`` tells
    -0.0 from 0.0 and prints every bit of the mantissa."""
    rows = emb.selectExpr(
        "vec_id", f"{double_vec('embedding')} AS got", f"{TRANSFORM_DOUBLE_VEC} AS want"
    ).collect()

    def hexes(v):
        return None if v is None else [None if x is None else x.hex() for x in v]

    got = sorted((r.vec_id, hexes(r.got)) for r in rows)
    want = sorted((r.vec_id, hexes(r.want)) for r in rows)
    return got, want


def test_double_vec_cast_matches_transform_form_on_edge_floats(spark):
    emb = spark.createDataFrame(
        list(enumerate(EDGE_VECS)), "vec_id bigint, embedding array<float>"
    )
    got, want = _hex_vecs(emb)
    assert got == want
    by_id = dict(got)
    assert by_id[0] == ["nan", "0x0.0p+0", "-0x0.0p+0", "inf", "-inf"]
    assert by_id[1][:4] == [x.hex() for x in FLOAT_SUBNORMALS + [FLOAT_MAX]]
    assert by_id[2][1] is None
    assert by_id[3] == [] and by_id[4] is None


def test_double_vec_cast_matches_transform_form_on_test_data(spark, sf_dir):
    got, want = _hex_vecs(load_table(spark, sf_dir, "embeddings"))
    assert got
    assert got == want
