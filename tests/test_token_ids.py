"""Shingles and token ids computed in the row: ``doc_shingles`` must return
the rows of the ``transform(sequence(...))`` form it replaced, and
``dedup.token_id`` must equal the DuckDB expression the oracles use, on
edge strings and on every distinct shingle and token of the test data,
with no integer overflow in the hash arithmetic of either engine."""

from __future__ import annotations

import duckdb
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thisishappening_spark.operators.dedup import (
    MINHASH_PARAMS,
    SHINGLE_N,
    doc_shingles,
    token_id,
)
from thisishappening_spark.queries.llm import _token_id as duckdb_token_id
from thisishappening_spark.sources.tables import load_table

EDGE_TEXTS = [
    "alpha beta gamma delta",
    " leading space here now",
    "trailing space here now ",
    "double  space  in  text",
    "  ",
    "   ",
    "tab\tinside a token\t",
    "éclair au café crème brûlée",
    "日本語 テスト の 文 です",
    "emoji \U0001F600 in a \U0001F600 text",
    "two words",
    "one",
    "",
    None,
]


def _transform_shingles(docs: DataFrame) -> DataFrame:
    """The earlier ``doc_shingles``: a split, then a ``transform`` lambda
    over the token positions."""
    base = docs.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
    n = SHINGLE_N
    parts = ", ".join(f"element_at(__toks, i + {j})" for j in range(n))
    grams = (
        f"CASE WHEN size(__toks) < {n} THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) END"
    )
    return base.select("doc_id", F.expr(f"explode(array_distinct({grams})) AS shingle"))


def _rows(df: DataFrame) -> list[tuple]:
    return sorted((r["doc_id"], r["shingle"]) for r in df.collect())


def test_shingles_match_transform_form_on_edge_texts(spark):
    docs = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "doc_id bigint, text string")
    got = _rows(doc_shingles(docs))
    assert got == _rows(_transform_shingles(docs))
    assert (2, "here now ") in got  # a trailing empty token counts
    assert not [d for d, _ in got if EDGE_TEXTS[d] in ("two words", "one", "", None)]


def test_shingles_match_transform_form_on_test_data(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    got = _rows(doc_shingles(docs))
    assert got
    assert got == _rows(_transform_shingles(docs))


def _spark_ids(keys: DataFrame) -> dict:
    return {r["k"]: r["id"] for r in keys.selectExpr("k", f"{token_id('k')} AS id").collect()}


def _duckdb_ids(keys: list) -> dict:
    key_table = pa.table({"k": pa.array(keys, pa.string())})  # noqa: F841 (DuckDB reads it)
    return dict(duckdb.sql(f"SELECT k, {duckdb_token_id('k')} AS id FROM key_table").fetchall())


def test_token_id_matches_duckdb(spark, sf_dir):
    """Spark's ``token_id`` and the oracles' DuckDB expression give the
    same BIGINT for every key, and NULL for NULL."""
    edge = [None, "", "a", "éclair", "日本語テスト", "x" * 1000]
    docs = load_table(spark, sf_dir, "documents")
    keys = (
        spark.createDataFrame([(k,) for k in edge], "k string")
        .unionByName(doc_shingles(docs).selectExpr("shingle AS k"))
        .unionByName(docs.selectExpr("explode(split(text, ' ')) AS k"))
        .distinct()
    )
    got = _spark_ids(keys)
    assert len(got) > len(edge)
    assert got[None] is None
    assert all(0 <= v < 2**32 for k, v in got.items() if k is not None)
    assert got == _duckdb_ids(list(got))


def test_token_id_arithmetic_cannot_overflow():
    """Ids are below 2^32, so MinHash's a·id + b and the fingerprint's
    window hash stay inside a signed BIGINT in both engines."""
    max_id = 2**32 - 1
    max_a = max(a for a, _ in MINHASH_PARAMS)
    max_b = max(b for _, b in MINHASH_PARAMS)
    assert max_a * max_id + max_b < 2**63
    assert max_id * 961 + max_id * 31 + max_id < 2**43  # far below 2^63
