"""Two-phase bucketed dictionary rank (r22, VERDICT item 4): must assign
exactly the ids the old single-partition ``row_number() OVER (ORDER BY
key)`` assigned, while keeping the big sort partitioned (no
single-partition Exchange of the dictionary keys in the benched path)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from thisishappening_spark.operators.dedup import (
    doc_shingles,
    ranked_dictionary,
    shingle_dictionary,
)
from thisishappening_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ranked_dictionary_matches_global_row_number(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    new = ranked_dictionary(sh, "shingle", "sid")
    old = (
        sh.select("shingle")
        .distinct()
        .withColumn("sid", F.row_number().over(Window.orderBy("shingle")))
    )
    assert new.dtypes == old.dtypes  # sid stays INT (nullability may differ)
    joined = new.join(old.withColumnRenamed("sid", "old_sid"), "shingle")
    assert joined.filter("sid <> old_sid").count() == 0
    assert new.count() == old.count()


def test_ranked_dictionary_edge_keys(spark):
    """NULL, empty strings, keys shorter than the bucket prefix, shared
    prefixes, multibyte codepoints — the order-preserving-prefix argument
    must hold for all of them, and a NULL key ranks first as it does under
    ORDER BY."""
    rows = [
        (None,), ("",), ("a",), ("ab",), ("abc",), ("abcd",), ("abcde",),
        ("abce",), ("zzzz zzz",), ("éclair",), ("écla",), ("日本語テスト",),
        ("日本",), ("THE the",), ("the",), ("[",), ("{",),
    ]
    df = spark.createDataFrame(rows + rows, "k string")  # with duplicates
    # keyed by id: None does not sort against str
    new = {r["kid"]: r["k"] for r in ranked_dictionary(df, "k", "kid").collect()}
    old = {
        r["kid"]: r["k"]
        for r in df.select("k")
        .distinct()
        .withColumn("kid", F.row_number().over(Window.orderBy("k")))
        .collect()
    }
    assert new == old


def test_shingle_dictionary_rank_is_partitioned(spark, sf_dir):
    """The scale guard: the dictionary-key sort must not be a global
    window. The only SinglePartition exchange allowed in the plan is the
    O(buckets) count/offset table (carries the __c count column), never
    the key rows themselves."""
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(shingle_dictionary(doc_shingles(docs)))
    # row_number runs partitioned by the bucket prefix:
    assert "row_number()" in plan
    for frag in plan.split("Exchange SinglePartition")[1:]:
        # every single-partition exchange feeds the tiny per-bucket count
        # table (its child subtree mentions the __c count column), never
        # the key rows themselves
        child = "\n".join(frag.splitlines()[:4])
        assert "__c" in child, f"key rows cross a SinglePartition exchange:\n{child}"
