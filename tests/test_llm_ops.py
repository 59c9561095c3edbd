"""LLM-data-pipeline operators: the LLM subset of the DuckDB oracle check,
semantic unit tests that the oracles (tests/test_queries_oracle.py) cannot
express — dup collapse, MinHash and ANN recall against exact answers,
lattice diversity — plus plan guards on the dedup and ANN operators."""

from __future__ import annotations

import math
import re

import pytest

from tests.executed_plans import final_plan
from tests.oracle import compare

DIFF_QUERIES = [
    "q_exact_dedup_groups",
    "q_ngram_jaccard_pairs",
    "q_minhash_lsh_pairs",
    "q_simhash",
    "q_cosine_topk",
    "q_doc_stats",
    "q_quality_filter",
    "q_lang_id_distribution",
    "q_doc_fingerprint",
]


@pytest.mark.parametrize("name", DIFF_QUERIES)
def test_differential(spark, sf_dir, name):
    compare(spark, sf_dir, name)


def test_exact_dedup_collapses_duplicates(spark):
    from thisishappening_spark.operators.dedup import exact_dedup_groups

    docs = spark.createDataFrame(
        [
            (1, "The quick brown fox"),
            (2, "  the   QUICK brown\tfox "),  # same after normalize
            (3, "jumps over the lazy dog"),
            (4, "jumps over the lazy dog"),
            (5, "unique text"),
        ],
        "doc_id bigint, text string",
    )
    groups = {r["keep_doc_id"]: r["n_docs"] for r in exact_dedup_groups(docs).collect()}
    assert groups == {1: 2, 3: 2, 5: 1}


def test_minhash_estimates_track_true_jaccard(spark, sf_dir):
    """LSH candidates at est≥0.5 should largely coincide with true
    Jaccard≥0.5 pairs (the generator's planted near-dups)."""
    from thisishappening_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs
    from thisishappening_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    true_rows = jaccard_pairs(docs).collect()
    # LSH S-curve for 4 bands x 4 rows: P(candidate) = 1-(1-J^4)^4, which
    # is ~0.67 at J=0.7 but >=0.88 at J=0.8 — so only pairs with true
    # J>=0.8 carry a provably-high recall expectation. Measure recall on
    # that subset (the generator's planted dups are near-identical).
    strong_pairs = {
        (r["doc_a"], r["doc_b"]) for r in true_rows if r["jaccard"] >= 0.8
    }
    est = minhash_lsh_pairs(docs).collect()
    est_pairs = {(r["doc_a"], r["doc_b"]) for r in est if r["est_jaccard"] >= 0.5}
    assert strong_pairs, "generator should plant near-dups"
    recall = len(strong_pairs & est_pairs) / len(strong_pairs)
    assert recall >= 0.7, f"minhash recall too low: {recall} ({est_pairs} vs {strong_pairs})"


def test_ann_lsh_recall(spark, sf_dir):
    from thisishappening_spark.operators.similarity import ann_lsh_topk, cosine_topk
    from thisishappening_spark.queries.llm import COSINE_QUERY_IDS
    from thisishappening_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, COSINE_QUERY_IDS).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_topk(emb, COSINE_QUERY_IDS).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Deterministic lattice + fixed data → deterministic result; measured
    # 0.93 with the 8×4-bit tables and Hamming-1 probes.
    assert recall >= 0.7, f"ANN recall too low: {recall}"


def test_simhash_identical_texts_collide(spark):
    """Identical texts get identical fingerprints, fingerprints stay
    within 16 bits, and dissimilar texts do not collide on the tiny
    fixture."""
    from thisishappening_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "completely unrelated words in this other document"),
        ],
        "doc_id bigint, text string",
    )
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fp[1] == fp[2]
    assert all(0 <= v < (1 << 16) for v in fp.values())
    assert fp[1] != fp[3]


def test_doc_fingerprint_identical_texts_collide(spark):
    """Identical texts get identical fingerprints, different texts do not
    collide on the tiny fixture, and a text shorter than the window has a
    NULL fingerprint."""
    from thisishappening_spark.operators.textstats import doc_fingerprint

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa lambda"),
            (4, "ab"),  # fewer tokens than the window → NULL fingerprint
        ],
        "doc_id bigint, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    assert fp[4] is None


def test_doc_fingerprint_skips_null_text(spark):
    """A document with NULL text has no fingerprint row, as in the oracle,
    while an empty text keeps its row with a NULL fingerprint."""
    from thisishappening_spark.operators.textstats import doc_fingerprint

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "")],
        "doc_id bigint, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(docs).collect()}
    assert sorted(fp) == [1, 3]
    assert fp[1] is not None and fp[3] is None


def test_dedup_ops_leave_no_cache_behind(spark, sf_dir):
    """jaccard_pairs / minhash_lsh_pairs rely on exchange reuse, not
    persist; after the call returns, the session-level cache must be empty
    (the round-5–11 leak left one entry per call alive forever). Since
    034b7d3 neither operator persists anything, so this is a regression
    guard against persist/cache being reintroduced, not a live check —
    the companion exchange-reuse assertion lives in
    test_ngram_jaccard_reuses_postings_exchange."""
    from thisishappening_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs
    from thisishappening_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    jaccard_pairs(docs).collect()
    minhash_lsh_pairs(docs).collect()
    n_cached = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    assert n_cached == 0, f"{n_cached} cached plans leaked"


def test_hyperplane_buckets_diverse(spark, sf_dir):
    """The deterministic hyperplane lattice must actually partition the
    corpus: many distinct buckets, and no single bucket hoarding the
    vectors (a degenerate lattice collapses everything into ~2 buckets,
    which silently turns ANN into brute force). Tables 0 and 1 of the ANN
    operator's bucket UDF together are the lattice's first 8 planes, so
    bucket[0] + 16 * bucket[1] is the 8-bit sign code of those planes."""
    from pyspark.sql import functions as F

    from thisishappening_spark.operators.similarity import double_vec, lsh_buckets_udf
    from thisishappening_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = (
        emb.select(lsh_buckets_udf()(F.expr(double_vec("embedding"))).alias("b"))
        .selectExpr("b[0] + 16 * b[1] AS bucket")
        .groupBy("bucket")
        .count()
        .collect()
    )
    n_vecs = sum(r["count"] for r in buckets)
    assert len(buckets) >= 16, f"only {len(buckets)} distinct buckets"
    assert max(r["count"] for r in buckets) <= n_vecs * 0.25, (
        "one bucket holds >25% of vectors — lattice not splitting directions"
    )


def test_bucket_udf_matches_oracle_buckets(spark, sf_dir):
    """The bucket UDF gives every (vec_id, tbl) the bucket that
    q_ann_lsh_topk's DuckDB oracle computes, so the oracle checks the
    index itself and not only the rows it leads to. Prints the smallest
    |projection|: the margin by which no sign bit can differ between the
    engines' summation orders."""
    from pyspark.sql import functions as F

    from thisishappening_spark.operators.similarity import (
        LSH_TABLES,
        PLANES_PER_TABLE,
        double_vec,
        lsh_buckets_udf,
    )
    from thisishappening_spark.queries.llm import _ANN_BUCKETS, _HP_DOT
    from thisishappening_spark.sources.tables import load_table

    from tests.oracle import duckdb_conn

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", lsh_buckets_udf()(F.expr(double_vec("embedding"))).alias("b"))
    got = {(r["vec_id"], t): b for r in rows.collect() for t, b in enumerate(r["b"])}
    con = duckdb_conn(sf_dir)
    want = {
        (v, t): b
        for v, t, b in con.sql(f"WITH {_ANN_BUCKETS} SELECT vec_id, tbl, bucket FROM buckets").fetchall()
    }
    assert len(want) == LSH_TABLES * emb.count()
    assert got == want
    (smallest,) = con.sql(
        f"SELECT min(list_min(list_transform(range(0, {PLANES_PER_TABLE}), j -> abs({_HP_DOT}))))"
        f" FROM embeddings, (SELECT unnest(range(0, {LSH_TABLES})) AS tbl)"
    ).fetchone()
    print(f"smallest |projection| on {sf_dir}: {smallest:.3e}")


def test_ann_rows_shape(spark, sf_dir):
    """Pin q_ann_lsh_topk's column order, which the oracle comparison
    (keyed by column name) does not check."""
    from thisishappening_spark.queries import REGISTRY

    df = REGISTRY["q_ann_lsh_topk"].fn(spark, sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "query_id",
        "neighbor_id",
        "cos_sim",
        "rank",
    ]
    rows = df.collect()
    assert len(rows) >= 1
    assert all(r["rank"] <= 3 for r in rows)


def test_ngram_jaccard_reuses_postings_exchange(spark, sf_dir):
    """jaccard_pairs derives sizes and candidate pairs from the SAME
    groupBy(shingle) postings subtree and relies on exchange reuse so the
    shingle lineage runs once per action. The reuse fires at AQE stage
    materialization (the pre-execution plan shows three copies), so assert
    on the final plan that the shingle exchange itself is read back as a
    ReusedExchange (the per-doc sizes broadcast is reused too, which says
    nothing about the postings) — a Spark upgrade that breaks reuse
    triples the most expensive subtree and must fail here."""
    from thisishappening_spark.operators.dedup import jaccard_pairs
    from thisishappening_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = final_plan(jaccard_pairs(docs))
    assert re.search(r"ReusedExchange \[[^\]]*\], Exchange hashpartitioning\(shingle#", plan), (
        "groupBy(shingle) postings exchange no longer reused — "
        "shingle lineage now recomputes per consumer\n" + plan
    )


def test_minhash_bucket_cap_drops_oversized_buckets(spark):
    """max_bucket_df (the production skew guard): a duplicate cluster
    larger than the cap stops emitting O(df²) pairs; None keeps today's
    exact behavior."""
    from thisishappening_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(1, 5)]
        + [(10, "some entirely different words here now")],
        "doc_id bigint, text string",
    )
    uncapped = minhash_lsh_pairs(docs).collect()
    assert len(uncapped) == 6  # the 4-dup cluster: C(4,2) pairs
    wide_cap = minhash_lsh_pairs(docs, max_bucket_df=10).collect()
    assert sorted(map(tuple, wide_cap)) == sorted(map(tuple, uncapped))
    capped = minhash_lsh_pairs(docs, max_bucket_df=3).collect()
    assert capped == []  # every colliding bucket holds the whole 4-cluster


def test_ann_dedups_candidates_before_rerank(spark, sf_dir):
    """A (query, candidate) pair colliding in m probed buckets must
    be deduped BEFORE the exact dot product (measured 3.1×
    multiplicity on the fixture). In the executed plan the scoring
    projection (the zip_with dot) therefore sits ABOVE the distinct
    HashAggregate; if scoring moves back below the dedup this ordering
    flips. Also pin: the bucket UDF evaluates once per side (2 Arrow
    nodes), never more."""
    from thisishappening_spark.operators.similarity import ann_lsh_topk
    from thisishappening_spark.queries.llm import COSINE_QUERY_IDS
    from thisishappening_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = final_plan(ann_lsh_topk(emb, COSINE_QUERY_IDS))
    assert plan.count("ArrowEvalPython") <= 2, "bucket UDF evaluated >2x"
    # The dedup is a first()-aggregate keyed on (query_id, vid) and may
    # plan as Sort/Hash/ObjectHashAggregate depending on AQE sizing.
    assert "zip_with" in plan and "Aggregate" in plan
    assert plan.index("zip_with") < plan.index("Aggregate"), (
        "exact rerank runs below the candidate dedup — every bucket "
        "collision pays the dot product again"
    )


def test_ann_scores_are_exact_cosines(spark, sf_dir):
    """Every q_ann_lsh_topk row carries the exact cosine of its (query,
    neighbor) pair, and ranks follow (cos_sim desc, neighbor_id) within a
    query. q_cosine_topk's cosine oracle, fed only the pairs the
    ANN query returned, must give back exactly those rows. Unlike
    test_oracle_match, this does not rebuild the LSH candidates, so a
    score or rank fault is reported apart from a bucket fault."""
    from tests.oracle import duckdb_conn
    from thisishappening_spark.queries import REGISTRY
    from thisishappening_spark.queries.llm import _cosine_top3_sql

    rows = REGISTRY["q_ann_lsh_topk"].fn(spark, sf_dir).collect()
    assert rows
    pairs = ", ".join(f"({r.query_id}, {r.neighbor_id})" for r in rows)
    con = duckdb_conn(sf_dir)
    exact = con.sql(_cosine_top3_sql(f"""
        pairs AS (SELECT * FROM (VALUES {pairs}) p(query_id, neighbor_id))
    """)).fetchall()
    want = {(q, n): (cos, rank) for q, n, cos, rank in exact}
    assert len(want) == len(rows), "a (query, neighbor) pair repeats"
    for r in rows:
        cos, rank = want[(r.query_id, r.neighbor_id)]
        assert math.isclose(r.cos_sim, cos, rel_tol=1e-9, abs_tol=1e-9), (
            f"query {r.query_id} neighbor {r.neighbor_id}: cos_sim {r.cos_sim} != {cos}"
        )
        assert r.rank == rank, (
            f"query {r.query_id} neighbor {r.neighbor_id}: rank {r.rank} != {rank}"
        )


def test_cosine_fold_matches_duckdb_bit_for_bit(spark, sf_dir):
    """Registry rule 1's second case: a fold inside one row runs in IEEE
    double, because both engines fix its order. similarity.dot and the
    oracle's DuckDB fold must return identical bits for every vector's
    squared norm and every query × corpus dot — compared with ==, no
    tolerance."""
    from pyspark.sql import functions as F

    from tests.oracle import duckdb_conn
    from thisishappening_spark.operators.similarity import dot, double_vec
    from thisishappening_spark.queries.llm import COSINE_QUERY_IDS, _emb_dot
    from thisishappening_spark.sources.tables import load_table

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(double_vec("embedding")).alias("v")
    )
    q = v.filter(v.vec_id.isin(COSINE_QUERY_IDS)).selectExpr(
        "vec_id AS query_id", "v AS qv"
    )
    rows = (
        v.selectExpr("NULL", "vec_id", dot("v", "v")).collect()
        + q.crossJoin(v).selectExpr("query_id", "vec_id", dot("qv", "v")).collect()
    )
    got = {(r[0], r[1]): r[2] for r in rows}
    ids = ", ".join(map(str, COSINE_QUERY_IDS))
    con = duckdb_conn(sf_dir)
    want = {
        (qi, i): d
        for qi, i, d in con.sql(f"""
            SELECT NULL, vec_id, {_emb_dot("embedding", "embedding")} FROM embeddings
            UNION ALL
            SELECT q.vec_id, e.vec_id, {_emb_dot("q.embedding", "e.embedding")}
            FROM embeddings q, embeddings e WHERE q.vec_id IN ({ids})
        """).fetchall()
    }
    assert got.keys() == want.keys()
    diff = [(k, got[k], want[k]) for k in sorted(want, key=str) if got[k] != want[k]]
    assert not diff, (
        f"{len(diff)} of {len(want)} folds differ; first "
        f"((query_id, or None for a norm, vec_id), spark, duckdb): {diff[0]}"
    )
