"""LLM-data-pipeline operators: the LLM subset of the DuckDB oracle check,
semantic unit tests that the oracles (tests/test_queries_oracle.py) cannot
express — dup collapse, MinHash and ANN recall against exact answers,
lattice diversity — plus plan guards on the dedup and ANN operators."""

from __future__ import annotations

import math

import pytest

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
    true_rows = jaccard_pairs(docs, threshold=0.5).collect()
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
        for r in cosine_topk(emb, COSINE_QUERY_IDS, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_topk(emb, COSINE_QUERY_IDS, k=3).collect()
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
    jaccard_pairs(docs, threshold=0.5).collect()
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
    from thisishappening_spark.operators.similarity import (
        as_double_vec,
        lsh_buckets_udf,
    )
    from thisishappening_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = (
        emb.select(lsh_buckets_udf()(as_double_vec("embedding")).alias("b"))
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
    on the EXECUTED plan — a Spark upgrade that breaks reuse triples the
    most expensive subtree and must fail here."""
    from thisishappening_spark.operators.dedup import jaccard_pairs
    from thisishappening_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = jaccard_pairs(docs, threshold=0.5)
    df.collect()  # materialize so the AQE final plan (with reuse) exists
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, (
        "groupBy(shingle) postings exchange no longer reused — "
        "shingle lineage now recomputes per consumer"
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
    """r21: a (query, candidate) pair colliding in m probed buckets must
    be deduped BEFORE the decimal-exact dot product (measured 3.1×
    multiplicity on the fixture). In the executed plan the scoring
    projection (the zip_with dot) therefore sits ABOVE the distinct
    HashAggregate; if scoring moves back below the dedup this ordering
    flips. Also pin: the bucket UDF evaluates once per side (2 Arrow
    nodes), never more (guide §4.4 duplication)."""
    from thisishappening_spark.operators.similarity import ann_lsh_topk
    from thisishappening_spark.queries.llm import COSINE_QUERY_IDS
    from thisishappening_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = ann_lsh_topk(emb, COSINE_QUERY_IDS, k=3)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString prints the final plan followed by the initial plan —
    # assert on the final (executed) section only.
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("ArrowEvalPython") <= 2, "bucket UDF evaluated >2x"
    # r22: the dedup is a first()-aggregate keyed on (query_id, vid) and
    # may plan as Sort/Hash/ObjectHashAggregate depending on AQE sizing.
    assert "zip_with" in plan and "Aggregate" in plan
    assert plan.index("zip_with") < plan.index("Aggregate"), (
        "exact rerank runs below the candidate dedup — every bucket "
        "collision pays the decimal dot again"
    )


def test_ann_scores_are_exact_cosines(spark, sf_dir):
    """Every q_ann_lsh_topk row carries the exact cosine of its (query,
    neighbor) pair, and ranks follow (cos_sim desc, neighbor_id) within a
    query. q_cosine_topk's decimal-cosine oracle, fed only the pairs the
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
