"""Similarity search over an embedding column (``array<float>``).

Two tiers, per the training-pipeline brief:

- **Brute-force cosine top-k** (the correctness baseline): queries are a
  small set, broadcast against the corpus; the dot product is a
  ``zip_with``/``aggregate`` column expression — whole-stage-codegen
  JVM-side, no Python, no explode. Per (query, candidate) pair the work is
  one fused array pass. The only shuffle is the final top-k aggregation,
  which moves k rows per query.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures put
  each vector into a bucket; only bucket-mates are scored. Candidate
  generation is an equi-join on the signature, so comparisons scale with
  bucket occupancy, not n². Hyperplanes come from a deterministic integer
  formula (no RNG state) so the operator is reproducible across runs and
  engines.

Both read an ``embeddings``-shaped frame: ``vec_id`` and an ``EMB_DIM``-long
``embedding``.

Determinism discipline (registry rules, registry.py): dot products and
norms quantize each double product to DECIMAL(28,15) and sum exactly, so
Spark and DuckDB agree bit-for-bit; the final cosine divides doubles whose
inputs are those exact decimals (sqrt and / are correctly rounded IEEE ops
→ identical across engines), then rounds to 6 dp.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic pseudo-random hyperplane component for plane p, dim i:
# seed = p*dim + i, comp = ((seed * HP_MULT + HP_C) mod HP_M) / HP_M - 0.5.
# The multiplier is Knuth's multiplicative-hash constant (2654435761 = odd
# ~golden-ratio * 2^32), so consecutive seeds wrap mod M many times over
# and the components decorrelate across planes — fully reproducible, no
# RNG state. Public because q_ann_lsh_topk's DuckDB oracle rebuilds the
# lattice from them.
HP_MULT = 2_654_435_761
HP_C = 12_345
HP_M = 2_147_483_647

EMB_DIM = 64  # length of every embedding vector
# The ANN index: LSH_TABLES tables of PLANES_PER_TABLE sign bits each, probed
# at the query's own bucket and every bucket one bit away.
LSH_TABLES = 8
PLANES_PER_TABLE = 4


def as_double_vec(col: str) -> Column:
    """array<float> → array<double> so arithmetic runs in IEEE double on
    every engine (float math widens differently between engines).

    Takes a column NAME and returns one parsed expression — this module's
    helpers are SQL-string builders because the Column-operator form of
    the scoring pipeline cost ~1250 Py4J round trips per construction
    (profiled r21) and the bench times construction on every run."""
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def dot_dec(a: str, b: str) -> str:
    """Decimal dot product: per-term quantize to DECIMAL(28,15), then a
    sequential left fold. NOTE (corrected r22): each step's ``acc + t`` is
    typed DECIMAL(38,14) by Spark's precision-loss adjustment (precision
    39 → 38 drops one scale digit, HALF_UP) BEFORE the re-CAST to (38,15),
    so the accumulator effectively lives at 14 dp and every result's 15th
    digit is zero — deterministic (arrays fold in element order), but NOT
    the exact 15 dp sum the r21 docstring claimed, and ~1e-14 away from
    the oracle's exact decimal SUM; harmless because every compared output
    rounds to 6 dp. An Arrow-batched bit-equal twin was built and rejected
    in r22 (OPTIMIZATION_r22.md §4): at bench scale the per-task Python
    worker handshakes of three ArrowEvalPython stages cost far more than
    the interpreted HOF they replace. Returns a SQL string over the named
    array columns."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x * y AS DECIMAL(28,15))), "
        f"CAST(0 AS DECIMAL(38,15)), (acc, t) -> CAST(acc + t AS DECIMAL(38,15)))"
    )


def norm2_dec(a: str) -> str:
    return dot_dec(a, a)


def cosine(dot: str, n2a: str, n2b: str) -> str:
    return (
        f"round(CAST({dot} AS DOUBLE) / (sqrt(CAST({n2a} AS DOUBLE)) * "
        f"sqrt(CAST({n2b} AS DOUBLE))), 6)"
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k: row_number over (cos desc,
    neighbor_id) — same window the Column form built, as one projection."""
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cos_sim",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos_sim DESC, neighbor_id) AS rank",
    ).filter(f"rank <= {k}")


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3) -> DataFrame:
    """Top-k cosine neighbors for each query vector (excluding self).

    Output: (query_id, neighbor_id, cos_sim, rank). Queries are broadcast
    (tiny side), so the corpus scan never shuffles; ranking uses
    row_number over (cos desc, neighbor_id) for a deterministic tie-break.
    """
    v = emb.select(F.col("vec_id").alias("vid"), as_double_vec("embedding").alias("v"))
    norms = v.select("vid", "v", F.expr(f"{norm2_dec('v')} AS n2"))
    q = norms.filter(F.col("vid").isin(query_ids)).selectExpr(
        "vid AS query_id", "v AS qv", "n2 AS qn2"
    )
    pairs = norms.join(F.broadcast(q), F.col("vid") != F.col("query_id"))
    scored = pairs.selectExpr(
        "query_id",
        "vid AS neighbor_id",
        f"{cosine(dot_dec('qv', 'v'), 'qn2', 'n2')} AS cos_sim",
    )
    return _topk(scored, k)


def _lattice_matrix(n_planes: int, dim: int):
    """The deterministic hyperplane lattice as an (n_planes, dim) float64
    matrix: component (p, i) = ((seed·KNUTH + C) mod M)/M − 0.5 with
    seed = p·dim + i. int64 arithmetic is exact here (max seed·KNUTH ≈
    5.4e12 ≪ 2^63), so the matrix is reproducible anywhere."""
    seeds = np.arange(n_planes * dim, dtype=np.int64)
    comp = ((seeds * HP_MULT + HP_C) % HP_M) / HP_M - 0.5
    return comp.reshape(n_planes, dim)


def lsh_buckets_udf():
    """Arrow-batched pandas UDF: vector → array of ``LSH_TABLES`` bucket
    ids (one ``PLANES_PER_TABLE``-bit bucket per table). Table t uses
    global planes [t·k, (t+1)·k) of the deterministic lattice.

    Dense (batch × dim) @ (dim × planes) is exactly what numpy/BLAS is
    for: one matmul per Arrow batch replaces 32 per-row expression
    evaluations. This is the sanctioned Pandas-UDF use — built-in column
    expressions can express the projection but at a 32×dim-term
    expression tree that bloats Catalyst and janino (measured 42 s vs
    <2 s on the same input). No shuffle: the buckets ride along with the
    scan.
    """
    from pyspark.sql.functions import pandas_udf

    H = _lattice_matrix(LSH_TABLES * PLANES_PER_TABLE, EMB_DIM).T  # dim × planes
    weights = 1 << np.arange(PLANES_PER_TABLE, dtype=np.int64)

    @pandas_udf("array<int>")
    def buckets(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy())  # batch × dim
        proj = mat @ H  # batch × (tables·k)
        bits = (proj > 0).astype(np.int64)
        bk = (bits.reshape(len(vs), LSH_TABLES, PLANES_PER_TABLE) * weights).sum(axis=2)
        return pd.Series(list(bk.astype("int32")))

    return buckets


def ann_lsh_topk(emb: DataFrame, query_ids: list[int], k: int = 3) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: score only candidates
    that share a bucket with the query in ≥1 of ``LSH_TABLES`` tables
    (expanded by the probes one bit away per table), then exact-rerank
    with the same cosine as the brute-force path.

    Scale: the index is ``LSH_TABLES`` small (tbl, bucket) entries per
    vector; candidate generation is an equi-join on (tbl, bucket), so the
    cost is Σ probed-bucket occupancies — not n². Recall follows the
    standard S-curve 1-(1-P_table)^L with per-bit p = 1-θ/π. Honest
    caveat: the synthetic test embeddings are isotropic random — the
    worst case for any ANN index (top-3 cosine ≈ 0.3, barely above
    noise) — so this index measured 0.93 recall@3 there only by probing
    a large corpus fraction. On real embedding corpora, where neighbors
    are genuinely close (p → 1), the same index is both high-recall and
    selective. The pytest harness measures recall against
    :func:`cosine_topk`.

    Rerank-cost note (r21): a (query, candidate) pair that collides in m
    of the L·(1+probes) probed buckets used to be scored m times and
    deduped on the scores; candidates are now deduped BEFORE the exact
    rerank (measured multiplicity 3.1× on the sf0.1 fixture), so each
    pair pays the decimal-exact dot product once.

    Dedup keying: the dedup groups on the bare (query_id, vid) pair and
    re-attaches (v, n2) with ``first()``. (v, n2) are functionally
    determined by vid, so grouping hashes and compares two longs rather
    than normalizing a 64-double array per collision row
    (``knownfloatingpointnormalized(transform(v, …))``, which
    test_plans.py keeps out of the executed plan).
    """
    v = emb.select(F.col("vec_id").alias("vid"), as_double_vec("embedding").alias("v"))
    base = v.select("vid", "v", F.expr(f"{norm2_dec('v')} AS n2"))
    buckets = lsh_buckets_udf()
    ent = base.select(
        "vid", "v", "n2", F.posexplode(buckets(F.col("v"))).alias("tbl", "bucket")
    )
    probes = ["bucket"] + [f"bucket ^ {1 << j}" for j in range(PLANES_PER_TABLE)]
    q = ent.filter(F.col("vid").isin(query_ids)).selectExpr(
        "vid AS query_id",
        "tbl AS q_tbl",
        f"explode(array({', '.join(probes)})) AS probe_bucket",
    )
    cand = ent.join(
        F.broadcast(q),
        F.expr("tbl = q_tbl AND bucket = probe_bucket AND vid != query_id"),
    )
    # Dedup before the rerank, keyed on (query_id, vid) (see docstring).
    # r22 A/B (8 rounds/side): 1.99/1.28 vs 1.94/1.39 med-of-med/min —
    # a wash on medians, min favors this; bit-identical at three SFs. An
    # ids-only distinct + corpus re-join variant was also built and
    # rejected (consistent ~0.85× locally: the extra join stage cost more
    # than the slimmer exchange saved, and selective probing favors
    # shuffling only candidate vectors at scale anyway).
    uniq = cand.groupBy("query_id", "vid").agg(
        F.first("v").alias("v"), F.first("n2").alias("n2")
    )
    qtab = base.filter(F.col("vid").isin(query_ids)).selectExpr(
        "vid AS query_id", "v AS qv", "n2 AS qn2"
    )
    scored = uniq.join(F.broadcast(qtab), "query_id").selectExpr(
        "query_id",
        "vid AS neighbor_id",
        f"{cosine(dot_dec('qv', 'v'), 'qn2', 'n2')} AS cos_sim",
    )
    return _topk(scored, k)
