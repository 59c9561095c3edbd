"""Similarity search over an embedding column (``array<float>``).

Two tiers, per the training-pipeline brief:

- **Brute-force cosine top-k** (the correctness baseline): queries are a
  small set, broadcast against the corpus; the dot product is a
  ``zip_with``/``aggregate`` column expression — whole-stage-codegen
  JVM-side, no Python, no explode. Per (query, candidate) pair the work is
  one fused array pass. The only shuffle is the final top-k aggregation,
  which moves ``TOP_K`` rows per query.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures put
  each vector into a bucket; only bucket-mates are scored. Candidate
  generation is an equi-join on the signature, so comparisons scale with
  bucket occupancy, not n². Hyperplanes come from a deterministic integer
  formula (no RNG state) so the operator is reproducible across runs and
  engines.

Both read an ``embeddings``-shaped frame: ``vec_id`` and an ``EMB_DIM``-long
``embedding``.

Determinism discipline (registry rule 1, registry.py): a dot product or
norm is a fold inside one row, so it runs in IEEE double: a left fold in
element order, one rounded multiply and one rounded add per step. Both
engines fix that order, so Spark and the DuckDB oracle's ``list_reduce``
return identical bits (tests/test_llm_ops.py checks every norm and
query×corpus dot). The cosine then divides by the product of the two
square roots (correctly rounded IEEE ops) and rounds to 6 dp.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thisishappening_spark.sqlexpr import in_list

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
TOP_K = 3  # neighbors kept per query vector

# The lattice as a (dim × planes) float64 matrix: column p, row i is the
# component of plane p, dim i above. int64 arithmetic is exact here (the
# largest seed·HP_MULT is about 5.4e12, far below 2^63), so the matrix is
# the same anywhere.
_LATTICE = (
    (np.arange(LSH_TABLES * PLANES_PER_TABLE * EMB_DIM, dtype=np.int64) * HP_MULT + HP_C)
    % HP_M / HP_M - 0.5
).reshape(LSH_TABLES * PLANES_PER_TABLE, EMB_DIM).T


def double_vec(col: str) -> str:
    """array<float> → array<double> so arithmetic runs in IEEE double on
    every engine (float math widens differently between engines). Widening
    a float to a double is exact, so one built-in cast gives the bits an
    element-wise ``transform`` lambda would. Takes a column name and
    returns a SQL string, as this module's helpers do (sqlexpr.py)."""
    return f"CAST({col} AS ARRAY<DOUBLE>)"


def dot(a: str, b: str) -> str:
    """Dot product of two array<double> columns: a left fold in element
    order, one IEEE double op per step. Returns a SQL string over the named
    array columns."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, t) -> acc + t)"


def _vectors(emb: DataFrame, query_ids: list[int]) -> tuple[DataFrame, DataFrame]:
    """The corpus as (vid, v, n2), each vector in double with its squared
    norm, and the query vectors among it as (query_id, qv, qn2)."""
    v = emb.selectExpr("vec_id AS vid", f"{double_vec('embedding')} AS v")
    base = v.selectExpr("vid", "v", f"{dot('v', 'v')} AS n2")
    q = base.filter(in_list("vid", [str(i) for i in query_ids])).selectExpr(
        "vid AS query_id", "v AS qv", "n2 AS qn2"
    )
    return base, q


def _score_topk(pairs: DataFrame) -> DataFrame:
    """Score (query_id, vid, v, n2, qv, qn2) pairs by cosine, rounded to
    6 dp, and keep each query's top ``TOP_K`` by (cos desc, neighbor_id), a
    deterministic tie-break."""
    scored = pairs.selectExpr(
        "query_id",
        "vid AS neighbor_id",
        f"round({dot('qv', 'v')} / (sqrt(qn2) * sqrt(n2)), 6) AS cos_sim",
    )
    return scored.selectExpr(
        "query_id",
        "neighbor_id",
        "cos_sim",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos_sim DESC, neighbor_id) AS rank",
    ).filter(f"rank <= {TOP_K}")


def cosine_topk(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """Top-``TOP_K`` cosine neighbors for each query vector (excluding self).

    Output: (query_id, neighbor_id, cos_sim, rank). Queries are broadcast
    (tiny side) into a nested-loop join, so the corpus scan never shuffles.
    The hint is for corpora at scale: without CBO Spark sizes the filtered
    query side as the whole corpus, above the broadcast threshold.
    """
    base, q = _vectors(emb, query_ids)
    return _score_topk(base.join(F.broadcast(q), F.expr("vid != query_id")))


def lsh_buckets_udf():
    """Arrow UDF: an ``EMB_DIM``-long ``array<double>`` vector → its
    ``LSH_TABLES`` bucket ids. Table t's bucket packs the sign bits of
    lattice planes [t·k, (t+1)·k), k = ``PLANES_PER_TABLE``, plane t·k + j
    as bit j.

    Each Arrow batch is one (batch × dim) @ (dim × planes) matmul in numpy
    over the batch's flattened values, returned as a list array without
    a per-row Python object. The buckets ride along with the scan: no
    shuffle. The SQL higher-order-function forms measured slower (ROADMAP
    item 6).
    """
    from pyspark.sql.functions import arrow_udf

    weights = 1 << np.arange(PLANES_PER_TABLE, dtype=np.int64)

    @arrow_udf("array<int>")
    def buckets(vs: pa.Array) -> pa.Array:
        n = len(vs)
        bits = vs.flatten().to_numpy().reshape(n, EMB_DIM) @ _LATTICE > 0
        bk = (bits.reshape(n, LSH_TABLES, PLANES_PER_TABLE) * weights).sum(axis=2)
        offsets = np.arange(0, (n + 1) * LSH_TABLES, LSH_TABLES, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, bk.astype(np.int32).ravel())

    return buckets


def ann_lsh_topk(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """Approximate top-``TOP_K`` via multi-table sign-LSH: score only candidates
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

    Both joins broadcast the query side by hint, as :func:`cosine_topk`.

    Candidates are deduped on (query_id, vid) BEFORE the exact rerank, so a
    pair that collides in m of the probed buckets is scored once, not m
    times. The dedup groups on the two ids and re-attaches (v, n2) with
    ``first()``: (v, n2) are functionally determined by vid, so grouping
    hashes and compares two longs rather than normalizing a 64-double
    array per collision row (``knownfloatingpointnormalized(transform(v,
    …))``, which test_plans.py keeps out of the executed plan). Shuffling
    only the candidates also beats an ids-only distinct re-joined to the
    corpus, whose extra join stage cost more than the slimmer exchange
    saved.
    """
    base, qtab = _vectors(emb, query_ids)
    buckets = lsh_buckets_udf()
    ent = base.select(
        "vid", "v", "n2", F.posexplode(buckets("v")).alias("tbl", "bucket")
    )
    probes = ["bucket"] + [f"bucket ^ {1 << j}" for j in range(PLANES_PER_TABLE)]
    q = ent.filter(in_list("vid", [str(i) for i in query_ids])).selectExpr(
        "vid AS query_id",
        "tbl AS q_tbl",
        f"explode(array({', '.join(probes)})) AS probe_bucket",
    )
    cand = ent.join(
        F.broadcast(q),
        F.expr("tbl = q_tbl AND bucket = probe_bucket AND vid != query_id"),
    )
    uniq = cand.groupBy("query_id", "vid").agg(F.expr("first(v) AS v"), F.expr("first(n2) AS n2"))
    return _score_topk(uniq.join(F.broadcast(qtab), "query_id"))
