"""LLM-training-data-pipeline correctness queries over the ``documents``
and ``embeddings`` tables: dedup (exact / n-gram Jaccard / MinHash-LSH /
SimHash), similarity search (brute-force cosine top-k + LSH ANN), and text
analysis (stats, quality, language ID, fingerprints).

Every oracle reproduces the Spark arithmetic exactly (see registry.py):
integer dictionary IDs + fixed ``(a·x+b) mod p`` permutations make the
hash family engine-portable, and the ANN hyperplanes come from one integer
formula; ratios divide BIGINTs; dot products quantize per-term to
DECIMAL(28,15) before the exact sum.

The operators live in ``operators/dedup.py`` / ``operators/similarity.py``
/ ``operators/textstats.py`` with the 100 TB shuffle story per docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thisishappening_spark.operators import dedup, similarity, textstats
from thisishappening_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MAX_SHINGLE_DF,
    MINHASH_K,
    MINHASH_P,
    MINHASH_PARAMS,
    SIMHASH_BITS,
)
from thisishappening_spark.operators.similarity import (
    EMB_DIM,
    HP_C,
    HP_M,
    HP_MULT,
    LSH_TABLES,
    PLANES_PER_TABLE,
)
from thisishappening_spark.registry import query
from thisishappening_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

# Per-doc distinct word trigrams: t[i:i+2] is DuckDB's inclusive 3-slice.
_SHINGLES_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 1, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM toks
)
"""

_SHINGLE_DICT_CTE = """
dict AS (
  SELECT shingle, row_number() OVER (ORDER BY shingle) AS sid
  FROM (SELECT DISTINCT shingle FROM sh)
),
ids AS (SELECT doc_id, sid FROM sh JOIN dict USING (shingle))
"""

_MH_MINS = ",\n         ".join(
    f"MIN(({a} * sid + {b}) % {MINHASH_P}) AS mh{i}"
    for i, (a, b) in enumerate(MINHASH_PARAMS)
)

_BAND_SELECTS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band, concat_ws('_', {cols}) AS band_key FROM mh".format(
        b=b,
        cols=", ".join(f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)),
    )
    for b in range(LSH_BANDS)
)

_MH_MATCHES = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(MINHASH_K)
)

_SIMHASH_SUMS = ",\n         ".join(
    f"SUM(((({a} * tid + {b}) % {MINHASH_P}) % 2) * 2 - 1) AS v{j}"
    for j, (a, b) in enumerate(MINHASH_PARAMS[:SIMHASH_BITS])
)
_SIMHASH_FP = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
)

_EN_IN = ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS)
_ES_IN = ", ".join(f"'{w}'" for w in textstats.ES_STOPWORDS)
_FR_IN = ", ".join(f"'{w}'" for w in textstats.FR_STOPWORDS)

COSINE_QUERY_IDS = [0, 1, 2, 3, 4]
_QUERY_IN = ", ".join(str(i) for i in COSINE_QUERY_IDS)


def _cosine_top3_sql(pairs_ctes: str) -> str:
    """Oracle for a cosine top-3 over candidate pairs: ``pairs_ctes``
    defines CTEs ending in ``pairs(query_id, neighbor_id)``; each pair is
    scored with the decimal-quantized cosine (registry rule 1) and ranked
    by (cos_sim desc, neighbor_id) within its query."""
    return f"""
    WITH {pairs_ctes.strip()},
    pos AS (SELECT unnest(range(1, {EMB_DIM + 1})) AS i),
    norms AS (
      SELECT vec_id,
             SUM(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                 AS DECIMAL(28,15))) AS n2
      FROM embeddings, pos GROUP BY vec_id
    ),
    dots AS (
      SELECT p.query_id, p.neighbor_id,
             SUM(CAST(CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
                 AS DECIMAL(28,15))) AS dot
      FROM pairs p
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings e ON e.vec_id = p.neighbor_id, pos
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND(CAST(dot AS DOUBLE)
                   / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nn.n2 AS DOUBLE))),
                   6) AS cos_sim
      FROM dots
      JOIN norms nq ON dots.query_id = nq.vec_id
      JOIN norms nn ON dots.neighbor_id = nn.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """


# Projection of ``embedding`` on plane tbl·K + j of the hyperplane lattice
# (similarity._lattice_matrix), products and left fold in IEEE double as in
# the bucket UDF's matmul. Every operand is cast explicitly: DuckDB types a
# bare 2147483647.0 as DECIMAL.
_HP_DOT = (
    f"list_reduce(list_transform(range(0, {EMB_DIM}), i -> CAST(embedding[i + 1] AS DOUBLE)"
    f" * (CAST((((tbl * {PLANES_PER_TABLE} + j) * {EMB_DIM} + i) * {HP_MULT} + {HP_C})"
    f" % {HP_M} AS DOUBLE) / CAST({HP_M} AS DOUBLE) - CAST(0.5 AS DOUBLE))), (a, y) -> a + y)"
)


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "q_exact_dedup_groups",
    f"""
    SELECT md5({_NORM}) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5 over normalized text, keep-first doc id.

    Scale: shuffles 32-hex keys + partial (min, count) — never the text.
    (Training-pipeline dedup surface; collapse semantics pytest-covered on
    a fixture with planted duplicates.)
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs)


@query(
    "q_ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter)
               AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.5
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.5 (the generator plants
    near-duplicate documents; this finds them).

    Scale: inverted-index equi-join on the shingle — only docs sharing a
    shingle meet; the stop-shingle cap (df ≤ 100) bounds the pair fan-out
    a hot shingle could otherwise create; Jaccard is an exact BIGINT
    ratio (no quantization).

    fan_out: the interpreted shingle transform fuses into the scan stage,
    so a narrow parquet layout (fewer row groups than cores) serializes it
    — redistribute first (r21; no-op on production-sized inputs).
    Re-validated r22 under cold-session interleaved A/B (6 rounds/side):
    kept — medians a wash (2.97 vs 2.84 s), min-of-all favors fan-out
    (1.60 vs 2.17 s); here the exchange is paid once and the whole heavy
    postings pipeline sits above it.
    """
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup.jaccard_pairs(docs, threshold=0.5)


@query(
    "q_minhash_lsh_pairs",
    f"""
    WITH {_SHINGLES_CTE.strip()},
    {_SHINGLE_DICT_CTE.strip()},
    mh AS (
      SELECT doc_id,
         {_MH_MINS}
      FROM ids GROUP BY doc_id
    ),
    bands AS (
    {_BAND_SELECTS}
    ),
    pairs AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM bands l
      JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
                  AND l.doc_id < r.doc_id
    )
    SELECT doc_a, doc_b, ({_MH_MATCHES}) / {MINHASH_K}.0 AS est_jaccard
    FROM pairs
    JOIN mh a ON doc_a = a.doc_id
    JOIN mh b ON doc_b = b.doc_id
    """,
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH candidate pairs (16 hashes, 4 bands of 4 rows) with the
    signature-estimated Jaccard.

    Scale: candidates come from grouping on (band, band_key) — never an
    all-pairs comparison.

    fan-out: REVERTED r22. The r21 round-robin exchange before the shingle
    transform measured 0.66× in the driver's environment; the r22
    cold-session interleaved A/B (6 rounds/side, fresh JVM, bench
    methodology) confirmed it: fan-out median-of-medians 8.67 s vs 3.57 s
    without, min-of-all 3.82 vs 2.53 s. Unlike q_ngram_jaccard_pairs this
    plan traverses the shingle subtree twice (ids + dictionary sides), so
    the full-pass exchange is paid twice but the narrow-scan serialization
    it fixes is amortized over less downstream work per pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs)


@query(
    "q_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    dict AS (
      SELECT tok, row_number() OVER (ORDER BY tok) AS tid
      FROM (SELECT DISTINCT tok FROM toks)
    ),
    ids AS (SELECT doc_id, tid FROM toks JOIN dict USING (tok)),
    vs AS (
      SELECT doc_id,
         {_SIMHASH_SUMS}
      FROM ids GROUP BY doc_id
    )
    SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM vs
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 16-bit SimHash over occurrence-weighted unigrams
    (bit-majority construction).

    Scale: one groupBy(doc) computes every bit majority with map-side
    partial sums; near-dup candidate pairs share a fingerprint nibble
    (equi-join, pigeonhole on Hamming ≤ 3).
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "q_cosine_topk",
    _cosine_top3_sql(f"""
    pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM embeddings q, embeddings e
      WHERE q.vec_id IN ({_QUERY_IN}) AND e.vec_id <> q.vec_id
    )
    """),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for 5 query vectors (ANN correctness
    baseline).

    Scale: queries broadcast; dot product is a fused zip_with/aggregate
    array pass in codegen; decimal-quantized terms make Spark and DuckDB
    bit-identical before the final IEEE sqrt/divide/round.

    fan_out: the decimal dot products (interpreted HOF, the dominant
    per-row cost) fuse into the corpus scan, so a narrow parquet layout
    serializes them — redistribute first (r21; no-op at production row-
    group counts). ann_lsh_topk deliberately does NOT fan out: its scan
    stage only feeds the cheap Arrow signature UDF and the added exchange
    measured net-negative (A/B medians 1.51 vs 2.11 s).
    """
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    df = similarity.cosine_topk(emb, COSINE_QUERY_IDS, k=3)
    return df.withColumn("rank", F.col("rank").cast("int"))


@query(
    "q_ann_lsh_topk",
    _cosine_top3_sql(f"""
    buckets AS (
      SELECT vec_id, tbl,
             list_reduce(list_transform(range(0, {PLANES_PER_TABLE}),
                         j -> CASE WHEN {_HP_DOT} > 0 THEN (1 << j) ELSE 0 END),
                         (a, y) -> a + y) AS bucket
      FROM embeddings, (SELECT unnest(range(0, {LSH_TABLES})) AS tbl)
    ),
    probes AS (
      SELECT vec_id AS query_id, tbl,
             unnest([bucket] || list_transform(range(0, {PLANES_PER_TABLE}),
                                               j -> xor(bucket, 1 << j))) AS probe
      FROM buckets WHERE vec_id IN ({_QUERY_IN})
    ),
    pairs AS (
      SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
      FROM probes p JOIN buckets b ON b.tbl = p.tbl AND b.bucket = p.probe
      WHERE b.vec_id <> p.query_id
    )
    """),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN top-3 (the n²-free scale path).

    The oracle rebuilds the same buckets and probes in DuckDB, so it
    checks the exact rows. On the test data the smallest |projection| is
    over 10⁷ times the fold's rounding bound, so numpy's and DuckDB's
    summation orders agree on every sign bit. Recall against the
    brute-force baseline, which the oracle cannot see, is measured in
    tests/test_llm_ops.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(emb, COSINE_QUERY_IDS, k=3)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_doc_stats",
    """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
               AS sum_word_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats by (lang, source): doc/char/token counts — whitespace
    tokens and regex word tokens (BPE-ish proxy via regexp_count).

    Scale: pure scan + small-key aggregate; all-integer outputs need no
    quantization.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.size(textstats.tokens(F.col("text")))).alias("sum_ws_tokens"),
        F.sum(textstats.word_token_count(F.col("text"))).alias("sum_word_tokens"),
    )


@query(
    "q_quality_filter",
    f"""
    WITH m AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(list_sum(list_transform(string_split(text, ' '),
                                          x -> length(x))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS mean_token_len,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN ({_EN_IN}))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS sw
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_tokens >= 10 AND n_tokens <= 400
                     AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
                     AND sw <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM m GROUP BY source
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter pass counts per source (token-count bounds, mean
    token length bounds, stopword-ratio ceiling).

    Scale: single projection + aggregate; every metric is an exact BIGINT
    ratio so the pass/fail boundary is engine-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    q = textstats.doc_quality(docs)
    return q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("quality_pass"), 1).otherwise(0)).alias("n_pass"),
    )


@query(
    "q_lang_id_distribution",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> x IN ({_EN_IN}))) AS DOUBLE)
                 / len(string_split(lower(text), ' ')) AS score_en,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> x IN ({_ES_IN}))) AS DOUBLE)
                 / len(string_split(lower(text), ' ')) AS score_es,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> x IN ({_FR_IN}))) AS DOUBLE)
                 / len(string_split(lower(text), ' ')) AS score_fr
      FROM documents
    ),
    p AS (
      SELECT doc_id,
             CASE
               WHEN greatest(score_en, score_es, score_fr) < 0.05 THEN 'unknown'
               WHEN score_en = greatest(score_en, score_es, score_fr) THEN 'en'
               WHEN score_es = greatest(score_en, score_es, score_fr) THEN 'es'
               ELSE 'fr'
             END AS pred_lang
      FROM s
    )
    SELECT pred_lang, COUNT(*) AS n_docs FROM p GROUP BY pred_lang
    """,
)
def q_lang_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID distribution (stopword-hit argmax with an
    'unknown' floor).

    Scale: scan-side array filter, tiny-key aggregate. Scores are exact
    BIGINT ratios → the argmax and the 0.05 floor are engine-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    p = textstats.lang_id(docs)
    return p.groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


@query(
    "q_doc_fingerprint",
    f"""
    WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    toks AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM toks0
    ),
    tt AS (SELECT doc_id, pos, t[pos] AS tok FROM toks),
    dict AS (
      SELECT tok, row_number() OVER (ORDER BY tok) AS tid
      FROM (SELECT DISTINCT tok FROM tt)
    ),
    ids AS (SELECT doc_id, pos, tid FROM tt JOIN dict USING (tok)),
    seqs AS (SELECT doc_id, list(tid ORDER BY pos) AS tids FROM ids GROUP BY doc_id)
    SELECT doc_id,
           CAST(list_min(list_transform(
               range(1, greatest(len(tids) - 1, 1)),
               i -> (tids[i] * 961 + tids[i+1] * 31 + tids[i+2]) % {textstats.FP_P}
           )) AS BIGINT) AS fingerprint
    FROM seqs
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (min over token-trigram window
    hashes — the 1-fingerprint special case of winnowing).

    Scale: per-doc array math after one explode/collect round-trip.
    """
    docs = load_table(spark, sf_dir, "documents")
    return textstats.doc_fingerprint(docs)
