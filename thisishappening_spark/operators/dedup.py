"""Deduplication operators for large-scale document corpora.

The reference engine has no document store, but a training-data pipeline at
100 TB needs dedup as a first-class operator. Everything here is expressed
as DataFrame transformations whose shuffles are bounded by design:

- **Exact dedup** shuffles one 32-hex-char key per document (never the
  text): normalize → ``md5`` → groupBy(hash) → keep min(doc_id).
- **N-gram Jaccard** uses the inverted-index pattern: explode distinct
  shingles, group them into per-shingle postings lists, pair the
  documents within each list and count per pair. Only documents *sharing*
  a shingle ever meet — no all-pairs cross join. Stop-shingles (doc
  frequency above ``MAX_SHINGLE_DF``) are dropped before pairing, which
  bounds the worst-case pair fan-out the same way common-token filtering
  does in production minhash systems.
- **MinHash/LSH** reduces each document to a K-integer signature, then
  groups signatures by (band index, band key) and pairs documents within
  each bucket — candidate generation is O(candidates), not O(n²).
- **SimHash** reduces each document to one small integer fingerprint via
  per-bit weighted majorities; near-dup candidates share a fingerprint
  nibble (pigeonhole on Hamming distance), again an equi-join.

Every operator reads a ``documents``-shaped frame: ``doc_id`` and
``text``, with shingles the word trigrams (``SHINGLE_N``) the DuckDB
oracles also build.

Token ids: MinHash, SimHash (and textstats.doc_fingerprint) number each
shingle/token by the first 32 bits of its md5 (:func:`token_id`), one
expression in the row, and MinHash permutes ids with fixed
``(a*id + b) % p`` parameters. Every step is plain integer arithmetic on
a hash DuckDB also computes, so a SQL oracle reproduces it bit-for-bit
with no dictionary, no second corpus scan and no join.

Reference parity note: the reference app has no dedup; this module covers
the brief's training-pipeline surface (SURVEY.md §2 extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thisishappening_spark.sqlexpr import sql_str

# Modulus and fixed (a, b) parameters for the MinHash permutation family
# h_i(x) = (a_i * x + b_i) % MINHASH_P. Any fixed odd multipliers work; these
# are arbitrary primes below 2^30, and ids are below 2^32, so a*id + b stays
# below 2^62 (no BIGINT overflow in either engine).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1_000_000_007, 12_345),
    (998_244_353, 54_321),
    (1_000_000_033, 777),
    (999_999_937, 31_337),
    (1_000_000_087, 42),
    (1_000_000_093, 271_828),
    (1_000_000_097, 141_421),
    (1_000_000_103, 173_205),
    (1_000_000_123, 223_606),
    (1_000_000_181, 244_948),
    (1_000_000_207, 264_575),
    (1_000_000_223, 282_842),
    (1_000_000_241, 300_000),
    (1_000_000_271, 316_227),
    (1_000_000_289, 331_662),
    (1_000_000_297, 346_410),
]
MINHASH_K = len(MINHASH_PARAMS)
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS

# SimHash uses the same parameter family; bit j of a token's pseudo-hash is
# the parity of ((a_j * id + b_j) % p).
SIMHASH_BITS = 16

SHINGLE_N = 3  # word n-gram length of every shingle
# Stop-shingle cap of jaccard_pairs: a shingle in more documents is dropped.
MAX_SHINGLE_DF = 100
JACCARD_THRESHOLD = 0.5  # least trigram Jaccard of a jaccard_pairs pair


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: one row per distinct normalized text with the surviving
    doc id (min id = keep-first) and the group size. The text is normalized
    the usual corpus-dedup way: whitespace runs collapsed, trimmed,
    lowercased.

    Scale: the shuffle key is the md5 hex (32 chars/doc); text never
    shuffles. Map-side partial aggregation applies to both min and count.
    """
    whitespace = sql_str(r"\s+")
    norm = f"lower(trim(regexp_replace(text, {whitespace}, ' ')))"
    return (
        docs.selectExpr(f"md5({norm}) AS text_hash", "doc_id")
        .groupBy("text_hash")
        .agg(F.expr("min(doc_id) AS keep_doc_id"), F.expr("count(1) AS n_docs"))
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs: word trigrams over a split on
    ``' '``, joined by ``' '`` (a double space yields an empty token).

    One codegen'd ``regexp_extract_all``: at every token start (the text
    start or just after a space) a lookahead captures the next three
    tokens, and a start with fewer than three tokens left does not match.
    A ``transform(sequence(...))`` lambda over the split gives the same
    rows but is interpreted (higher-order functions are CodegenFallback).
    """
    gram = " ".join(["[^ ]*"] * SHINGLE_N)
    return docs.selectExpr(
        "doc_id",
        f"explode(array_distinct(regexp_extract_all(text, '(?<=^| )(?=({gram}))', 1)))"
        " AS shingle",
    )


def token_id(col: str) -> str:
    """SQL for the id of the string ``col``: the first 32 bits of its md5
    as a BIGINT in [0, 2^32), NULL for NULL. DuckDB computes the same
    value as ``('0x' || substring(md5(x), 1, 8))::BIGINT``."""
    return f"CAST(conv(substring(md5({col}), 1, 8), 16, 10) AS BIGINT)"


# Bucket width (in characters) for the two-phase dictionary rank. A fixed-
# length character prefix is ORDER-PRESERVING under Spark's default
# UTF8-binary collation (s < t ⇒ prefix_k(s) ≤ prefix_k(t), since UTF-8
# byte order equals codepoint order), so sorting (bucket, key) equals
# sorting key — which is what makes the per-bucket row_number + cross-bucket
# offset reconstruction exact. 4 chars keeps the bucket-count table tiny
# (≤ distinct 4-prefixes). The spread is uneven: the largest bucket holds
# 3.4 % of the 27,213 distinct sf0.1 shingles (60 buckets) and 1 of the 31
# sf0.1 tokens, but 7.5 % of ~9·10⁵ distinct word-trigram shingles over a
# Zipf(s=1) vocabulary, because every shingle that starts with the most
# frequent word shares its prefix.
DICT_BUCKET_CHARS = 4


def ranked_dictionary(keys: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """(key, id) with id = 1-based rank of the key among the distinct keys
    in sorted order — the same value ``row_number() OVER (ORDER BY key)``
    assigns, WITHOUT a single-partition sort of the dictionary.

    No package code calls it: token ids are :func:`token_id` hashes. It is
    kept, with ``DICT_BUCKET_CHARS``, for the tests in
    tests/test_ranked_dictionary.py, as ``load_table(fan_out)`` is for its
    own.

    A row_number over a Window with no PARTITION BY would be a
    single-partition Exchange + Sort of every distinct key. Instead, two
    phases parallelize the sort and shuffle only metadata for the
    cross-partition fix-up:

    1. bucket = first ``DICT_BUCKET_CHARS`` chars of the key (order-
       preserving, deterministic — unlike range partitioning, whose
       sampled boundaries would add a sampling job), with a NULL key in
       the ``''`` bucket;
    2. ``row_number() OVER (PARTITION BY bucket ORDER BY key)`` — the big
       sort now runs one task per bucket;
    3. global offset per bucket = running sum of bucket sizes in bucket
       order — a window over the tiny bucket-COUNT table (O(buckets)
       rows, the only remaining single-partition step), broadcast back;
    4. id = offset + per-bucket row number.

    A NULL key ranks first, as under ``ORDER BY key``: ``''`` is the
    smallest bucket, and the per-bucket sort puts NULLs first.
    """
    b = f"coalesce(substring({key_col}, 1, {DICT_BUCKET_CHARS}), '')"
    rw = keys.select(key_col).distinct().selectExpr(
        key_col,
        f"{b} AS __b",
        f"row_number() OVER (PARTITION BY {b} ORDER BY {key_col}) AS __r",
        # bucket size in the same (partitioning, sort) window pass — the
        # per-bucket head row (__r = 1) then carries everything the offset
        # table needs, so no separate count aggregation (and its exchange).
        f"count(1) OVER (PARTITION BY {b}) AS __c",
    )
    offs = rw.filter("__r = 1").selectExpr(
        "__b",
        "(sum(__c) OVER (ORDER BY __b ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) - __c) AS __off",
    )
    return rw.join(F.broadcast(offs), "__b").selectExpr(
        key_col, f"CAST(__off + __r AS INT) AS {id_col}"
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-document MinHash signature: columns mh0..mh{K-1}.

    One aggregate over the exploded shingles computes all K mins at once
    (map-side partial min per component), so the shuffle carries K ints per
    document regardless of document size. Shingle ids are :func:`token_id`
    hashes taken in the shingle projection, which the SQL oracle
    reproduces.
    """
    ids = doc_shingles(docs).selectExpr("doc_id", f"{token_id('shingle')} AS sid")
    # sid is BIGINT, so a * sid is BIGINT arithmetic.
    aggs = [
        F.expr(f"min(({a} * sid + {b}) % {MINHASH_P}) AS mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return ids.groupBy("doc_id").agg(*aggs)


def _band_table(signatures: DataFrame) -> DataFrame:
    """One scan of the signatures → (doc_id, sig array, band, band_key).

    A single ``explode`` of the per-row array of band structs, so the
    (possibly expensive) signature lineage is traversed once per action
    rather than once per band, as a union of LSH_BANDS scans would. The full
    signature rides along as an array so downstream pair scoring needs no
    join back to the signatures.
    """
    sig_arr = "array(" + ", ".join(f"mh{i}" for i in range(MINHASH_K)) + ")"
    band_structs = "array(" + ", ".join(
        "named_struct('band', {b}, 'band_key', concat_ws('_', {keys}))".format(
            b=b,
            keys=", ".join(f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)),
        )
        for b in range(LSH_BANDS)
    ) + ")"
    return signatures.select(
        "doc_id", F.expr(f"{sig_arr} AS sig"), F.expr(f"explode({band_structs}) AS bk")
    ).select("doc_id", "sig", F.expr("bk.band AS band"), F.expr("bk.band_key AS band_key"))


def minhash_lsh_pairs(docs: DataFrame, max_bucket_df: int | None = None) -> DataFrame:
    """LSH candidate pairs with the estimated Jaccard (fraction of equal
    signature components). Output: (doc_a, doc_b, est_jaccard).

    ``max_bucket_df`` is the production skew/memory guard, analogous to
    ``MAX_SHINGLE_DF`` in :func:`jaccard_pairs`: buckets whose size
    exceeds the cap are dropped entirely (a bucket of df docs would emit
    O(df²) pairs and hold df (doc_id, 16-int sig) structs in one
    aggregation buffer — a single giant duplicate cluster is the one
    place this plan can concentrate memory). The cap kills the O(df²)
    pair explosion outright; the collect-side buffer still materializes
    once before the filter, but ObjectHashAggregate degrades to
    sort-based spilling under pressure, so the explosion — not the
    collect — is the scale killer the cap addresses. Dropping is safe
    for dedup recall in the same way stop-shingle dropping is: a
    near-dup cluster that large collides in many buckets and in exact
    dedup anyway. ``None`` (the default, used by the differential
    registry entry) keeps every pair.

    Plan shape: the expensive lineage (shingle→id→16-min agg) is traversed
    exactly ONCE — the band table is grouped by (band, band_key) into
    bucket arrays, and candidate pairs are generated bucket-locally by two
    chained ``explode`` s (codegen Generate operators) with ``doc_a <
    doc_b``. No self-join, so nothing depends on exchange reuse surviving
    AQE's broadcast rewrite, and no persist/localCheckpoint blocks the
    query path — the result is as lazy as every other operator here.
    Bucket sizes track real near-dup group sizes (a whole band must
    match), so the per-bucket pair blow-up is O(dup-group²), the same
    bound the problem itself imposes. est_jaccard is computed from the
    signature arrays carried through the bucket structs (a 16-term
    zip_with), so no join back to the signatures is needed.
    """
    sigs = minhash_signatures(docs)
    bands = _band_table(sigs)
    buckets = (
        bands.groupBy("band", "band_key")
        .agg(F.expr("collect_list(struct(doc_id, sig)) AS ms"))
        .filter("size(ms) >= 2")
    )
    if max_bucket_df is not None:
        buckets = buckets.filter(f"size(ms) <= {max_bucket_df}")
    matches = (
        "aggregate(zip_with(a.sig, b.sig, "
        "(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, t) -> acc + t)"
    )
    return (
        buckets.select(F.expr("explode(ms) AS a"), "ms")
        .select("a", F.expr("explode(ms) AS b"))
        .filter(F.expr("a.doc_id < b.doc_id"))
        .select(
            F.expr("a.doc_id AS doc_a"),
            F.expr("b.doc_id AS doc_b"),
            F.expr(f"{matches} / CAST({float(MINHASH_K)} AS DOUBLE) AS est_jaccard"),
        )
        .distinct()
    )


def jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Pairs sharing ≥1 shingle whose exact trigram Jaccard similarity is
    at least ``JACCARD_THRESHOLD``.

    Inverted-index join (key = shingle), then |A∩B| via group-count and
    |A∪B| = |A| + |B| − |A∩B|. The Jaccard value is an exact ratio of two
    BIGINTs — deterministic across engines with no quantization needed.

    Shingles whose document frequency exceeds ``MAX_SHINGLE_DF`` are
    dropped — the standard stop-shingle guard that keeps the pair fan-out
    linear in the number of true near-dups at corpus scale (a hot shingle
    would otherwise produce O(df²) pairs).

    Plan shape: ONE groupBy(shingle) builds the postings list
    (collect_list of doc ids, bounded by the cap → bounded group memory),
    the cap is a free filter on the group size, and both the per-doc
    shingle counts and the candidate pairs re-derive from the *same*
    postings subtree: the executed plan replays the groupBy(shingle)
    shuffle for the second consumer as a ``ReusedExchange``
    (test_ngram_jaccard_reuses_postings_exchange pins it). Pair generation is bucket-local: two
    chained ``explode`` s of the posting array (codegen Generate
    operators) with ``doc_a < doc_b`` — no self-join and no interpreted
    nested-``transform``; the blow-up per posting is bounded by the df
    cap (≤ cap²/2 pairs).
    """
    sh = doc_shingles(docs)
    groups = (
        sh.groupBy("shingle")
        .agg(F.expr("collect_list(doc_id) AS ds"))
        .filter(f"size(ds) <= {MAX_SHINGLE_DF}")
    )
    sizes = (
        groups.select(F.expr("explode(ds) AS doc_id"))
        .groupBy("doc_id")
        .agg(F.expr("count(1) AS n_shingles"))
    )
    inter = (
        groups.filter("size(ds) >= 2")
        .select(F.expr("explode(ds) AS a"), "ds")
        .select("a", F.expr("explode(ds) AS b"))
        .filter("a < b")
        .groupBy(F.expr("a AS doc_a"), F.expr("b AS doc_b"))
        .agg(F.expr("count(1) AS n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.expr("doc_a = sa.doc_id"))
        .join(sb, F.expr("doc_b = sb.doc_id"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter)"
            " AS jaccard",
        )
        .filter(f"jaccard >= {JACCARD_THRESHOLD!r}D")
    )


def simhash(docs: DataFrame) -> DataFrame:
    """Per-document SimHash fingerprint (SIMHASH_BITS bits) over unigram
    tokens weighted by occurrence count.

    Bit j of token t's pseudo-hash is parity of ((a_j·id(t)+b_j) mod p),
    with id(t) the :func:`token_id` hash taken in the token projection;
    the fingerprint sets bit j when the weighted majority of token bits is
    1. One groupBy(doc) computes all bit-majorities at once. Near-dup
    candidates then share a fingerprint nibble at the same position
    (pigeonhole over Hamming distance ≤ 3 for 16 bits / 4 nibbles).
    """
    ids = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS tok").selectExpr(
        "doc_id", f"{token_id('tok')} AS tid"
    )
    params = MINHASH_PARAMS[:SIMHASH_BITS]
    bit_sums = [
        F.expr(f"sum((({a} * tid + {b}) % {MINHASH_P} % 2) * 2 - 1) AS v{j}")
        for j, (a, b) in enumerate(params)
    ]
    vs = ids.groupBy("doc_id").agg(*bit_sums)
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return vs.select("doc_id", F.expr(f"CAST({fp} AS BIGINT) AS simhash"))
