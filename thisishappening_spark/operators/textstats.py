"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, heuristic language ID, and rolling-hash fingerprints.

All logic is built-in column expressions (split / size / filter /
transform) — no Python UDFs. Ratios are exact divisions of integer
counts, so differential oracles need no quantization.

These cover the training-pipeline text-analysis surface of the brief
(language-ID heuristic, quality scoring, token counting, document
fingerprinting); the reference app itself has no document corpus. Every
operator reads a ``documents``-shaped frame: ``doc_id`` and ``text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thisishappening_spark.operators.dedup import token_id
from thisishappening_spark.sqlexpr import in_list, sql_str

# Minimal English function-word list for the stopword-ratio heuristic.
# (A deliberately small, public list — the heuristic needs a stable set,
# not linguistic completeness.)
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "as", "at", "by", "be", "this", "that", "with", "from",
]

# Same idea for Spanish/French, for the language-ID argmax.
ES_STOPWORDS = [
    "el", "la", "los", "las", "de", "en", "que", "y", "un", "una",
    "es", "por", "con", "para", "del", "se", "no", "al", "lo", "como",
]
FR_STOPWORDS = [
    "le", "la", "les", "de", "des", "un", "une", "et", "en", "que",
    "est", "pour", "dans", "qui", "par", "sur", "au", "pas", "ce", "il",
]

FP_P = 2_147_483_647  # fingerprint modulus (2^31-1)


def _is_word(col: str, words: list[str]) -> str:
    return in_list(col, [sql_str(w) for w in words])


def stopword_ratio(tok_col: str, stopwords: list[str]) -> str:
    """Fraction of tokens that are function words — exact BIGINT/BIGINT
    division, as a SQL string over a token-array expression."""
    hits = f"size(filter({tok_col}, t -> {_is_word('t', stopwords)}))"
    return f"CAST({hits} AS DOUBLE) / size({tok_col})"


def doc_quality(docs: DataFrame) -> DataFrame:
    """Per-document quality metrics + pass/fail decision, with the
    document's ``source``.

    Metrics follow the usual corpus-filter recipe: token count bounds,
    mean token length bounds, stopword-ratio ceiling. One projection over
    the scan; no shuffle. The ``n_tok - 1`` single-space separators are
    the only characters outside tokens, so the token lengths sum to
    ``length(text) - n_tok + 1``.
    """
    t = "split(text, ' ')"
    n_tok = f"size({t})"
    mean_len = f"CAST(length(text) - {n_tok} + 1 AS DOUBLE) / {n_tok}"
    sw = stopword_ratio(t, EN_STOPWORDS)
    passed = (
        f"{n_tok} >= 10 AND {n_tok} <= 400 AND ({mean_len}) >= 2.0D "
        f"AND ({mean_len}) <= 12.0D AND ({sw}) <= 0.5D"
    )
    return docs.selectExpr(
        "doc_id",
        "source",
        f"{n_tok} AS n_tokens",
        f"{mean_len} AS mean_token_len",
        f"{sw} AS stopword_ratio",
        f"{passed} AS quality_pass",
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: stopword-hit ratio per language, argmax with
    an 'unknown' floor. Deterministic ties break by language code order
    (en < es < fr by construction below).

    Plan shape: explode the tokens once and count hits per language with
    conditional sums (``IN`` against a literal list compiles to an InSet
    inside whole-stage codegen), then a single shuffle of four BIGINTs per
    document. The earlier formulation — three higher-order ``filter``
    lambdas per row — fell out of codegen and re-tokenized each row ~7×.
    """
    toks = docs.selectExpr("doc_id", "explode(split(lower(text), ' ')) AS tok")
    hits = toks.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN {_is_word('tok', words)} THEN 1 ELSE 0 END)"
                f" AS h_{code}"
            )
            for code, words in (
                ("en", EN_STOPWORDS),
                ("es", ES_STOPWORDS),
                ("fr", FR_STOPWORDS),
            )
        ],
        F.expr("count(1) AS n_tok"),
    )
    scored = hits.selectExpr(
        "doc_id",
        "CAST(h_en AS DOUBLE) / n_tok AS score_en",
        "CAST(h_es AS DOUBLE) / n_tok AS score_es",
        "CAST(h_fr AS DOUBLE) / n_tok AS score_fr",
    )
    best = "greatest(score_en, score_es, score_fr)"
    pred = f"CASE WHEN {best} < 0.05D THEN 'unknown' " + " ".join(
        # first max wins → ties break en<es<fr
        f"WHEN score_{code} = {best} THEN '{code}'"
        for code in ("en", "es", "fr")
    ) + " END"
    return scored.selectExpr("doc_id", f"{pred} AS pred_lang")


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint: min over token-trigram window
    hashes h = (tid1·31² + tid2·31 + tid3) mod p, for every document whose
    text is not NULL.

    tid is the :func:`~thisishappening_spark.operators.dedup.token_id` hash
    of the token (the ids dedup.simhash uses): engine-portable integer
    arithmetic the DuckDB oracle reproduces bit-for-bit. The ids and the
    window hashes are computed in the row, so the plan has no shuffle.

    The min-of-window-hashes is the 1-fingerprint special case of
    winnowing.
    """
    # tids is its own projection, so the window lambda reads an attribute
    # instead of re-hashing the tokens once per window position.
    seq = docs.filter("text IS NOT NULL").selectExpr(
        "doc_id", f"transform(split(text, ' '), t -> {token_id('t')}) AS tids"
    )
    w = (
        "CASE WHEN size(tids) < 3 THEN CAST(array() AS ARRAY<BIGINT>) "
        "ELSE transform(sequence(1, size(tids) - 2), "
        "i -> (element_at(tids, i) * 961 "
        f"+ element_at(tids, i + 1) * 31 + element_at(tids, i + 2)) % {FP_P}) END"
    )
    return seq.select(
        "doc_id", F.expr(f"CAST(array_min({w}) AS BIGINT) AS fingerprint")
    )
