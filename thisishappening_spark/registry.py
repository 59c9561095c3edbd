"""Query registry shared by every query module.

Each entry pairs a Spark DataFrame program with an equivalent ANSI-SQL
oracle string (DuckDB dialect-compatible) over the same parquet tables;
every query has one, approximate ones included (the ANN oracle rebuilds
the LSH buckets it probes). The driver, ``tests/oracle.compare`` and the
benchmark execute both and compare values, so every registered query
follows three discipline rules:

1. **Deterministic cross-engine numerics.** Floating-point addition is
   order-dependent, so a sum is exact across engines only where both fix
   its order:

   - **A sum across rows uses integer units.** Spark's partial-aggregation
     order differs from DuckDB's, so each term becomes a BIGINT count of
     10^-s units (:func:`units`; a product multiplies units, so cents ×
     cents is scale 4) that :func:`isum` sums exactly: s=2 for money and
     quantities (:func:`dsum`), s=15 and a 6-dp total for exp weights
     (:func:`qsum`). The oracles keep their DECIMAL sums, an independent
     formula.
   - **A fold inside one row runs in double.** Both engines fold an array
     left to right in element order, one IEEE op per step, so a dot
     product or norm (``similarity.dot``, the oracle's ``list_reduce``)
     returns identical bits with no quantization.
2. **Stable names.** Every computed column is aliased identically in the
   DataFrame program and the SQL oracle.
3. **Stable types.** The driver's value-hash is type-sensitive: DuckDB
   widens SUM(BIGINT) to HUGEINT, so integer aggregates are CAST back to
   BIGINT in the oracle; double results are CAST AS DOUBLE.

Operator IDs in docstrings refer to SURVEY.md §2 (the reference inventory,
reference files cited there).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle)
        return fn

    return deco


def units(x: str, s: int) -> str:
    """DOUBLE ``x`` as a BIGINT count of 10^-s units, rounded half up with
    IEEE ops, valid SQL in Spark and DuckDB. On 2-dp data it equals
    DuckDB's ``CAST(x AS DECIMAL(18,2)) * 100`` (tests/test_exact_sums.py)."""
    return f"CAST(floor(({x}) * 1e{s} + 0.5) AS BIGINT)"


def isum(u: str, s: int) -> str:
    """Exact SUM of BIGINT units ``u`` of 10^-s, as DOUBLE: two plain BIGINT
    sums split at bit 32, merged as DECIMAL(38,0) once per group (no
    per-row BigDecimal). Exact up to 2^31 rows per group; past that, ANSI
    mode raises ARITHMETIC_OVERFLOW rather than wrapping."""
    return (
        f"CAST(CAST(SUM(shiftright({u}, 32)) AS DECIMAL(38,0)) * 4294967296 "
        f"+ SUM(({u}) & 4294967295) AS DOUBLE) / 1e{s}"
    )


def dsum(col: str) -> str:
    """SUM of a 2-dp column in cents (rule 1), as DOUBLE."""
    return isum(units(col, 2), 2)


def qsum(col: str) -> str:
    """SUM of per-row double terms in 10^-15 units, as DOUBLE rounded to
    6 dp, which absorbs last-ulp libm differences between engines (rule 1)."""
    return f"round({isum(units(col, 15), 15)}, 6)"
