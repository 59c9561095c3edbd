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

   - **A sum across rows quantizes.** Spark's partial-aggregation order
     differs from DuckDB's, so money/quantity terms cast to DECIMAL before
     the SUM (:func:`dsum`), and transcendental terms (exp weights) are
     quantized per row to DECIMAL(28,15) and the total rounded to 6 dp
     (:func:`qsum`). The result is cast back to DOUBLE.
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


def dsum(col: str) -> str:
    """SUM of a column quantized to DECIMAL(18,2), as DOUBLE: an order-
    independent sum that Spark and DuckDB compute bit-identically (rule 1).
    A SQL string, spelled like the oracle SQL."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


def qsum(col: str) -> str:
    """SUM of per-row double terms quantized to DECIMAL(28,15), as DOUBLE
    rounded to 6 dp: an order-independent sum of transcendental terms
    whose last-ulp libm differences the rounding absorbs (rule 1). A SQL
    string, spelled like the oracle SQL."""
    return f"round(CAST(SUM(CAST({col} AS DECIMAL(28,15))) AS DOUBLE), 6)"

