"""Query registry shared by every query module.

Each entry pairs a Spark DataFrame program with an equivalent ANSI-SQL
oracle string (DuckDB dialect-compatible) over the same parquet tables.
The driver executes both at sf=0.01 and hash-compares values, so every
registered query follows three discipline rules:

1. **Deterministic cross-engine numerics.** Sums/averages over doubles are
   order-dependent in floating point, and Spark's partial aggregation order
   differs from DuckDB's. Money/quantity aggregates therefore cast to exact
   DECIMAL before summing and cast the final result back to DOUBLE —
   bit-identical on both engines. Transcendental terms (exp, cosine) are
   quantized per-term to DECIMAL before the sum, then the total is rounded.
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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, driver does rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle)
        return fn

    return deco


def dec(col: Column, scale: int = 2) -> Column:
    """Cast to exact decimal for order-independent, cross-engine-exact sums."""
    return col.cast(f"decimal(18,{scale})")


def dsum(col: Column, scale: int = 2) -> Column:
    return F.sum(dec(col, scale)).cast("double")

