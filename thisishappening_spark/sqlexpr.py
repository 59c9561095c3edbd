"""Helpers for building Spark-SQL expression *strings*.

The package's convention: operators, functions and queries build their
expressions as SQL strings, parsed once by ``F.expr``/``selectExpr``/
``filter``, rather than as nested Column operators, each of which is a
separate Py4J call while the DataFrame is built; a request builds its
DataFrame on every run, so building it is part of the request's cost.
Literals are rendered with explicit types so a string parses to the tree
the Column form would build: ``flit`` for DOUBLE (``lit(float)``),
``sql_str`` for string literals with Spark's backslash escaping. Where an
API takes only Columns (``agg``, ``groupBy`` keys, join conditions), the
string is wrapped in ``F.expr``; a raw status schema is a DDL type string
too (``ingest.STATUS_DDL``).

A Column stays in three places, where no string form exists:

- sort keys, ``orderBy(F.desc(...), F.asc(...))``: ``F.expr("x DESC")``
  parses as ``x AS DESC``, an alias, and sorts ascending without an error;
- the Arrow UDF's call and the ``posexplode`` of its result
  (``similarity.ann_lsh_topk``);
- the ``F.broadcast`` join hints.
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """Render a Python string as a Spark-SQL single-quoted literal.
    Spark SQL string literals process backslash escapes (non-ANSI-string
    mode), so both the backslash and the quote must be escaped — regex
    fragments like ``\\berror\\b`` round-trip exactly."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into parsed SQL
    (embedded backticks escape by doubling, Spark's rule). Caller-supplied
    names (config column bindings) may contain spaces, hyphens or reserved
    words that ``col()`` accepted but a bare interpolation would
    mis-parse; the quoted form resolves to the identical attribute."""
    return "`" + name.replace("`", "``") + "`"


def in_list(col: str, rendered: list[str]) -> str:
    """``col IN (...)`` over pre-rendered literals, with the empty list
    compiling to ``FALSE`` — the always-false predicate
    ``Column.isin([])`` produced, where ``IN ()`` is a ParseException."""
    return f"{col} IN ({', '.join(rendered)})" if rendered else "FALSE"


def flit(x: float) -> str:
    """Render a Python float as a Spark-SQL DOUBLE literal (the ``D``
    suffix), matching ``lit(<float>)`` typing — a bare ``-71.15`` would
    parse as DECIMAL(4,2) and change comparison coercions."""
    return f"{float(x)!r}D"
