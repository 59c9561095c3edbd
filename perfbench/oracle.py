"""Output checks and DuckDB reference times for benchmark requests.

Queries with a SQL oracle are checked by the rules of the repository's
differential test, ``tests/oracle.py``, whose DuckDB views and row
normalization are reused here: same column names, same row count, equal
values after sorting, 1e-9 tolerance on floats. Unlike that test, the
oracle rows are cached beside the generated tables, so DuckDB runs once
per checkout rather than in every timed run. ``q_ann_lsh_topk`` has no
SQL oracle, so its recall@k is measured against an exact cosine top-k
computed with numpy from the embeddings table.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import time

import numpy as np
import pyarrow.parquet as pq

from tests.oracle import _normalize, duckdb_conn

ANN_QUERY = "q_ann_lsh_topk"
ANN_MIN_RECALL = 0.7


def expected_rows(sf_dir: str, sqls: dict[str, str]) -> dict[str, list[dict]]:
    """Oracle rows per query, as dicts keyed by lower-case column name.
    Cached beside the tables, keyed by the oracle SQL, so DuckDB runs again
    only when the tables or an oracle change."""
    cache_dir = os.path.join(sf_dir, "expected")
    os.makedirs(cache_dir, exist_ok=True)
    rows, con = {}, None
    try:
        for name, sql in sqls.items():
            path = os.path.join(cache_dir, f"{name}-{hashlib.sha1(sql.encode()).hexdigest()[:16]}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as f:
                    rows[name] = pickle.load(f)
                continue
            con = con or duckdb_conn(sf_dir)
            cur = con.sql(sql)
            cols = [c.lower() for c in cur.columns]
            rows[name] = [dict(zip(cols, r)) for r in cur.fetchall()]
            with open(path + ".tmp", "wb") as f:
                pickle.dump(rows[name], f)
            os.replace(path + ".tmp", path)
    finally:
        if con is not None:
            con.close()
    return rows


def mismatch(spark_rows: list, duck_rows: list[dict], rel_tol: float = 1e-9) -> str | None:
    """None when the Spark rows match the oracle rows, else a message
    naming the first difference."""
    sr = [{k.lower(): v for k, v in r.asDict().items()} for r in spark_rows]
    if sr and duck_rows and sorted(sr[0]) != sorted(duck_rows[0]):
        return f"column mismatch {sorted(sr[0])} vs {sorted(duck_rows[0])}"
    if len(sr) != len(duck_rows):
        return f"row count {len(sr)} vs {len(duck_rows)}"
    for i, (a, b) in enumerate(zip(_normalize(sr), _normalize(duck_rows))):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                same = math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-9)
            else:
                same = x == y
            if not same:
                return f"row {i}: {x!r} != {y!r}"
    return None


def duckdb_seconds(sf_dir: str, sqls: dict[str, str], threads: int, temp_dir: str) -> dict[str, float]:
    """Wall time of each oracle query on one in-process DuckDB connection
    with ``threads`` threads, results fetched."""
    con = duckdb_conn(sf_dir)
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute(f"SET temp_directory = '{temp_dir}'")
        seconds = {}
        for name, sql in sqls.items():
            start = time.perf_counter()
            con.sql(sql).fetchall()
            seconds[name] = time.perf_counter() - start
        return seconds
    finally:
        con.close()


def exact_topk(sf_dir: str, query_ids: list[int], k: int) -> set[tuple[int, int]]:
    """(query_id, neighbor_id) pairs of the exact cosine top-k, ties broken
    by lower neighbor id, a query never being its own neighbor."""
    table = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    ids = table.column("vec_id").to_numpy()
    vecs = np.stack(table.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    pairs = set()
    for q in query_ids:
        sims = vecs @ vecs[pos[q]]
        order = sorted((i for i in range(len(ids)) if ids[i] != q), key=lambda i: (-sims[i], ids[i]))
        pairs.update((q, int(ids[i])) for i in order[:k])
    return pairs


def recall(spark_rows: list, exact: set[tuple[int, int]]) -> float:
    approx = {(r["query_id"], r["neighbor_id"]) for r in spark_rows}
    return len(exact & approx) / len(exact)
