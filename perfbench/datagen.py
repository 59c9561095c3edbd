"""Synthetic input tables for the benchmark.

Writes the ten parquet tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
to match the reference test tables the repository's tests and ``bench.py``
read: the same schemas, row counts per scale factor, key ranges, value
distributions, physical order (events sorted by ``ts``, lineitem not
sorted by order key), duplicate structure of the documents and geometry of
the embeddings (random unit vectors, labels independent of them). Row
counts scale with ``sf`` like TPC-H (lineitem = 6M·sf); documents and
embeddings never drop below 500 rows. Each table is one snappy parquet
file with one row group, as in the reference data, so the
scan-parallelism code paths behave the same.

Output is a pure function of (sf, seed): the same arguments always give
byte-identical values.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated values change, so cached tables and cached
# oracle results made by an older generator are not reused.
VERSION = 2

_MARKER = ".complete"
_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_LANGS = ["en", "de", "es", "fr", "zh"]
DOC_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMB_DIM = 64


def _us(day: str) -> int:
    return int((np.datetime64(day, "us") - _EPOCH).astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo, hi = _us(first) // _DAY_US, _us(last) // _DAY_US
    return _ts(rng.integers(lo, hi + 1, n) * _DAY_US)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(part_names)[rng.integers(0, len(part_names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    ev_lo, ev_hi = _us("2024-01-01"), _us("2024-01-31")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(ev_lo, ev_hi, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Uniform bag-of-words documents (10-99 words over a 30-word
    vocabulary) of which 5 % are near-duplicates: a copy of a random other
    document with a " dup" token appended. Copies are made in document
    order, so a copy of an earlier copy ends in " dup dup", and two copies
    of one document are exact duplicates of each other."""
    vocab = np.array(DOC_VOCAB)
    lengths = rng.integers(10, 100, n)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for target in np.sort(rng.choice(n, n // 20, replace=False)):
        source = (target + rng.integers(1, n)) % n
        words[target] = words[source] + ["dup"]
    texts = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(DOC_LANGS)[rng.choice(len(DOC_LANGS), n, p=DOC_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Random unit-norm float32 vectors, uniform on the sphere, with a
    label from 0 to 9 drawn independently of the vector."""
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def ensure_tables(root: str, sf: float, seed: int) -> str:
    """Return a directory holding the tables for (sf, seed), generating
    them on first use. Generation writes to a scratch directory and renames
    it into place, so an interrupted run never leaves a partial table set."""
    out = os.path.join(root, f"sf{sf:g}-seed{seed}-v{VERSION}")
    if os.path.exists(os.path.join(out, _MARKER)):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    open(os.path.join(tmp, _MARKER), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
