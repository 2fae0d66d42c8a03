"""Seeded fixture generator: the ten tables the registered queries read.

The schemas (names, arrow types) are the ones ``catalog.TABLES`` and
the oracle SQL expect, ``events.ts`` as TIMESTAMP(NANOS) included; the
value distributions follow the fixtures the package was developed
against (TPC-H-ish star schema, an event stream, a word-soup corpus
with planted near-duplicates, unit embeddings with a weak label
structure). Sizes scale with ``sf`` like those fixtures:
``lineitem`` ~6M x sf, documents and embeddings floor at 500 rows.

The same ``(seed, sf)`` always writes the same rows, so a workload's
inputs depend on its seed alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n_days, n):
    return _EPOCH_1995 + rng.integers(0, n_days, n) * np.timedelta64(1, "D")


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, i64),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, i64),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    ok = np.arange(n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, 2404, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, 2498, n_line) + np.timedelta64(1, "D"),
    })
    # Events: ~monotonic timestamps over 30 days, microsecond values
    # stored as TIMESTAMP(NANOS) like the package's own fixtures, so
    # ``catalog`` takes its nanos-as-long rebuild of ``ts``.
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word soup over a 30-word vocabulary. 5% of documents are a copy
    of another document with one ``dup`` token appended (near-dups for
    the dedup family); a few more are exact copies."""
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 101))])
        for _ in range(n)
    ]
    near = rng.choice(n, size=n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, size=max(2, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit float32 vectors: a label centroid plus isotropic noise."""
    labels = rng.integers(0, 10, n)
    cents = rng.normal(size=(10, dim))
    vecs = 0.5 * cents[labels] / np.sqrt(dim) + rng.normal(size=(n, dim)) / np.sqrt(dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for all ten tables; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(np.random.default_rng(seed), sf)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
