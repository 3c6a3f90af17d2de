"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and nothing else, so the same seed gives byte-identical inputs
(pinned by ``perfbench/test_smoke.py``).  The catalog tables mirror the
shape of the repo's parquet fixtures (FIXTURES.md: column names and
types, value domains, the 31-word document vocabulary, unit-norm
embeddings in 10 label clusters, a 30-day ``events`` window) at a chosen
row scale.  ``events.ts`` is parquet TIMESTAMP(NANOS) as in the fixture,
so every read of it goes through ``sources.tables.load_table``'s
epoch-nanos conversion; the TPC-H date columns are TIMESTAMP(MILLIS).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts per table at each input size, as in the fixture ladder
SIZES = {
    "sf0.001": dict(region=5, nation=25, customer=150, supplier=10,
                    part=200, orders=1500, lineitem=6000, events=1000,
                    documents=500, embeddings=500, users=15),
    "sf0.01": dict(region=5, nation=25, customer=1500, supplier=100,
                   part=2000, orders=15000, lineitem=60000, events=10000,
                   documents=500, embeddings=500, users=150),
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "hot", "large", "small", "red", "green", "cold", "dark",
         "light", "old", "new", "shiny", "matte")
P_NOUN = ("anvil", "bolt", "ring", "widget", "gear")
LANGS = ("en", "fr", "de", "es", "zh")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)

#: the events window: 2024-01-01 .. 2024-01-30 inclusive, UTC
DAY0 = dt.datetime(2024, 1, 1)
N_DAYS = 30
_US_PER_DAY = 86_400 * 1_000_000
_MS_PER_DAY = 86_400 * 1_000


def _epoch_s(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds())


def _dates(rng, n, lo: dt.datetime, n_days: int) -> pa.Array:
    ms = _epoch_s(lo) * 1_000 + rng.integers(0, n_days, n) * _MS_PER_DAY
    return pa.array(ms.astype(np.int64), type=pa.timestamp("ms"))


def events(rng, n: int, n_users: int) -> pa.Table:
    """Whole-microsecond instants stored as nanoseconds, so the read-side
    ns -> us truncation is exact."""
    us = np.sort(rng.integers(0, N_DAYS * _US_PER_DAY, n)) + _epoch_s(
        DAY0) * 1_000_000
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(us.astype(np.int64) * 1_000, type=pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for k in rng.integers(10, 101, n)
    ]
    # exact duplicates and near duplicates (a few words swapped, then
    # tagged), so every dedup path has real positives
    for i in rng.choice(np.arange(n // 10, n), n // 600 + 1, replace=False):
        texts[int(i)] = texts[int(rng.integers(0, n // 10))]
    for i in rng.choice(np.arange(n // 10, n), n // 50 + 1, replace=False):
        words = texts[int(rng.integers(0, n // 10))].split()
        for _ in range(2):
            words[int(rng.integers(0, len(words)))] = str(
                vocab[int(rng.integers(0, len(vocab)))])
        texts[int(i)] = " ".join(words + ["dup"])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(n_labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels.astype(np.int32),
    })


def tpch(rng, s: dict) -> dict[str, pa.Table]:
    nc, ns, npart, no, nl = (s["customer"], s["supplier"], s["part"],
                             s["orders"], s["lineitem"])
    cents = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": cents(-999.99, 9999.99, nc),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": cents(-999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, len(P_ADJ), npart),
                                rng.integers(0, len(P_NOUN), npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, npart)]),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
            "o_totalprice": cents(1000.0, 500000.0, no),
            "o_orderdate": _dates(rng, no, dt.datetime(1995, 1, 1), 2405),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
        }),
    }
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": cents(900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _dates(rng, nl, dt.datetime(1995, 1, 2), 2499),
    })
    return out


def catalog_tables(seed: int, size: str) -> dict[str, pa.Table]:
    """Every fixture table at ``size``, from one seeded stream."""
    s = SIZES[size]
    rng = np.random.default_rng([seed, 1])
    out = tpch(rng, s)
    out["events"] = events(rng, s["events"], s["users"])
    out["documents"] = documents(rng, s["documents"])
    out["embeddings"] = embeddings(rng, s["embeddings"])
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write one parquet file per table; returns the sha256 of the
    written bytes (files in name order) — the run's input hash."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path, row_group_size=1 << 20)
        with open(path, "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()
