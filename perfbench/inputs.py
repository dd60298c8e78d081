"""Seeded benchmark inputs: the star-schema tables the query workloads
read and the nested JSONL corpus the ``ingest`` workload loads.

Tables follow the schemas of FIXTURES.md §1 (ten parquet files, one per
table). They are generated once per checkout from a fixed seed, so every
run of ``chains`` reads the same bytes; the run's own seed only drives
the query order. The corpus is regenerated per seed.

Corpus documents mix every shape kv_flatten handles: nested objects,
arrays of scalars, arrays of objects, null leaves (skipped), and a key
containing ``.`` (escaped as ``\\.`` in the qualifier). Every field keeps
one JSON type across documents, so Spark's schema inference agrees with
:func:`flatten_doc`, the reference flattener the output check uses.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = (
    "a the data row column table query join agg group key value hash sort "
    "merge scan filter window stream batch spark line order part customer "
    "vector small big fast slow"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)


def _day_stamps(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad texts with near-duplicates (a copy of an earlier text
    with a suffix word) so the dedup and clustering queries find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_words = int(rng.integers(8, 90))
        texts.append(" ".join(rng.choice(WORDS, n_words)))
    return texts


def table_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": 500 if sf <= 0.01 else 5000,
        "embeddings": 500 if sf <= 0.01 else 2000,
    }


def make_tables(out_dir: str, sf: float) -> None:
    """Write the ten FIXTURES.md §1 tables as parquet under ``out_dir``."""
    rng = np.random.default_rng(TABLE_SEED)
    c = table_counts(sf)
    n_users = max(10, int(15_000 * sf))
    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    tables["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = {
        "c_custkey": np.arange(c["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c["customer"])],
        "c_nationkey": rng.integers(0, 25, c["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, c["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(segments, c["customer"]),
    }
    tables["supplier"] = {
        "s_suppkey": np.arange(c["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(c["supplier"])],
        "s_nationkey": rng.integers(0, 25, c["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, c["supplier"], -999.99, 9999.99),
    }
    adjectives = np.array(["small", "large", "red", "blue", "hot", "old", "new", "cold"])
    nouns = np.array(["ring", "bolt", "plate", "gear", "widget", "gizmo", "anvil", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    n_part = c["part"]
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(adjectives, n_part), " "), rng.choice(nouns, n_part)
        ),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(types, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }
    n_ord = c["orders"]
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n_ord),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _day_stamps(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(priorities, n_ord),
    }
    n_li = c["lineitem"]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, c["supplier"], n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": _day_stamps(rng, n_li, "1995-01-02", "2001-11-04"),
    }
    n_ev = c["events"]
    ev_start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_span = 30 * 86_400_000_000
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(ev_start + rng.integers(0, ev_span, n_ev)).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(np.array(["click", "view", "signup", "purchase", "error"]), n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = _document_texts(rng, c["documents"])
    tables["documents"] = {
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(LANGS), len(texts), p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    vecs = rng.standard_normal((c["embeddings"], 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(c["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": (np.arange(c["embeddings"]) % 10).astype(np.int32),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- corpus


def _doc(rng: random.Random, i: int) -> dict:
    return {
        "id": f"doc{i:07d}",
        "name": f"{rng.choice(WORDS)} {rng.choice(WORDS)}",
        "active": rng.random() < 0.5,
        "score": round(rng.uniform(0.01, 999.0), 2),
        "visits": rng.randrange(100_000),
        "nickname": None if rng.random() < 0.7 else rng.choice(WORDS),
        "address": {
            "city": rng.choice(WORDS),
            "zip": None if rng.random() < 0.2 else f"{rng.randrange(100_000):05d}",
            "geo": {
                "lat": round(rng.uniform(-89.0, 89.0), 2),
                "lon": round(rng.uniform(-179.0, 179.0), 2),
            },
        },
        "tags": [rng.choice(WORDS) for _ in range(rng.randrange(4))],
        "items": [
            {
                "sku": f"S{rng.randrange(5000):04d}",
                "qty": rng.randrange(1, 10),
                "note": None if rng.random() < 0.5 else rng.choice(WORDS),
            }
            for _ in range(rng.randrange(4))
        ],
        "meta.v": rng.randrange(10),
    }


def flatten_doc(doc: dict) -> dict[str, str]:
    """Reference FIXTURES.md §2 flattening of one parsed document:
    dotted paths, 0-based array indices, null leaves dropped, booleans
    ``true``/``false``, ``.`` inside a key escaped as ``\\.``."""
    out: dict[str, str] = {}

    def walk(v, path: str) -> None:
        if v is None:
            return
        if isinstance(v, dict):
            for k, child in v.items():
                seg = k.replace("\\", "\\\\").replace(".", "\\.")
                walk(child, f"{path}.{seg}" if path else seg)
        elif isinstance(v, list):
            for i, child in enumerate(v):
                walk(child, f"{path}.{i}")
        elif isinstance(v, bool):
            out[path] = "true" if v else "false"
        else:
            out[path] = str(v)

    walk(doc, "")
    return out


def make_corpus(path: str, seed: int, n_docs: int) -> int:
    """Write ``n_docs`` seeded JSONL documents to ``path`` and return the
    number of non-null leaves, which is the cell count ingest must write."""
    rng = random.Random(seed)
    n_cells = 0
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n_docs):
            doc = _doc(rng, i)
            n_cells += len(flatten_doc(doc))
            f.write(json.dumps(doc))
            f.write("\n")
    return n_cells


def salted_rowkey(doc_id: str, salt: int) -> str:
    """The rowkey ``derive_rowkey(id, salt_len=salt)`` gives a document."""
    return f"{hashlib.md5(doc_id.encode()).hexdigest()[:salt]}#{doc_id}"

