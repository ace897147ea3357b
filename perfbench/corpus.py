"""Seeded corpus generator for the pipeline benchmark.

Writes the ten corpus tables the program reads (``region`` … ``embeddings``)
as one single-row-group parquet file each, at sf0.1 size: 150 k orders,
600 k lineitem, 100 k events, 5 k documents, 2 k embeddings. Schemas and
id domains follow the reference corpus the DuckDB oracles were written
against (FIXTURES.md §A), so key selectivities such as ``doc_id < 234`` or
``event_id % 8`` are the same for every seed, while the values drawn from
``seed`` differ.

The constants below were measured with DuckDB on the reference sf0.1
corpus, and ``tests/test_corpus.py`` checks that the generator reproduces
them:

- documents: language shares de 0.14, en 0.41, es 0.15, fr 0.15, zh 0.15
  (``_LANG_P``); 10 to 99 words per text drawn from 30 words (``_WORDS``,
  the reference vocabulary without its ``dup`` marker); 5 % of documents
  repeat an earlier one's text with ``" dup"`` appended (``_DUP_SHARE``), so
  the near-dup lanes find pairs;
- events: a mean gap of 25.9 s between events, 1 500 users, 5 event types,
  values with mean 50;
- embeddings: 64 dimensions, 10 labels;
- orders, lineitem, customer, part: the date and price ranges used below
  are the reference minima and maxima.

Word choice within a text, and so the similarity structure beyond the
``dup`` pairs, is uniform here and was not matched to the reference.

Run ``python3 perfbench/corpus.py OUT_DIR --seed N`` to write a corpus and
print its manifest (seed, rows and bytes per table).
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "hot", "large", "red", "shiny", "small", "steel", "tiny"]
_PART_NOUN = ["anvil", "bolt", "gear", "nut", "ring", "spring", "valve", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DUP_SHARE = 0.05
_EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[ms]"), type=pa.timestamp("ms"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    lengths = rng.integers(10, 100, n)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in np.sort(rng.choice(np.arange(1, n), int(n * _DUP_SHARE), replace=False)):
        text[i] = text[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, _EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    gaps = rng.exponential(25.9e9, n).astype(np.int64) // 1000 * 1000
    ts = (start + np.cumsum(gaps)).astype("datetime64[ns]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def build_tables(seed: int) -> dict[str, pa.Table]:
    """Every corpus table for ``seed``; one independent stream per table,
    so a table's content does not depend on the sizes of the others."""
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    rng = {t: np.random.default_rng(s) for t, s in streams.items()}
    n = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = rng["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array(r.choice(_SEGMENTS, n["customer"]), pa.string()),
    })
    r = rng["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n["supplier"])),
    })
    r = rng["part"]
    keys = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, len(keys)), r.integers(0, 8, len(keys)))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, len(keys))]),
        "p_type": pa.array(r.choice(_PART_TYPES, len(keys)), pa.string()),
        "p_size": pa.array(r.integers(1, 51, len(keys)), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 2)),
    })
    r = rng["orders"]
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], k), pa.string()),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, k)),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": pa.array(r.choice(_PRIORITIES, k), pa.string()),
    })
    r = rng["lineitem"]
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, k)),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], k), pa.string()),
        "l_linestatus": pa.array(r.choice(["F", "O"], k), pa.string()),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", k),
    })
    out["events"] = _events(rng["events"], n["events"])
    out["documents"] = _documents(rng["documents"], n["documents"])
    out["embeddings"] = _embeddings(rng["embeddings"], n["embeddings"])
    return out


def write_corpus(out_dir: str, seed: int) -> dict:
    """Write every table under ``out_dir``; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    for name, table in build_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", row_group_size=len(table) or 1)
        tables[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return {"seed": seed, "tables": tables}


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    print(json.dumps(write_corpus(args.out_dir, args.seed), indent=1))
