"""Benchmark fixtures, generated deterministically inside the checkout.

The benchmark reads nothing outside its checkout, so it does not use the
externally provided ``sfX`` parquet directories. Instead it generates tables
with the same schema, the same per-scale row counts, the same value
domains and the same physical layout (one parquet file and ONE row group
per table) from a fixed seed. Compared table by table with the provided
sf0.1 and sf0.01 fixtures, the generated ones have the same schemas, row
counts and row groups, byte sizes within 2% for tables over 100 kB (smaller
files differ by the provided files' pandas schema metadata), per-column
distinct counts within 1%, the same uniform 30-word document vocabulary
(plus the " dup" marker on about 5% of documents), trigram and word-pair
counts within 1%, and every benchmark op's oracle returns as many rows on
either. Only exact duplicate texts differ: 32 against 8 of 5,000 at sf0.1.

* ``sf0.1`` — 600k lineitem rows, 17 MB.
* ``sf0.01`` — the same generator at a tenth of the rows.

Each fixture directory carries a ``MANIFEST.json`` with every table's row
count, row-group count, byte size and SHA-256. ``ensure`` re-derives the
manifest from the files before every run and rebuilds the fixture when any
entry differs, so a damaged or half-written fixture is never measured.
Building never happens inside a timed window.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generator changes, so stale fixtures are rebuilt.
GENERATOR_VERSION = 1
FIXTURE_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _days(start: dt.date, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _generate_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), max(int(20_000 * sf), 500), int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2404, rng, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, n_line),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Documents: uniform words from a 30-word vocabulary; ~5% are a
    # previous document plus a " dup" marker (near duplicates, and exact
    # duplicates when two markers copy the same source).
    words = np.array(_WORDS)
    lens = rng.integers(10, 101, n_doc)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def _file_facts(path: str) -> dict:
    meta = pq.ParquetFile(path).metadata
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return {
        "rows": meta.num_rows,
        "row_groups": meta.num_row_groups,
        "bytes": os.path.getsize(path),
        "sha256": h.hexdigest(),
    }


def describe(path: str) -> dict:
    """Per-table facts of the fixture at ``path`` as found on disk."""
    return {t: _file_facts(os.path.join(path, f"{t}.parquet")) for t in TABLES}


def _write_generated(dest: str, sf: float) -> None:
    for name, table in _generate_tables(sf, FIXTURE_SEED).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))


#: fixture kind -> scale of the generated tables
KINDS = {"sf0.1": 0.1, "sf0.01": 0.01}


def _recipe(kind: str) -> dict:
    return {"kind": kind, "generator": GENERATOR_VERSION, "seed": FIXTURE_SEED, "sf": KINDS[kind]}


def verify(kind: str, root: str) -> dict | None:
    """The fixture's manifest if every table matches it on disk, else None."""
    path = os.path.join(root, kind)
    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            manifest = json.load(f)
        if manifest["recipe"] == _recipe(kind) and manifest["tables"] == describe(path):
            return manifest
    except (OSError, ValueError, KeyError):
        pass
    return None


def ensure(kind: str, root: str, log) -> tuple[str, dict, bool]:
    """Return ``(path, manifest, rebuilt)`` for fixture ``kind`` under
    ``root``, rebuilding it when ``verify`` finds any mismatch."""
    path = os.path.join(root, kind)
    manifest = verify(kind, root)
    if manifest is not None:
        return path, manifest, False
    log(f"fixture {kind}: missing or not matching its manifest; building")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    _write_generated(path, KINDS[kind])
    manifest = {"recipe": _recipe(kind), "tables": describe(path)}
    tmp = os.path.join(path, "MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, "MANIFEST.json"))
    return path, manifest, True
