"""Deterministic generator for the benchmark's input tables.

Writes the same ten-table TPC-H-ish star schema the engine's catalog
reads (``catalog.TABLES``), one single-file parquet per table, with the
column names, types and value ranges of the repo's reference test data:

- uniform keys, so ``lineitem -> orders/part/supplier`` joins are
  referentially intact;
- ``l_quantity`` 1..50 and ``l_discount`` 0..0.10, so about 76% of
  lineitem rows pass the validation checks and the pipeline's 75%
  governance gate opens;
- ``documents``: words from a 30-word vocabulary, with 5% near-duplicates
  (an earlier text plus one extra word) and a few exact copies, so the
  dedup and clustering queries find real candidate pairs;
- ``embeddings``: 64-dim unit vectors with ten labels.

Row counts scale with ``sf`` like TPC-H (``lineitem`` = 6,000,000 x sf);
``region``/``nation`` are fixed. The same ``(sf, seed, tables)`` always
yields byte-identical files, and ``ensure`` checks an existing copy
against its manifest (row counts plus a SHA-256 per file) before reuse.

Usage: python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
MANIFEST = "manifest.json"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green",
            "new", "shiny", "dark", "light", "heavy"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64

DAY_US = 86_400_000_000
EPOCH = np.datetime64("1970-01-01", "D")


def _days(date: str) -> int:
    return int((np.datetime64(date, "D") - EPOCH).astype(np.int64))


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, type=pa.int32()), pa.array(values)).cast(pa.string())


def sizes(sf: float) -> dict[str, int]:
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _table(name: str, sf: float, rng: np.random.Generator) -> pa.Table:
    sz = sizes(sf)
    n = sz[name]
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        })
    if name == "part":
        keys = np.arange(n, dtype=np.int64)
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table({
            "p_partkey": keys,
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        })
    if name == "orders":
        lo, hi = _days("1995-01-01"), _days("2001-08-01")
        return pa.table({
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, sz["customer"], n, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _ts(rng.integers(lo, hi + 1, n)),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        })
    if name == "lineitem":
        lo, hi = _days("1995-01-02"), _days("2001-11-04")
        return pa.table({
            "l_orderkey": rng.integers(0, sz["orders"], n, dtype=np.int64),
            "l_partkey": rng.integers(0, sz["part"], n, dtype=np.int64),
            "l_suppkey": rng.integers(0, sz["supplier"], n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(rng.integers(lo, hi + 1, n)),
        })
    if name == "events":
        start = _days("2024-01-01") * DAY_US
        ts = np.sort(rng.integers(start, start + 30 * DAY_US, n))
        return pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, sz["customer"] // 10), n, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        texts: list[str] = []
        kind = rng.random(n)
        for i in range(n):
            if i > 0 and kind[i] < 0.05:  # near-duplicate of an earlier doc
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i > 0 and kind[i] < 0.052:  # exact copy
                texts.append(texts[int(rng.integers(0, i))])
            else:
                words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
                texts.append(" ".join(words))
        return pa.table({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM), pa.int32()),
            pa.array(v.reshape(-1), pa.float32()),
        )
        return pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, 10, n, dtype=np.int32),
        })
    raise ValueError(f"unknown table {name}")


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _path(out_dir: str, table: str) -> str:
    return os.path.join(out_dir, f"{table}.parquet")


def generate(out_dir: str, sf: float, seed: int = 42, tables: tuple[str, ...] = TABLES) -> dict:
    """(Re)write every table and its manifest; returns the manifest."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    manifest = {"sf": sf, "seed": seed, "tables": {}}
    for table in tables:
        # one stream per table: adding a table never shifts another's data
        rng = np.random.default_rng([seed, zlib.crc32(table.encode())])
        t = _table(table, sf, rng)
        path = _path(out_dir, table)
        pq.write_table(t, path, row_group_size=1 << 24)
        manifest["tables"][table] = {"rows": t.num_rows, "sha256": _sha256(path)}
    with open(os.path.join(out_dir, MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def check(out_dir: str, sf: float, seed: int, tables: tuple[str, ...]) -> bool:
    """True when ``out_dir`` holds exactly what ``generate`` would write:
    the manifest matches the request, every footer row count matches,
    and every file's SHA-256 matches the manifest."""
    try:
        with open(os.path.join(out_dir, MANIFEST)) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return False
    if manifest.get("sf") != sf or manifest.get("seed") != seed:
        return False
    if sorted(manifest.get("tables", {})) != sorted(tables):
        return False
    for table, meta in manifest["tables"].items():
        path = _path(out_dir, table)
        if not os.path.isfile(path) or meta["rows"] != sizes(sf)[table]:
            return False
        if pq.ParquetFile(path).metadata.num_rows != meta["rows"] or _sha256(path) != meta["sha256"]:
            return False
    return True


def ensure(out_dir: str, sf: float, seed: int = 42, tables: tuple[str, ...] = TABLES) -> bool:
    """Reuse a verified copy, else regenerate. Returns True if it built."""
    if check(out_dir, sf, seed, tables):
        return False
    generate(out_dir, sf, seed, tables)
    if not check(out_dir, sf, seed, tables):
        raise RuntimeError(f"generated inputs under {out_dir} fail their own manifest")
    return True


if __name__ == "__main__":
    out, sf_arg = sys.argv[1], float(sys.argv[2])
    print(json.dumps(generate(out, sf_arg, int(sys.argv[3]) if len(sys.argv) > 3 else 42), indent=1))
