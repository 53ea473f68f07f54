#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Builds the ten tables graft reads (`graft.Tables.all`) from a seed alone, in
the shape of the TPC-H-ish fixtures the test suite uses: uniform keys, prices
with two decimals, a 31-word document vocabulary with ~5% one-word-edit
near-duplicates, and unit-norm 64-d float embeddings with ten labels.

The scale-up mirrors `tools/gen_scale10.py`: a base corpus is replicated K
times with every key column shifted by `replica * KEY_OFFSET`, so
cardinalities grow K-fold while per-key group sizes stay constant. Replicas
r > 0 are perturbed so dedup and ANN operators see K-fold more distinct
entities rather than exact copies:
  - embeddings get a seeded orthogonal rotation per replica (isometric, so
    each replica keeps the base corpus's pair structure);
  - every third text token (seeded phase) and the last part-name token get a
    per-replica suffix.
The seed also chooses the physical row order of every table.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_OFFSET = 100_000_000
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]  # graft.Tables.all

# Row counts of one base replica; `replicas` copies make the generated set.
SHAPES = {
    # OLAP: 2 replicas of sf0.05 TPC-H tables (600k lineitem rows in all)
    "olap": dict(sf=0.05, replicas=2, documents=500, embeddings=500),
    # curation: small TPC-H tables; the documents and embeddings do the work
    "curate": dict(sf=0.005, replicas=1, documents=1000, embeddings=500),
    # smoke test: the sf0.001 shape
    "tiny": dict(sf=0.001, replicas=1, documents=300, embeddings=300),
}

VOCAB = ("a the data query row column table scan filter join agg sort hash "
         "merge key value part order line customer window group batch "
         "stream spark vector fast slow big small dup").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(rng: np.random.Generator, sf: float, n_docs: int, n_vecs: int) -> dict:
    """One replica's tables as dicts of numpy/pyarrow columns."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    t = {}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                              rng.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }
    n_li = 4 * n_ord
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US,
    }
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev)),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    }
    docs = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.05:  # near-duplicate: one-word insert or delete
            words = list(docs[rng.integers(0, i)])
            pos = int(rng.integers(0, len(words)))
            if rng.random() < 0.5 and len(words) > 10:
                del words[pos]
            else:
                words.insert(pos, VOCAB[rng.integers(0, len(VOCAB))])
        elif i > 10 and u < 0.052:  # exact duplicate
            words = list(docs[rng.integers(0, i)])
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        docs.append(words)
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "words": docs,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
    }
    e = rng.standard_normal((n_vecs, 64))
    t["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32),
    }
    return t


def replicate(rng: np.random.Generator, base: dict, k: int) -> dict:
    """K key-offset replicas of `base`, perturbed for r > 0 (see module doc)."""
    key_cols = {"c_custkey", "s_suppkey", "p_partkey", "o_orderkey", "o_custkey",
                "l_orderkey", "l_partkey", "l_suppkey", "event_id", "user_id",
                "doc_id", "vec_id"}
    out = {}
    for name, cols in base.items():
        parts = []
        for r in range(k):
            rep = {}
            for c, v in cols.items():
                if c in key_cols:
                    v = v + np.int64(r) * KEY_OFFSET
                elif r > 0 and c == "p_name":
                    v = np.char.add(v, f"_{r}")
                elif r > 0 and c == "words":
                    phase = int(rng.integers(0, 3))
                    v = [[w + f"_{r}" if i % 3 == phase else w for i, w in enumerate(ws)]
                         for ws in v]
                elif r > 0 and c == "embedding":
                    q, _ = np.linalg.qr(rng.standard_normal((64, 64)))
                    v = (v.astype(np.float64) @ q).astype(np.float32)
                rep[c] = v
            parts.append(rep)
        out[name] = {c: (np.concatenate([p[c] for p in parts]) if not isinstance(cols[c], list)
                         else sum((p[c] for p in parts), []))
                     for c in cols}
    return out


def to_arrow(name: str, cols: dict) -> pa.Table:
    if name == "documents":
        text = [" ".join(ws) for ws in cols["words"]]
        return pa.table({
            "doc_id": cols["doc_id"],
            "text": pa.array(text, pa.string()),
            "lang": cols["lang"],
            "source": pa.array([f"src{i % 20}" for i in cols["doc_id"]]),
            "n_chars": pa.array([len(s) for s in text], pa.int64()),
        })
    if name == "embeddings":
        emb = cols["embedding"]
        return pa.table({
            "vec_id": cols["vec_id"],
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), 64).cast(pa.list_(pa.float32())),
            "label": cols["label"],
        })
    arrays = {}
    for c, v in cols.items():
        if c in ("o_orderdate", "l_shipdate", "ts"):
            arrays[c] = _ts(v)
        elif isinstance(v, np.ndarray) and v.dtype.kind == "U":
            arrays[c] = pa.array(v.tolist(), pa.string())
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def generate(out_dir: str, shape: str, seed: int) -> None:
    spec = SHAPES[shape]
    rng = np.random.default_rng([seed, list(SHAPES).index(shape)])
    base = base_tables(rng, spec["sf"], spec["documents"], spec["embeddings"])
    tables = replicate(rng, base, spec["replicas"])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                             "r_name": REGIONS}), f"{out_dir}/region.parquet")
    pq.write_table(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                             "n_name": [f"NATION_{i}" for i in range(25)],
                             "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
                   f"{out_dir}/nation.parquet")
    for name, cols in tables.items():
        tbl = to_arrow(name, cols)
        tbl = tbl.take(rng.permutation(tbl.num_rows))  # seeded physical row order
        pq.write_table(tbl, f"{out_dir}/{name}.parquet", row_group_size=131_072,
                       compression="snappy")


def fingerprint(shape: str, seed: int) -> str:
    """Cache key: the generator's own source plus its arguments."""
    h = hashlib.sha256(open(__file__, "rb").read())
    h.update(f"{shape}:{seed}".encode())
    return h.hexdigest()[:16]


def ensure(cache_root: str, shape: str, seed: int) -> tuple:
    """Generated input dir for (shape, seed), made once and cached.

    Returns (dir, seconds spent generating; 0.0 on a cache hit)."""
    out = os.path.join(cache_root, f"{shape}-{seed}-{fingerprint(shape, seed)}")
    stamp = os.path.join(out, "_DONE")
    if os.path.exists(stamp):
        return out, 0.0
    t0 = time.monotonic()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, shape, seed)
    open(os.path.join(tmp, "_DONE"), "w").write(json.dumps({"shape": shape, "seed": seed}))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, time.monotonic() - t0

