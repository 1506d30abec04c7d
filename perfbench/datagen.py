"""Deterministic inputs for the benchmark.

The base tables have the schemas and value distributions of the engine's
TPC-H-ish fixture set (``schemas.FIXTURE_SCHEMAS``): uniform keys, 2-dp
money, midnight dates, a word-soup corpus with 5% planted "+ dup"
near-duplicates, 64-d unit embeddings around 10 centroids.  They are a
function of the scale factor only (fixed seed), so a committed table of
expected result hashes stays valid.  Row counts at sf0.1 match the fixture
set: orders 150k, lineitem 600k, documents 5k, embeddings 2k, events 100k.

``etl_cycles`` is the only seeded input: the batches the ``etl_refresh``
workload merges and appends.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n):
    """Midnight timestamps (µs) uniformly in [start, end]."""
    epoch = dt.date(1970, 1, 1)
    lo, hi = (start - epoch).days, (end - epoch).days
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def base_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    flags = rng.integers(0, 6, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[flags // 2]),
            "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[flags % 2]),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        }
    )
    ev_start = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _DAY_US
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + ev_start
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # planted exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def ensure_tables(root: str, sf: float) -> str:
    """Write the sf tables under ``root`` once; return their directory.

    Generation goes to a temp dir that is renamed into place, so an
    interrupted run never leaves a partial table set behind."""
    out = os.path.join(root, f"sf{sf:g}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in base_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    os.replace(tmp, out)
    return out


def etl_cycles(seed: int, n_keys: int, cycles: int, rows: int) -> list[dict]:
    """``cycles`` seeded refresh cycles over a table keyed 0..n_keys-1.

    A cycle holds three MERGE batches and one append batch.  The first two
    merges are *localized*: ``rows`` updates to keys in one narrow key
    range, so file skipping rewrites one or two files.  The third is
    *scattered*: ``rows`` updates drawn from the whole key space, which
    defeats file skipping.  Every merge also inserts ``rows // 4``
    new keys past the current max.  The append batch holds only new keys.  Every batch is
    a pyarrow table in orders' schema."""
    rng = np.random.default_rng(seed)
    next_key = n_keys

    def batch(upd):
        nonlocal next_key
        n_new = rows // 4
        keys = np.concatenate([upd, np.arange(next_key, next_key + n_new)])
        next_key += n_new
        n = len(keys)
        return pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
                "o_totalprice": _money(rng, 1000, 500000, n),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
                "o_orderpriority": _pick(rng, PRIORITIES, n),
            }
        )

    out = []
    for _ in range(cycles):
        merges = []
        for r in range(3):
            if r == 2:
                upd = rng.choice(next_key, rows, replace=False)
            else:
                lo = int(rng.integers(0, next_key - 4 * rows))
                upd = lo + rng.choice(4 * rows, rows, replace=False)
            merges.append(batch(upd))
        out.append({"merges": merges, "append": batch(np.array([], np.int64))})
    return out


def write_etl_cycles(out_dir: str, seed: int, n_keys: int, cycles: int, rows: int) -> list[dict]:
    """``etl_cycles`` written as parquet files; returns their paths per cycle."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    out = []
    for c, cyc in enumerate(etl_cycles(seed, n_keys, cycles, rows)):
        paths = {"merges": [], "append": os.path.join(out_dir, f"c{c}-append.parquet")}
        for r, b in enumerate(cyc["merges"]):
            paths["merges"].append(os.path.join(out_dir, f"c{c}-m{r}.parquet"))
            pq.write_table(b, paths["merges"][-1])
        pq.write_table(cyc["append"], paths["append"])
        out.append(paths)
    return out
