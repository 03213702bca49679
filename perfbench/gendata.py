"""Deterministic input tables for the benchmark.

The benchmark may read only files inside its own checkout, so it makes
its tables instead of reading an external fixture directory. The tables
have the fixture schemas pinned in ``sim_spark.io.SCHEMAS`` and the
value shapes of the sf0.1 fixtures (FIXTURES.md): the same domains, join
fan-outs, near-duplicate share in ``documents`` and one parquet row
group per table. Row counts are the sf0.1 counts times ``scale``.

The values come from a fixed generator seed, not from the benchmark's
``--seed``: the oracle hashes in ``pins.json`` are computed on exactly
these tables, so they must not change between runs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
GEN_VERSION = 1

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "line", "order", "batch", "part", "sort", "fast", "scan",
    "hash", "slow", "group", "query", "agg", "the", "a", "big", "small",
    "join", "filter", "row", "key", "data", "customer",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["red", "cold", "large", "hot", "blue", "old", "small", "new"]
NOUN = ["widget", "ring", "gear", "bolt", "plate", "rod", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
ETYPES = ["view", "click", "purchase", "signup", "error"]
DAY_US = 86_400_000_000

# sf0.1 fixture row counts; lineitem follows from Poisson(4) lines/order
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}


def _day_us(date: str) -> int:
    return int(np.datetime64(date).astype("datetime64[us]").astype("int64"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _dims(rng, n: dict) -> dict[str, pa.Table]:
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    k = np.arange(npart)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), type=pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), type=pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), type=pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), type=pa.int32()),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(k, type=pa.int64()),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, npart)],
            "p_type": _pick(rng, PTYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), type=pa.int32()),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
        }),
    }


def _facts(rng, n: dict) -> dict[str, pa.Table]:
    no = n["orders"]
    okey = np.arange(no)
    d0, d1 = _day_us("1995-01-01"), _day_us("2001-08-01")
    orders = pa.table({
        "o_orderkey": pa.array(okey, type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, no) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    lines = rng.poisson(4.0, no)
    l_okey = np.repeat(okey, lines)
    nl = l_okey.size
    linenumber = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype("float64")
    s0, s1 = _day_us("1995-01-02"), _day_us("2001-11-04")
    lineitem = pa.table({
        "l_orderkey": pa.array(l_okey, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), type=pa.int64()),
        "l_linenumber": pa.array(linenumber, type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(s0 + rng.integers(0, (s1 - s0) // DAY_US + 1, nl) * DAY_US),
    })
    # the fixtures store lineitem unordered by l_orderkey
    lineitem = lineitem.take(pa.array(rng.permutation(nl)))
    return {"orders": orders, "lineitem": lineitem}


def _events(rng, n: dict) -> pa.Table:
    ne = n["events"]
    t0 = _day_us("2024-01-01")
    return pa.table({
        "event_id": pa.array(np.arange(ne), type=pa.int64()),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, max(1, n["customer"]), ne), type=pa.int64()),
        "event_type": _pick(rng, ETYPES, ne),
        "value": np.round(np.minimum(rng.exponential(50.0, ne), 600.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def _documents(rng, n: dict) -> pa.Table:
    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if r < 0.05 and i > 10:
            # near-duplicate of an earlier doc: a few words swapped and the
            # 'dup' marker token spliced in (5% of the sf0.1 fixture docs)
            base = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(base) // 20)):
                base[int(rng.integers(0, len(base)))] = vocab[int(rng.integers(0, len(vocab)))]
            base.insert(int(rng.integers(0, len(base))), "dup")
            texts.append(" ".join(base))
        elif r < 0.0516 and i > 10:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 106)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), type=pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=np.array(LANG_P) / sum(LANG_P))]),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n: dict) -> pa.Table:
    nv, dim, nlab = n["embeddings"], 64, 10
    centers = rng.normal(0, 0.5, (nlab, dim))
    labels = rng.integers(0, nlab, nv)
    v = centers[labels] + rng.normal(0, 1.0, (nv, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(nv), type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })


def tables(scale: float) -> dict[str, pa.Table]:
    """Every fixture table at ``scale`` times the sf0.1 row counts."""
    rng = np.random.default_rng(DATA_SEED)
    n = {t: max(1, int(round(c * scale))) for t, c in SF01_ROWS.items()}
    out = _dims(rng, n)
    out.update(_facts(rng, n))
    out["events"] = _events(rng, n)
    out["documents"] = _documents(rng, n)
    out["embeddings"] = _embeddings(rng, n)
    return out


def ensure(root: str, scale: float) -> str:
    """The directory holding the tables at ``scale`` under ``root``,
    written on first use. It is built under a temporary name and renamed
    into place, so an existing directory is always complete."""
    out = os.path.join(root, f"scale{scale:g}_v{GEN_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for t, tb in tables(scale).items():
        pq.write_table(tb, os.path.join(tmp, f"{t}.parquet"), row_group_size=tb.num_rows)
    try:
        os.rename(tmp, out)
    except OSError:  # another process renamed its copy first
        shutil.rmtree(tmp, ignore_errors=True)
    return out
