"""Deterministic generator of the benchmark corpus.

Writes the ten tables the query library reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas of the engine's test data.  The corpus does
not depend on the workload seed: the seed picks slices, keys and values
out of it, so the recorded corpus-query results stay valid for every
seed.  ``scale`` multiplies the row counts; ``scale=1`` is the default
benchmark size (40k lineitem rows, 500 documents, 500 embeddings).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240917
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_EPOCH = dt.datetime(1995, 1, 1)


def sizes(scale: float) -> dict[str, int]:
    def n(base: int, floor: int) -> int:
        return max(floor, int(base * scale))

    return {
        "customer": n(1000, 50),
        "supplier": n(50, 10),
        "part": n(1000, 50),
        "orders": n(10000, 300),
        "events": n(5000, 300),
        "documents": n(500, 100),
        "embeddings": n(500, 100),
    }


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return rng.integers(lo, hi, n).astype("timedelta64[D]") + np.datetime64(_EPOCH, "D")


def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(_VOCAB, int(rng.integers(10, 90))))


def generate(out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    rng = np.random.default_rng(CORPUS_SEED)
    sz = sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = sz["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = sz["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
    })
    npart = sz["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(["blue", "cold", "small", "big", "red", "fast"], npart),
                rng.choice(["anvil", "widget", "gear", "bolt", "spring"], npart),
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2),
    })

    no = sz["orders"]
    odate = _days(rng, no, 0, 2400)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    # 1-7 lines per order; (l_orderkey, l_linenumber) is unique
    per = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no, dtype=np.int64), per)
    lnum = (np.arange(len(lok)) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    nl = len(lok)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate.repeat(per) + rng.integers(1, 120, nl).astype("timedelta64[D]")
    shipped = ship < np.datetime64("1998-09-01")
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.where(shipped, rng.choice(["A", "R"], nl), "N"),
        "l_linestatus": np.where(shipped, "F", "O"),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })

    ne = sz["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)) + np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, max(15, ne // 60), ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0, 330, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = sz["documents"]
    texts = [_doc_text(rng) for _ in range(nd)]
    # plant near-duplicates (one word swapped, "dup" marker) and a few
    # exact copies so every dedup operator has work to find
    for i in range(0, nd - 1, 25):
        j = int(rng.integers(i + 1, nd))
        words = texts[i].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[j] = " ".join(words)
    for i in range(7, nd - 1, 97):
        texts[i + 1] = texts[i]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    nv = sz["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] * 0.5 + rng.normal(0, 1, (nv, 64))) * 0.1
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })

    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}
