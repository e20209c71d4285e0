"""Seeded synthetic inputs with the engine's testdata schema.

Every table the benchmark reads is generated here from ``--seed``: the same
seed and scale give byte-identical parquet files. Column names, types and
value domains follow the star schema the query suite is written against
(TPC-H-ish ``lineitem``/``orders``/... plus ``events``, ``documents`` and
``embeddings``), so the suite callables and their DuckDB oracles run
unchanged on the generated files.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "red", "hot", "small", "old", "new", "big", "shiny"]
_PART_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "nut", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a the data table query scan filter join group order sort merge hash "
    "window spark batch stream key value row column line part customer "
    "agg vector fast slow big small"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (sf=0.1: 600k lineitem)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 100),
        "orders": max(int(1_500_000 * sf), 200),
        "lineitem": max(int(6_000_000 * sf), 800),
        "events": max(int(1_000_000 * sf), 1_000),
        "documents": max(int(50_000 * sf), 300),
        "embeddings": max(int(20_000 * sf), 300),
    }


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng, n):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n):
    nc = n["customer"]
    return pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })


def _supplier(rng, n):
    ns = n["supplier"]
    return pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })


def _part(rng, n):
    npart = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    return pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": rng.choice(names, npart),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2),
    })


def _orders(rng, n):
    no = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, no) * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })


def _lineitem(rng, n):
    nl = n["lineitem"]
    orderkey = np.sort(rng.integers(0, n["orders"], nl))
    # line numbers restart at 1 within each order (orderkey is sorted)
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    quantity = rng.integers(1, 51, nl).astype("float64")
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": linenumber.astype("int32"),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, nl) * _DAY_US),
    })


def _events(rng, n):
    ne = n["events"]
    return pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne)),
        "user_id": rng.integers(0, max(ne // 60, 10), ne),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def _documents(rng, n):
    nd = n["documents"]
    lengths = rng.integers(8, 90, nd)
    words = rng.choice(_WORDS, int(lengths.sum()))
    bounds = np.r_[0, np.cumsum(lengths)]
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(nd)]
    # every 25th document repeats an earlier one with one word changed, so
    # the near-duplicate detectors have true positives to find
    for i in range(25, nd, 25):
        base = texts[int(rng.integers(0, i))].split()
        base[int(rng.integers(0, len(base)))] = str(rng.choice(_WORDS))
        texts[i] = " ".join(base)
    return pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=[0.14, 0.44, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n):
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.12, (nv, 64)).astype("float32")
    return pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype("int32"),
    })


_MAKERS = {
    "region": _region, "nation": _nation, "customer": _customer, "supplier": _supplier,
    "part": _part, "orders": _orders, "lineitem": _lineitem, "events": _events,
    "documents": _documents, "embeddings": _embeddings,
}
TABLES = tuple(_MAKERS)


def generate(dest: str, seed: int, sf: float, tables=TABLES) -> dict[str, dict[str, int]]:
    """Write each of ``tables`` as ``dest/<name>.parquet``; return per-table
    ``{"rows": ..., "bytes": ...}``. Every table draws from its own stream of
    ``seed``, so a table's contents do not depend on which others are made."""
    os.makedirs(dest, exist_ok=True)
    stats = {}
    for name in tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        table = _MAKERS[name](rng, sizes(sf))
        path = os.path.join(dest, f"{name}.parquet")
        pq.write_table(table, path)
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return stats


def main(argv) -> None:
    """``datagen.py DEST SEED SCALE TABLE...``: generate, print the stats as
    JSON. The benchmark runs this in a child process, so building the
    tables does not count in its own memory peak."""
    dest, seed, sf, *tables = argv
    print(json.dumps(generate(dest, int(seed), float(sf), tables)))


if __name__ == "__main__":
    main(sys.argv[1:])
