"""Seeded synthetic TPC-H-ish tables for the benchmark.

Writes the ten tables the operator battery reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, with the column names and types of the
project's testdata layout. Every value comes from
``numpy.random.default_rng(seed)``: the same (seed, scale) gives
byte-identical inputs.

Row counts follow TPC-H ratios: ``scale=0.1`` gives 150k orders and
about 600k lineitem rows. ``lineitem`` is generated in order-key order,
so key-range slices of it are contiguous, as after a clustered load.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_WORDS = (
    "key agg row scan slow fast table value part hash a the line sort window "
    "merge batch spark order data column join small big group query stream "
    "filter customer vector"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "green", "tiny"]
_PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gear", "pipe", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (TPC-H ratios, small floors)."""
    return {
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "documents": max(200, int(50_000 * scale)),
        "embeddings": max(300, int(20_000 * scale)),
    }


def _ts(days: np.ndarray, base: int) -> pa.Array:
    return pa.array((base + days * _DAY_US).astype("datetime64[us]"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    # whole cents, so sums are exact in both engines up to 2^53 cents
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def orders_table(rng: np.random.Generator, n: int, n_cust: int, key0: int = 0) -> pa.Table:
    keys = np.arange(key0, key0 + n, dtype=np.int64)
    return pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": _money(rng, n, 1_000, 500_000),
            "o_orderdate": _ts(rng.integers(0, 2_400, n), _EPOCH_1995),
            "o_orderpriority": rng.choice(np.array(_PRIORITIES), n),
        }
    )


def lineitem_table(
    rng: np.random.Generator, order_keys: np.ndarray, n_part: int, n_supp: int
) -> pa.Table:
    """1-7 lines per order (mean 4), emitted in order-key order."""
    per = rng.integers(1, 8, len(order_keys))
    okeys = np.repeat(order_keys.astype(np.int64), per)
    n = len(okeys)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": okeys,
            "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, n, 900, 105_000),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": _ts(rng.integers(1, 2_500, n), _EPOCH_1995),
        }
    )


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    sz = sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    n_nation = 25
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(n_nation), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n_nation)],
            "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
        }
    )
    nc, ns, npart = sz["customer"], sz["supplier"], sz["part"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, n_nation, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999, 9_999),
            "c_mktsegment": rng.choice(np.array(_SEGMENTS), nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, n_nation, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999, 9_999),
        }
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": rng.choice(names, npart),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": rng.choice(np.array(_PART_TYPES), npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = orders_table(rng, sz["orders"], nc)
    t["lineitem"] = lineitem_table(rng, t["orders"]["o_orderkey"].to_numpy(), npart, ns)
    ne = sz["events"]
    offs = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array((_EPOCH_2024 + offs).astype("datetime64[us]")),
            "user_id": rng.integers(0, max(50, ne // 70), ne).astype(np.int64),
            "event_type": rng.choice(np.array(_EVENT_TYPES), ne),
            "value": _money(rng, ne, 0.01, 490),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = sz["documents"]
    words = np.array(_WORDS)
    lens = rng.integers(8, 90, nd)
    texts = [" ".join(rng.choice(words, k)) for k in lens]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(np.array(_LANGS), nd),
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    nv, dim = sz["embeddings"], 64
    # clustered vectors: ANN indexes have structure to find
    centers = rng.normal(size=(16, dim))
    vecs = centers[rng.integers(0, 16, nv)] + 0.35 * rng.normal(size=(nv, dim))
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}
