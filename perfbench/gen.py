"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the engine reads (``tables.TABLES``) as
single-file parquet, in the same physical layout as the engine's
fixtures: pyarrow writer, one row group, naive microsecond timestamps.
Row counts follow the TPC-H-style scale factor; the value domains follow
FIXTURES.md. The same (sf, seed) always gives byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = "red new hot small large old cold blue".split()
PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PTYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = "de en es fr zh".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_ORDER_START = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
_EVENT_START = np.datetime64("2024-01-01", "us").astype(np.int64)
_EVENT_SPAN_US = 30 * _DAY_US


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (matches the engine fixtures)."""
    docs = max(500, int(round(50_000 * sf)))
    return {
        "region": 5,
        "nation": 25,
        "supplier": max(10, int(round(10_000 * sf))),
        "customer": int(round(150_000 * sf)),
        "part": int(round(200_000 * sf)),
        "orders": int(round(1_500_000 * sf)),
        "lineitem": int(round(6_000_000 * sf)),
        "events": int(round(1_000_000 * sf)),
        "documents": docs,
        "embeddings": max(500, int(round(20_000 * sf))),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents of 100-500 chars; 1 in 50 is an exact copy and
    1 in 50 a one-word edit of an earlier document, so the dedup and
    near-dup operators have real work."""
    out: list[str] = []
    vocab = np.array(WORDS)
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            out.append(out[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.04:
            words = out[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            out.append(" ".join(words))
            continue
        target = int(rng.integers(100, 501))
        words = vocab[rng.integers(0, len(vocab), target // 3)]
        text = " ".join(words)
        while len(text) > target and " " in text:
            text = text.rsplit(" ", 1)[0]
        out.append(text)
    return out


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    np_ = n["part"]
    keys = np.arange(np_, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, np_)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, np_)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    no = n["orders"]
    odays = rng.integers(0, _ORDER_DAYS + 1, no)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(_ORDER_START + odays * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odays[lorder] + rng.integers(1, 122, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_ORDER_START + ship * _DAY_US),
    })

    ne = n["events"]
    ets = np.sort(rng.integers(0, _EVENT_SPAN_US, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(_EVENT_START + ets),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}"
        ),
    })

    nd = n["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def ensure(sf: float, seed: int, out_dir: str) -> str:
    """Write the tables for (sf, seed) into ``out_dir`` unless a complete
    copy with exactly the expected row counts is already there. Returns
    ``out_dir``."""
    stamp = os.path.join(out_dir, "_rows.json")
    want = row_counts(sf)
    if os.path.exists(stamp):
        with open(stamp) as f:
            have = json.load(f)
        if have == {"sf": sf, "seed": seed, "rows": want} and all(
            pq.read_metadata(os.path.join(out_dir, f"{k}.parquet")).num_rows == v
            for k, v in want.items()
        ):
            return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)
    with open(stamp, "w") as f:
        json.dump({"sf": sf, "seed": seed, "rows": want}, f)
    return out_dir

