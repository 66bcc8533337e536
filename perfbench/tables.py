"""Deterministic battery tables: a TPC-H-like star schema plus the
``events``, ``documents`` and ``embeddings`` tables the query battery
reads.

Schemas and value domains follow the battery's fixture tables: the same
column names and types, the same categorical vocabularies, and the same
shapes that the leaves depend on (Zipf-free uniform keys, exponential
event values, 30-word documents with ~5% planted near-duplicates that
end in " dup", unit-norm 64-dim embeddings). Everything is a pure
function of ``(scale, seed)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
_NOUN = ["anvil", "bolt", "plate", "ring", "rod", "widget", "gear", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(start: str, n_days: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, size=size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=size), 2)


def _names(prefix: str, n: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(np.arange(n).astype("U9"), 9))


def gen_tables(out_dir: str, scale: float, seed: int) -> None:
    """Write one parquet file per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.PCG64(seed))
    n_cust = max(15, round(150_000 * scale))
    n_supp = max(10, round(10_000 * scale))
    n_part = max(20, round(200_000 * scale))
    n_ord = max(150, round(1_500_000 * scale))
    n_li = max(600, round(6_000_000 * scale))
    n_ev = max(100, round(1_000_000 * scale))
    n_users = max(15, round(15_000 * scale))
    n_docs = max(500, round(50_000 * scale))
    n_emb = max(500, round(20_000 * scale))
    i32 = pa.int32()

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer#", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier#", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype("U2")),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, n_li), pa.timestamp("us")),
    })
    # events arrive in time order: event_id increases with ts
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype("U2")), "}"),
    })
    tables["documents"] = _documents(rng, n_docs)
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n_docs: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(n_docs)
    ]
    # ~5% near-duplicates: a copy of another document plus " dup" (twice
    # for one in five of them), so the dedup leaves have pairs to find
    dup_ids = rng.choice(n_docs, size=n_docs // 20, replace=False)
    for i in dup_ids:
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + (" dup dup" if rng.random() < 0.2 else " dup")
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype("U2")),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
