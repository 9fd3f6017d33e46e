"""Seeded synthetic inputs in the engine's table layout.

Every table the catalog knows (``catalog.TABLE_NAMES``) is written as one
parquet file with the same column names, Arrow types and value
distributions as the project's generated testdata: a TPC-H-like star
(region, nation, customer, supplier, part, orders, lineitem), an event
stream, and a text/vector corpus (documents, embeddings).  The same seed
always writes the same bytes, so a workload's inputs are a pure function
of ``--seed``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "old", "hot", "cold", "large", "small", "green"]
PART_NOUN = ["bolt", "ring", "gear", "plate", "rod", "widget", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
# share of documents that repeat an earlier document's text plus " dup"
DUP_SHARE = 0.05

ORDER_FIRST = dt.date(1995, 1, 1)
ORDER_LAST = dt.date(2001, 8, 1)
EVENT_START = dt.datetime(2024, 1, 1)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: dt.date, last: dt.date, n: int) -> pa.Array:
    span = (last - first).days + 1
    base = np.datetime64(first.isoformat(), "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def star_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """The TPC-H-like star at ``scale`` (1.0 = 6M order lines)."""
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 5)
    n_part = max(int(200_000 * scale), 20)
    n_ord = max(int(1_500_000 * scale), 100)
    n_line = 4 * n_ord
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, ORDER_FIRST, ORDER_LAST, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, ORDER_FIRST, dt.date(2001, 11, 4), n_line),
    })
    n_ev = max(int(1_000_000 * scale), 100)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64(EVENT_START, "us") + (secs * 1e6).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, max(n_cust, 1), n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    return out


def corpus_tables(rng: np.random.Generator, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """A documents/embeddings corpus: bag-of-words texts over a 31-word
    vocabulary where DUP_SHARE of the documents repeat an earlier text with
    a " dup" suffix (the near-duplicates the dedup operators look for), and
    unit-norm Gaussian embeddings with random labels."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * EMBED_DIM + 1, EMBED_DIM), pa.int32()), flat
        ),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write_dataset(out_dir: str, seed: int, scale: float, n_docs: int, n_vecs: int) -> None:
    """Write every catalog table for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    tables = star_tables(rng, scale)
    tables.update(corpus_tables(np.random.default_rng([seed, 1]), n_docs, n_vecs))
    for name, table in tables.items():
        _write(out_dir, name, table)


def hold_back_batch(sf_dir: str, batch_dir: str, first_day: dt.date) -> None:
    """Move the orders dated ``first_day`` or later, and their lines, out of
    ``sf_dir`` into ``batch_dir``: a delta batch that arrives after the
    warehouse was built."""
    os.makedirs(batch_dir, exist_ok=True)
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    lines = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    late = pc.greater_equal(
        orders["o_orderdate"], pa.scalar(dt.datetime.combine(first_day, dt.time()),
                                         pa.timestamp("us"))
    )
    late_lines = pc.is_in(lines["l_orderkey"],
                          value_set=orders.filter(late)["o_orderkey"])
    for name, table, mask in (("orders", orders, late), ("lineitem", lines, late_lines)):
        _write(batch_dir, name, table.filter(mask))
        _write(sf_dir, name, table.filter(pc.invert(mask)))


def write_corpus(out_dir: str, base_dir: str, seed: int, index: int,
                 n_docs: int, n_vecs: int) -> None:
    """Write corpus ``index`` of ``seed`` into ``out_dir``; every other table
    is hard-linked from ``base_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = corpus_tables(np.random.default_rng([seed, 2, index]), n_docs, n_vecs)
    for name, table in tables.items():
        _write(out_dir, name, table)
    for entry in os.listdir(base_dir):
        stem = entry.removesuffix(".parquet")
        if entry.endswith(".parquet") and stem not in tables:
            os.link(os.path.join(base_dir, entry), os.path.join(out_dir, entry))
