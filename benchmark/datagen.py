"""Seeded input generator for the engine benchmark.

Writes the ten fixture tables (the DuckDB oracle harness opens all of
them) as one parquet file each, one row group, microsecond timestamps
without a zone -- the layout of the repository's test fixtures -- from a
numpy ``Generator`` seeded by the workload seed, so the same seed always
gives the same inputs.

Sizes follow the TPC-H scale factor ``sf`` for the relational tables
(``lineitem`` = 6M x sf rows). The two LLM tables are sized separately
because their queries are dominated by per-document work, not by ``sf``.
Exactly 5% of documents are copies of another document with `` dup``
appended, so near-duplicate detection always has work to do.

The seed sets only the generated values: row counts, value ranges, the
duplicate count and every distribution parameter are fixed, so every seed
gives the engine the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_DAY_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
_TS_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return table.num_rows


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _dates(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    d = _DAY_1995 + rng.integers(0, days, n)
    return _ts(d * _US_PER_DAY)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """``n`` word-salad documents over a 30-word vocabulary; ``n // 20``
    are another document's text plus `` dup`` (Jaccard 1.0 on word sets)."""
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    is_dup = np.zeros(n, dtype=bool)
    is_dup[rng.choice(n, n // 20, replace=False)] = True
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    }


def generate(
    out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int
) -> dict[str, int]:
    """Write all ten tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    rows: dict[str, int] = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = np.asarray(["large", "hot", "blue", "red", "small", "green", "cold", "tiny"])
    noun = np.asarray(["ring", "bolt", "nut", "gear", "pipe", "plate", "screw", "valve"])
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]
        ).astype(object)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(
            rng, ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _dates(rng, n_ord, 2404),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, 2499),
    })
    ev_ts = np.sort(_TS_2024 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    rows["documents"] = _write(out_dir, "documents", documents(rng, n_docs))
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32) * np.float32(0.125)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    return rows

