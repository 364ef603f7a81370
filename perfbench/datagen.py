"""Synthetic catalog tables for the benchmark, generated from a seed.

Writes the ten tables the query catalog reads (`region nation customer
supplier part orders lineitem events documents embeddings`) as one parquet
file each, with the column names, types and value ranges of the catalog's
test data: TPC-H-shaped dimensions and facts, a 30-day event stream with
JSON props, a 31-word document corpus with planted near-duplicate clusters,
and unit-norm 64-d embeddings with planted near-duplicate vectors.

Row counts scale with `sf` the way the test data does (lineitem 6M x sf);
documents and embeddings keep the test data's floor of 500 rows.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DIM = 64


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = int(datetime.fromisoformat(start).timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(k))]) for k in rng.integers(10, 100, n)]
    # Near-duplicate clusters: every 50th document seeds three copies with
    # two words replaced, so MinHash/SimHash/n-gram dedup queries find pairs.
    for i in range(0, n - 4, 50):
        words = texts[i].split()
        for j in range(i + 1, i + 4):
            copy = list(words)
            for pos in rng.integers(0, len(copy), 2):
                copy[pos] = vocab[rng.integers(0, len(vocab))]
            texts[j] = " ".join(copy)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, DIM)).astype(np.float64)
    # Near-duplicate vectors: every 25th vector is a small perturbation of
    # its predecessor (cosine ~0.99).
    for i in range(1, n, 25):
        vecs[i] = vecs[i - 1] + 0.1 * rng.standard_normal(DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf`, deterministic in `seed`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    nk = np.arange(25)
    pk = np.arange(n_part)
    evt_gaps = rng.exponential(30 * 86_400 / n_evt, n_evt)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nk, pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in nk]),
                "n_regionkey": pa.array(nk % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(pk, pa.int64()),
                "p_name": pa.array(
                    [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86_400),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100,
                "l_tax": rng.integers(0, 9, n_line) / 100,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * 86_400),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_evt), pa.int64()),
                "ts": _ts("2024-01-01", np.cumsum(evt_gaps)),
                "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n_evt),
                "value": np.round(rng.exponential(50, n_evt), 2) + 0.01,
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to `out_dir/<name>.parquet`; the directory is
    renamed into place only once complete, so a killed run leaves no
    half-written data set behind."""
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, f"{tmp}/{name}.parquet")
    os.replace(tmp, out_dir)
