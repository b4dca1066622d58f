"""Seeded parquet corpus for the ``query_corpus`` workload.

Writes the ten tables the engine's catalog knows (``region`` ...
``embeddings``) as single parquet files, in the column layout and value
ranges of the TPC-H-ish test corpus the query registry is developed
against: uniform keys, exponential event values, a 36-word document
vocabulary with a few exact and near duplicates, and 64-d unit
embeddings clustered by label. Row counts are those of the test
corpus at sf 0.02 (``ROWS``).

The same seed always writes the same rows, so two runs of one seed time
the same inputs.

    python3 perfbench/gen_corpus.py --seed 1 --out /path/dir
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data row column table key value part order line customer "
    "scan join merge sort hash group agg filter window stream batch "
    "query spark vector fast slow big small"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("error", "view", "purchase", "signup", "click")

_US_PER_DAY = 86_400 * 1_000_000
#: rows per table: the test corpus's sf 1 sizes times 0.02, and at
#: least 500 embeddings
ROWS = {"customer": 3_000, "supplier": 200, "part": 4_000, "orders": 30_000, "lineitem": 120_000,
        "events": 20_000, "documents": 1_000, "embeddings": 500}


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, n: int, start: tuple, end: tuple) -> np.ndarray:
    lo, hi = _epoch_us(*start) // _US_PER_DAY, _epoch_us(*end) // _US_PER_DAY
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _pick(rng, options, n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(8, 100, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # exact duplicates and one-word-edit near duplicates, so the dedup
    # and similarity operators have pairs to find
    for i in rng.choice(n, max(2, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, max(2, n // 100), replace=False):
        toks = texts[int(rng.integers(0, n))].split()
        toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.fromiter((len(t) for t in texts), "int64", n)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(size=(n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64, dtype="int32")), flat),
            "label": pa.array(labels),
        }
    )


def generate(seed: int, out_dir: str) -> dict[str, int]:
    """Write the corpus under ``out_dir``; return rows per table."""
    rng = np.random.default_rng([seed, 20240101])
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc, n_emb = ROWS.values()

    part_price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    li_part = rng.integers(0, n_part, n_li)
    li_qty = rng.integers(1, 51, n_li).astype("float64")
    ev_ts = np.sort(rng.integers(_epoch_us(2024, 1, 1), _epoch_us(2024, 1, 31), n_ev))

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype="int32")),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype="int32")),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
                "p_retailprice": pa.array(part_price),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ("O", "P", "F"), n_ord),
                "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
                "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
                "l_partkey": pa.array(li_part),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
                "l_quantity": pa.array(li_qty),
                "l_extendedprice": pa.array(np.round(li_qty * part_price[li_part] * rng.uniform(0.95, 1.05, n_li), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
                "l_linestatus": _pick(rng, ("O", "F"), n_li),
                "l_shipdate": _ts(_days(rng, n_li, (1995, 1, 2), (2001, 11, 4))),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype="int64")),
                "ts": _ts(ev_ts),
                "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_ev)),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(generate(args.seed, args.out))


if __name__ == "__main__":
    main()
