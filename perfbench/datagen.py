"""Seeded input generation for the benchmark.

Every input the program sees is made here from the workload seed: the ten
parquet tables the catalog queries and the medallion pipeline read (same
names, columns and types as the program's test tables), the CSV order
batches the ingest loop lands, and the per-pass query order. The same seed
gives byte-identical files and the same order.
"""

from __future__ import annotations

import csv
import io
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit of scale factor, TPC-H style; documents and embeddings are
# fixed-size corpora, as in the program's test tables below sf0.1.
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBEDDING_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # through 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2498  # through 2001-11-04
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten program input tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    n_users = max(1, n["customer"] // 10)
    i32, i64 = np.int32, np.int64
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype=i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=i64),
            "o_custkey": rng.integers(0, nc, no).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": (ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, no)).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(i64),
            "l_partkey": rng.integers(0, npart, nl).astype(i64),
            "l_suppkey": rng.integers(0, ns, nl).astype(i64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": (SHIP_DAY0 + rng.integers(0, SHIP_DAYS + 1, nl)).astype(
                "datetime64[us]"
            ),
        }
    )
    ne = n["events"]
    offsets = np.sort(rng.integers(0, EVENT_SPAN_US, ne))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=i64),
            "ts": EVENT_T0 + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, ne).astype(i64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = N_DOCUMENTS
    texts = [
        " ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, nd)
    ]
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype=i64),
            "text": texts,
            "lang": rng.choice(LANGS, nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(x) for x in texts], dtype=i64),
        }
    )
    vecs = rng.normal(size=(N_EMBEDDINGS, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=i64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, N_EMBEDDINGS).astype(i32),
        }
    )
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One single-row-group parquet file per table, ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        schema = None
        if name == "embeddings":
            schema = pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            )
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- CSV landing batches for the ingest loop -------------------------------

ORDER_CSV_COLUMNS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
#: Share of landed rows with a negative price (the DROP expectation's target)
#: and with an unknown status (counted by the WARN expectation).
DROP_SHARE = 0.01
WARN_SHARE = 0.02


def order_batches(seed: int, n_batches: int, rows_per_batch: int) -> list[bytes]:
    """``n_batches`` CSV files of orders rows with globally unique keys.

    Returned as bytes so the landing thread only writes and renames; the
    content is fixed before timing starts.
    """
    rng = np.random.default_rng([seed, 7])
    out = []
    for b in range(n_batches):
        k = rows_per_batch
        keys = np.arange(b * k, (b + 1) * k, dtype=np.int64)
        price = _money(rng, 1000.0, 500000.0, k)
        price[rng.random(k) < DROP_SHARE] *= -1.0
        status = rng.choice(["F", "O", "P"], k).astype(object)
        status[rng.random(k) < WARN_SHARE] = "X"
        days = rng.integers(0, ORDER_DAYS + 1, k)
        dates = (ORDER_DAY0 + days).astype(str)
        prio = rng.choice(PRIORITIES, k)
        cust = rng.integers(0, 1500, k)
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(ORDER_CSV_COLUMNS)
        for row in zip(keys, cust, status, price, dates, prio):
            w.writerow([row[0], row[1], row[2], f"{row[3]:.2f}", f"{row[4]} 00:00:00", row[5]])
        out.append(buf.getvalue().encode())
    return out


def query_order(seed: int, names: list[str], n_passes: int) -> list[list[str]]:
    """A seeded permutation of ``names`` for each pass."""
    r = random.Random(seed)
    passes = []
    for _ in range(n_passes):
        p = list(names)
        r.shuffle(p)
        passes.append(p)
    return passes
