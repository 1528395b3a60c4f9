"""Seeded input generators.

Every table is a pure function of ``(seed, scale)``: the same seed writes
byte-identical inputs, a different seed changes which rows appear but not
the table sizes or value domains.  Domains follow the engine's test data
(``TESTDATA.md`` tables at sf0.1) and, for the stream, the transaction
generator in ``real_time_data_pipeline_spark/sources/generator.py``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit of TPC-H-style scale factor, as in TESTDATA.md (sf0.1 has
# 600k lineitem rows, 100k events).
_PER_SF = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "part": 200_000,
    "supplier": 10_000,
    "events": 1_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "screw", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# Share of documents that are a copy of another document plus one token,
# the near-duplicate rate of the engine's sf0.1 documents table (5%).
NEAR_DUP_RATE = 0.05

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_relational(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """TPC-H-style star schema plus the ``events`` table at scale ``sf``.

    Every foreign key points at an existing row, so joins are lossless
    apart from the filters the queries apply."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(k * sf)) for t, k in _PER_SF.items()}
    rows = {
        "region": _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }),
    }
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, npart)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, npart) / 10, 2),
    })
    order_day = rng.integers(0, 2405, no)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    l_order = rng.integers(0, no, nl)
    ship_day = order_day[l_order] + rng.integers(1, 96, nl)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995 + ship_day * _DAY_US),
    })
    ne = n["events"]
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.minimum(np.round(rng.exponential(50.0, ne), 2), 560.21),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return rows


def write_corpus(
    out_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64
) -> dict[str, int]:
    """``documents`` (with a fixed near-duplicate rate) and ``embeddings``
    (random unit vectors with one of ten labels, as in the engine's test
    data)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1_000_003)
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    dups = rng.choice(n_docs, int(n_docs * NEAR_DUP_RATE), replace=False)
    for i in dups:
        j = (i + 1 + rng.integers(0, n_docs - 1)) % n_docs
        texts[i] = texts[j] + " dup"
    rows = {
        "documents": _write(out_dir, "documents", {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        })
    }
    label = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), dim
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return rows


# --- transaction JSON lines for the ingest stream -------------------------

TXN_TYPES = {  # amount range per type, as in sources/generator.py
    "deposit": (50.0, 5000.0),
    "withdrawal": (20.0, 1000.0),
    "transfer": (10.0, 3000.0),
    "payment": (5.0, 500.0),
    "refund": (5.0, 200.0),
}
MERCHANTS = [
    "Amazon", "Walmart", "Target", "Starbucks", "Shell", "Exxon",
    "McDonalds", "Subway", "BestBuy", "HomeDepot", "Costco", "Walgreens",
]
MERCHANT_CATEGORIES = ["retail", "food", "gas", "services", "entertainment"]
SOURCES = ["mobile_app", "web_banking", "branch", "atm", "merchant_pos"]
# Rows routed to the dead-letter sink (negative amount fails validation).
INVALID_RATE = 0.05
_NOW = dt.datetime(2024, 1, 31)


def transaction_lines(rng: np.random.Generator, first_id: int, n: int) -> list[str]:
    """``n`` JSON transaction records with ids ``first_id ..``."""
    types = list(TXN_TYPES)
    t_idx = rng.integers(0, len(types), n)
    r_amt = rng.random(n)
    invalid = rng.random(n) < INVALID_RATE
    acct = rng.integers(1, 101, n)
    cust = rng.integers(1, 51, n)
    secs = rng.integers(0, 86_400, n)
    completed = rng.random(n) < 0.75
    src = rng.integers(0, len(SOURCES), n)
    merch = rng.integers(0, len(MERCHANTS), n)
    cat = rng.integers(0, len(MERCHANT_CATEGORIES), n)
    mid = rng.integers(0, 99_999, n)
    out = []
    for i in range(n):
        ttype = types[t_idx[i]]
        lo, hi = TXN_TYPES[ttype]
        amount = round(lo + r_amt[i] * (hi - lo), 2)
        rec = {
            "transaction_id": f"TXN{first_id + i:012d}",
            "account_id": f"ACC{acct[i]:06d}",
            "customer_id": f"CUST{cust[i]:06d}",
            "transaction_type": ttype,
            "amount": -amount if invalid[i] else amount,
            "currency": "USD",
            "timestamp": (_NOW - dt.timedelta(seconds=int(secs[i]))).strftime(
                "%Y-%m-%dT%H:%M:%S"
            ),
            "description": f"{ttype.capitalize()} transaction",
            "status": "completed" if completed[i] else "pending",
            "source": SOURCES[src[i]],
        }
        if ttype == "payment":
            rec["merchant_info"] = {
                "name": MERCHANTS[merch[i]],
                "category": MERCHANT_CATEGORIES[cat[i]],
                "merchant_id": f"M{mid[i]:05d}",
            }
        out.append(json.dumps(rec, separators=(",", ":")))
    return out


def write_transaction_files(
    out_dir: str, seed: int, n_files: int, rows_per_file: int, tag: str,
    first_id: int = 0,
) -> list[str]:
    """Write ``n_files`` JSON-lines files named ``<tag>-<n>.json`` into
    ``out_dir`` with transaction ids from ``first_id``; returns the names
    in id order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, first_id])
    names = []
    for f in range(n_files):
        name = f"{tag}-{f:05d}.json"
        lines = transaction_lines(
            rng, first_id + f * rows_per_file, rows_per_file
        )
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        names.append(name)
    return names
