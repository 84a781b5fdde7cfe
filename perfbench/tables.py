"""Seeded generator of the operator benchmark's tables.

Writes the ten tables the ``queries`` registry reads (``region nation
supplier customer part orders lineitem events documents embeddings``),
one parquet file each, with the schemas and value domains of the
repository's sf0.001 test tables: a TPC-H-like star schema of about
6,000 line items, a month of events over 15 users, 500 short documents
over a 30-word vocabulary with near-duplicate copies (``... dup``), and
500 unit-length 64-dimensional embeddings in 10 labelled clusters.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

_I32, _I64, _F64, _S = pa.int32(), pa.int64(), pa.float64(), pa.string()
_TS = pa.timestamp("us")


def _table(cols: dict[str, tuple[pa.DataType, list]]) -> pa.Table:
    return pa.table({name: pa.array(values, type=t) for name, (t, values) in cols.items()})


def generate(seed: int, lineitems: int = 6000) -> dict[str, pa.Table]:
    """Every table, built in memory from ``seed``.  Row counts scale
    with ``lineitems`` as TPC-H's do (4 line items per order)."""
    rng = np.random.default_rng(seed)
    n_orders = lineitems // 4
    n_cust = max(10, n_orders // 10)
    n_part = max(10, lineitems // 30)
    n_supp = max(2, lineitems // 600)

    def money(lo: float, hi: float, n: int) -> list[float]:
        return [round(float(x), 2) for x in rng.uniform(lo, hi, n)]

    def pick(options, n: int) -> list:
        return [options[i] for i in rng.integers(0, len(options), n)]

    out: dict[str, pa.Table] = {}
    out["region"] = _table({"r_regionkey": (_I32, list(range(5))), "r_name": (_S, list(REGIONS))})
    out["nation"] = _table({
        "n_nationkey": (_I32, list(range(25))),
        "n_name": (_S, [f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (_I32, [int(x) for x in rng.integers(0, 5, 25)]),
    })
    out["supplier"] = _table({
        "s_suppkey": (_I64, list(range(n_supp))),
        "s_name": (_S, [f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": (_I32, [int(x) for x in rng.integers(0, 25, n_supp)]),
        "s_acctbal": (_F64, money(-999.99, 9999.99, n_supp)),
    })
    out["customer"] = _table({
        "c_custkey": (_I64, list(range(n_cust))),
        "c_name": (_S, [f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": (_I32, [int(x) for x in rng.integers(0, 25, n_cust)]),
        "c_acctbal": (_F64, money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": (_S, pick(SEGMENTS, n_cust)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = _table({
        "p_partkey": (_I64, list(range(n_part))),
        "p_name": (_S, pick(names, n_part)),
        "p_brand": (_S, [f"Brand#{int(x)}" for x in rng.integers(1, 26, n_part)]),
        "p_type": (_S, pick(PART_TYPES, n_part)),
        "p_size": (_I32, [int(x) for x in rng.integers(1, 51, n_part)]),
        "p_retailprice": (_F64, [round(900 + i * 0.1, 2) for i in range(n_part)]),
    })

    day0 = dt.datetime(1995, 1, 1)
    order_days = rng.integers(0, (dt.datetime(2001, 8, 1) - day0).days + 1, n_orders)
    out["orders"] = _table({
        "o_orderkey": (_I64, list(range(n_orders))),
        "o_custkey": (_I64, [int(x) for x in rng.integers(0, n_cust, n_orders)]),
        "o_orderstatus": (_S, pick(("F", "O", "P"), n_orders)),
        "o_totalprice": (_F64, money(1000, 500000, n_orders)),
        "o_orderdate": (_TS, [day0 + dt.timedelta(days=int(d)) for d in order_days]),
        "o_orderpriority": (_S, pick(PRIORITIES, n_orders)),
    })

    okeys = np.sort(rng.integers(0, n_orders, lineitems))
    line_no, prev, k = [], -1, 0
    for o in okeys:
        k = k + 1 if o == prev else 1
        prev = o
        line_no.append(k)
    order = rng.permutation(lineitems)
    qty = rng.integers(1, 51, lineitems).astype(float)
    ship = [day0 + dt.timedelta(days=int(order_days[o]) + int(d))
            for o, d in zip(okeys, rng.integers(1, 122, lineitems))]
    cols = {
        "l_orderkey": (_I64, [int(x) for x in okeys]),
        "l_partkey": (_I64, [int(x) for x in rng.integers(0, n_part, lineitems)]),
        "l_suppkey": (_I64, [int(x) for x in rng.integers(0, n_supp, lineitems)]),
        "l_linenumber": (_I32, line_no),
        "l_quantity": (_F64, [float(x) for x in qty]),
        "l_extendedprice": (_F64, [round(float(q * p), 2)
                                   for q, p in zip(qty, rng.uniform(900, 2100, lineitems))]),
        "l_discount": (_F64, [round(int(x) / 100, 2) for x in rng.integers(0, 11, lineitems)]),
        "l_tax": (_F64, [round(int(x) / 100, 2) for x in rng.integers(0, 9, lineitems)]),
        "l_returnflag": (_S, pick(("A", "N", "R"), lineitems)),
        "l_linestatus": (_S, pick(("F", "O"), lineitems)),
        "l_shipdate": (_TS, ship),
    }
    out["lineitem"] = _table({c: (t, [v[i] for i in order]) for c, (t, v) in cols.items()})

    n_events = lineitems // 6
    month = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month, n_events))
    ev0 = dt.datetime(2024, 1, 1)
    out["events"] = _table({
        "event_id": (_I64, list(range(n_events))),
        "ts": (_TS, [ev0 + dt.timedelta(microseconds=int(t)) for t in ts]),
        "user_id": (_I64, [int(x) for x in rng.integers(0, 15, n_events)]),
        "event_type": (_S, pick(EVENT_TYPES, n_events)),
        "value": (_F64, [round(float(x), 2) for x in rng.exponential(80, n_events) + 0.01]),
        "props": (_S, [json.dumps({"k": int(x)}) for x in rng.integers(0, 100, n_events)]),
    })

    n_docs = max(20, lineitems // 12)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # a near-duplicate: an earlier document with "dup" appended
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(pick(WORDS, int(rng.integers(8, 90)))))
    out["documents"] = _table({
        "doc_id": (_I64, list(range(n_docs))),
        "text": (_S, texts),
        "lang": (_S, [LANGS[i] for i in rng.choice(5, n_docs, p=(0.4, 0.15, 0.15, 0.15, 0.15))]),
        "source": (_S, [f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": (_I64, [len(t) for t in texts]),
    })

    n_vec, dim = n_docs, 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = _table({
        "vec_id": (_I64, list(range(n_vec))),
        "embedding": (pa.list_(pa.float32()), [list(map(float, v)) for v in vecs]),
        "label": (_I32, [int(x) for x in labels]),
    })
    return out


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table under out_dir/<name>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
