"""Seeded star-schema tables for the query pass of the traced run.

The engine's query registry (``__spark_entry__.queries()``) reads ten
parquet tables from one directory: a TPC-H-like star (region, nation,
customer, supplier, part, orders, lineitem), an ``events`` stream
table and the ``documents``/``embeddings`` corpora. This module writes
them with the same column names and physical types, at a TPC-H-like
scale factor ``scale`` (0.01 = 15,000 orders, ~60,000 line items). The same
``(seed, scale)`` always writes the same values.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "window line sort order data column join small customer query big stream "
         "group filter").split()
#: ``bench.py``'s headline registry queries, which these tables serve
HEADLINE = ("cdc_compact", "cdc_apply", "cdc_window_compact", "q1_pricing_summary",
            "q3_top_revenue_orders", "q5_revenue_by_nation", "q_topk_orders_per_segment",
            "dedup_exact", "text_stats", "knn_brute_topk")
EMB_DIM = 64
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def tables(seed: int, scale: float) -> dict[str, tuple[dict, dict]]:
    """``{name: (columns, arrow_types)}``: column lists and their type
    names (``int32``, ``int64``, ``double``, ``string``, ``ts``,
    ``floats``)."""
    rng = random.Random(seed)
    n_cust = max(50, int(150_000 * scale))
    n_orders = max(200, int(1_500_000 * scale))
    n_part, n_supp = max(50, int(200_000 * scale)), max(10, int(10_000 * scale))
    n_events, n_docs = max(200, int(1_000_000 * scale)), max(50, int(5_000 * scale))
    out = {}
    out["region"] = ({"r_regionkey": list(range(5)), "r_name": REGIONS},
                     {"r_regionkey": "int32", "r_name": "string"})
    out["nation"] = ({"n_nationkey": list(range(25)),
                      "n_name": [f"NATION{i:02d}" for i in range(25)],
                      "n_regionkey": [i % 5 for i in range(25)]},
                     {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"})
    out["customer"] = ({"c_custkey": list(range(n_cust)),
                        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
                        "c_acctbal": [_money(rng, -999, 9999) for _ in range(n_cust)],
                        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]},
                       {"c_custkey": "int64", "c_name": "string", "c_nationkey": "int32",
                        "c_acctbal": "double", "c_mktsegment": "string"})
    out["supplier"] = ({"s_suppkey": list(range(n_supp)),
                        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
                        "s_acctbal": [_money(rng, -999, 9999) for _ in range(n_supp)]},
                       {"s_suppkey": "int64", "s_name": "string", "s_nationkey": "int32",
                        "s_acctbal": "double"})
    out["part"] = ({"p_partkey": list(range(n_part)),
                    "p_name": [f"{rng.choice(WORDS)} {rng.choice(WORDS)}" for _ in range(n_part)],
                    "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
                    "p_type": [rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"])
                               for _ in range(n_part)],
                    "p_size": [rng.randrange(1, 51) for _ in range(n_part)],
                    "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)]},
                   {"p_partkey": "int64", "p_name": "string", "p_brand": "string",
                    "p_type": "string", "p_size": "int32", "p_retailprice": "double"})
    day0 = datetime(1992, 1, 1)
    o_date = [day0 + timedelta(days=rng.randrange(2400)) for _ in range(n_orders)]
    out["orders"] = ({"o_orderkey": list(range(n_orders)),
                      "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
                      "o_orderstatus": [rng.choice("OFP") for _ in range(n_orders)],
                      "o_totalprice": [_money(rng, 1000, 500000) for _ in range(n_orders)],
                      "o_orderdate": o_date,
                      "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)]},
                     {"o_orderkey": "int64", "o_custkey": "int64", "o_orderstatus": "string",
                      "o_totalprice": "double", "o_orderdate": "ts",
                      "o_orderpriority": "string"})
    li: dict[str, list] = {c: [] for c in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")}
    for o in range(n_orders):
        for line in range(1, rng.randrange(1, 8) + 1):
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * _money(rng, 900, 2000), 2))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ARN"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(o_date[o] + timedelta(days=rng.randrange(1, 122)))
    out["lineitem"] = (li, {"l_orderkey": "int64", "l_partkey": "int64",
                            "l_suppkey": "int64", "l_linenumber": "int32",
                            "l_quantity": "double", "l_extendedprice": "double",
                            "l_discount": "double", "l_tax": "double",
                            "l_returnflag": "string", "l_linestatus": "string",
                            "l_shipdate": "ts"})
    ts, t = [], datetime(2024, 1, 1)
    for _ in range(n_events):
        t += timedelta(microseconds=rng.randrange(1, 60_000_000))
        ts.append(t)
    out["events"] = ({"event_id": list(range(n_events)), "ts": ts,
                      "user_id": [rng.randrange(max(10, n_events // 100))
                                  for _ in range(n_events)],
                      "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
                      "value": [_money(rng, 0, 100) for _ in range(n_events)],
                      "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)]},
                     {"event_id": "int64", "ts": "ts", "user_id": "int64",
                      "event_type": "string", "value": "double", "props": "string"})
    texts: list[str] = []
    for _ in range(n_docs):
        # about one document in five repeats an earlier one exactly
        if texts and rng.random() < 0.2:
            texts.append(rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 80))))
    out["documents"] = ({"doc_id": list(range(n_docs)), "text": texts,
                         "lang": [rng.choice(["en", "de", "fr"]) for _ in range(n_docs)],
                         "source": [f"src{rng.randrange(5)}" for _ in range(n_docs)],
                         "n_chars": [len(x) for x in texts]},
                        {"doc_id": "int64", "text": "string", "lang": "string",
                         "source": "string", "n_chars": "int64"})
    out["embeddings"] = ({"vec_id": list(range(n_docs)),
                          "embedding": [[rng.gauss(0, 0.15) for _ in range(EMB_DIM)]
                                        for _ in range(n_docs)],
                          "label": [rng.randrange(5) for _ in range(n_docs)]},
                         {"vec_id": "int64", "embedding": "floats", "label": "int32"})
    return out


def write(path: str, seed: int, scale: float) -> None:
    """Write the ten tables as ``<path>/<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int32": pa.int32(), "int64": pa.int64(), "double": pa.float64(),
             "string": pa.string(), "ts": pa.timestamp("us"),
             "floats": pa.list_(pa.float32())}
    os.makedirs(path, exist_ok=True)
    for name, (cols, kinds) in tables(seed, scale).items():
        arrays = [pa.array(cols[c], type=types[kinds[c]]) for c in cols]
        pq.write_table(pa.Table.from_arrays(arrays, names=list(cols)),
                       os.path.join(path, f"{name}.parquet"))
