"""Fixed synthetic tables for the leaf-queries workload.

The same table set and schemas ``__spark_entry__.queries()`` reads (a
TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``),
one parquet file with one row group per table, at scale factor ``SF``
(lineitem has 6M x SF rows). The data does not depend on the run's seed: it
is generated once per checkout with a fixed generator seed.
"""

from __future__ import annotations

import json
import os

SF = 0.01
GEN_SEED = 42
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


def _tables(sf: float) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(GEN_SEED)
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
    }

    def choice(values, size):
        return pa.array(np.asarray(values)[rng.integers(0, len(values), size)].tolist())

    def days(start: str, span: int, size: int):
        base = np.datetime64(start, "D")
        return pa.array(base + rng.integers(0, span, size).astype("timedelta64[D]"), pa.timestamp("us"))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, k), 2),
        "c_mktsegment": choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k),
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, k), 2),
    })
    k = n["part"]
    adjs = ["blue", "cold", "hot", "red", "green", "small", "large", "shiny"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(k), pa.int64()),
        "p_name": choice([f"{a} {b}" for a in adjs for b in nouns], k),
        "p_brand": choice([f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 2),
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": choice(["F", "O", "P"], k),
        "o_totalprice": np.round(rng.uniform(1000, 500000, k), 2),
        "o_orderdate": days("1995-01-01", 2404, k),
        "o_orderpriority": choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k),
    })
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, k), 2),
        "l_discount": np.round(rng.integers(0, 11, k) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, k) / 100, 2),
        "l_returnflag": choice(["A", "N", "R"], k),
        "l_linestatus": choice(["F", "O"], k),
        "l_shipdate": days("1995-01-02", 2498, k),
    })
    k = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, k))
    t["events"] = pa.table({
        "event_id": pa.array(range(k), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, k), pa.int64()),
        "event_type": choice(["click", "error", "purchase", "signup", "view"], k),
        "value": np.maximum(0.01, np.round(rng.exponential(50, k), 2)),
        "props": [json.dumps({"k": int(v)}) for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = []
    for i in range(k):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(k), pa.int64()),
        "text": texts,
        "lang": pa.array(np.asarray(["en", "zh", "es", "fr", "de"])[
            rng.choice(5, k, p=[0.41, 0.15, 0.15, 0.15, 0.14])].tolist()),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = centroids[labels] + rng.normal(0, 0.8, (k, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(k), pa.int64()),
        "embedding": pa.array(vecs.astype("float32").tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def tables_input(cache: str) -> str:
    """Directory of ``<table>.parquet`` files, generated on first use."""
    import pyarrow.parquet as pq

    out = os.path.join(cache, f"tables-sf{SF}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        for name, table in _tables(SF).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=max(1, table.num_rows))
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.replace(tmp, out)
    return out
