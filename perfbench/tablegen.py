"""Seeded generator for the mart tables the query catalog reads.

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the schemas
and value domains of the catalog's synthetic TPC-H-ish test tables, scaled
by ``sf`` (sf=0.01 -> 60k lineitem rows). The same seed gives the same
bytes of data; only the values change between seeds, never the row counts.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _ts(base: str, seconds: np.ndarray) -> pd.Series:
    return pd.Timestamp(base) + pd.to_timedelta(seconds, unit="s")


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": price,
    })
    days = 6 * 365 + 212  # 1995-01-01 .. 2001-08-01
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, days, n_ord) * 86400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    okey = rng.integers(0, n_ord, n_line)
    order = np.argsort(okey, kind="stable")
    linenum = np.empty(n_line, dtype=i32)
    sorted_keys = okey[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
    run = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line]))
    linenum[order] = (run + 1).astype(i32)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": linenum,
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, days + 95, n_line) * 86400),
    })
    gaps = rng.exponential(259.0, n_ev)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(
            np.round(np.cumsum(gaps) * 1e6).astype(np.int64), unit="us"),
        "user_id": rng.integers(0, max(15, n_ev // 67), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(49.6, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i % 20 == 8 and i > 20:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    label = rng.integers(0, 10, n_vec).astype(i32)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 1.2, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vec),
        "label": label,
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in make_tables(sf, seed).items():
        schema = None
        if name == "embeddings":
            schema = pa.schema([("vec_id", pa.int64()),
                                ("embedding", pa.list_(pa.float32())),
                                ("label", pa.int32())])
        table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        table = table.cast(pa.schema([
            pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
            for f in table.schema]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
