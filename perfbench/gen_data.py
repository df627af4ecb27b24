"""Deterministic fixture tables for the benchmark, sf0.1 shape.

The engine's queries read ten parquet tables (TPC-H-ish star schema plus
`events`, `documents` and `embeddings`, schemas in FIXTURES.md). The benchmark
cannot rely on a data directory outside its checkout, so it generates tables
with the same schemas, row counts and value distributions as the sf0.1 drop:

- events: 100k rows, ids in event-time order, exponential inter-arrival
  (mean 26 s, 30 days), 1500 uniform users, 5 event types, exponential
  `value` (mean 50), `props` = '{"k": n}';
- documents: 5000 bags of words over a 30-word vocabulary, 10-100 words,
  41% `en`, 250 near-duplicates (an earlier text plus " dup") and 8 exact
  duplicates;
- embeddings: 2000 random unit vectors of 64 floats with a random label;
- TPC-H tables at sf0.1 row counts.

The generator seed is fixed: the workload seed picks the query order, not data, so
every run and every commit reads byte-identical inputs and the stored output
digests stay valid. Bump VERSION when the output changes.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng):
    n = 100_000
    gaps = rng.exponential(25.9e6, n).astype(np.int64)
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts("2024-01-01T00:00:00", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng):
    n = 5000
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 101)))
             for _ in range(n)]
    dup_ids = rng.choice(np.arange(100, n), 258, replace=False)
    for i in dup_ids[:250]:
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in dup_ids[250:]:
        texts[i] = texts[rng.integers(0, i)]
    langs = rng.choice(LANGS, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(langs)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng):
    n, d = 2000, 64
    x = rng.standard_normal((n, d)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def tpch(rng):
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    n_cust, n_supp, n_part, n_ord, n_line = 15_000, 1_000, 20_000, 150_000, 600_000
    adjectives = "large hot small cold bright dark red green".split()
    nouns = "ring bolt nut screw gear pipe valve plate".split()
    day = 86_400_000_000
    out = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(regions)},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(list(rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust)))},
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))},
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(list(rng.choice(
                ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part))),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))},
    }
    odays = rng.integers(0, 2404, n_ord)
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(list(rng.choice(["O", "F", "P"], n_ord))),
        "o_totalprice": pa.array(_money(rng, 900.0, 450_000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", odays * day),
        "o_orderpriority": pa.array(list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord))),
    }
    lorder = rng.integers(0, n_ord, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": pa.array(lorder),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(list(rng.choice(["A", "N", "R"], n_line))),
        "l_linestatus": pa.array(list(rng.choice(["O", "F"], n_line))),
        "l_shipdate": _ts("1995-01-02", (odays[lorder] + rng.integers(1, 122, n_line)) * day),
    }
    return out


def generate(out_dir):
    """Write the ten tables under out_dir (idempotent: a matching stamp
    means the directory already holds this VERSION's output)."""
    stamp = os.path.join(out_dir, "_GENERATED")
    if os.path.isfile(stamp) and open(stamp).read().strip() == str(VERSION):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    tables = {"events": events(rng), "documents": documents(rng),
              "embeddings": embeddings(rng)}
    tables.update(tpch(rng))
    for name, cols in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(f"{VERSION}\n")


if __name__ == "__main__":
    t0 = dt.datetime.now()
    generate(sys.argv[1])
    print(f"generated {sys.argv[1]} in {(dt.datetime.now() - t0).total_seconds():.1f}s")
