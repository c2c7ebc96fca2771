"""Deterministic synthetic input tables for the benchmark.

Writes the TPC-H-style star schema plus the `events`, `documents` and
`embeddings` tables the engine's queries and the KG corpus read, one
parquet file per table, with the same column names and parquet types as
the engine's test tables. Every value comes from a numpy PCG64 stream
seeded with a fixed generator seed, so the same scale factor always
gives byte-identical tables.

    python3 perfbench/gen_data.py --sf 0.01 --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(base, offsets):
    return (np.datetime64(base, "us")
            + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols, schema):
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def generate(sf, out):
    rng = np.random.Generator(np.random.PCG64(GENERATOR_SEED))
    n_cust = max(int(150000 * sf), 100)
    n_supp = max(int(10000 * sf), 10)
    n_part = max(int(200000 * sf), 100)
    n_ord = max(int(1500000 * sf), 1000)
    n_li = max(int(6000000 * sf), 4000)
    n_ev = max(int(1000000 * sf), 1000)
    n_users = max(int(15000 * sf), 10)
    n_docs = max(int(50000 * sf), 100)
    n_emb = max(int(20000 * sf), 100)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    nk = np.arange(25, dtype=np.int32)
    _write(out, "nation",
           {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": nk % 5},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer",
           {"c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier",
           {"s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))

    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(out, "part",
           {"p_partkey": pk,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    _write(out, "orders",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                      ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", ts), ("o_orderpriority", s)]))

    _write(out, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_li))},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64),
                      ("l_extendedprice", f64), ("l_discount", f64),
                      ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", ts)]))

    # events: time-ordered by event_id over 30 days, microsecond stamps
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(out, "events",
           {"event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                      ("event_type", s), ("value", f64), ("props", s)]))

    # documents: 10-100 vocabulary words; 5% are an earlier document plus
    # " dup" (near duplicates), 0.2% exact copies of an earlier one
    texts = []
    for d in range(n_docs):
        r = rng.random()
        if d > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        elif d > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, d))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    dk = np.arange(n_docs, dtype=np.int64)
    _write(out, "documents",
           {"doc_id": dk, "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{k % 20}" for k in dk],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                      ("source", s), ("n_chars", i64)]))

    # embeddings: unit vectors around one of 10 label centres
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings",
           {"vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    generate(a.sf, a.out)


if __name__ == "__main__":
    main()
