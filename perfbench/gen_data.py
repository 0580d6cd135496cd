"""Deterministic sf0.1 corpus for the benchmark.

Writes the ten tables `graft.Tables` reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, in the shapes the engine's queries expect: a TPC-H-like
star schema, a time-ordered `events` stream, a text corpus with planted
near-duplicates and unit-norm 64-d embeddings.

The corpus is fixed (generator seed 42): a workload's `--seed` varies the
operation stream and the rows it writes, never the base tables, so the
battery's expected outputs hold for every seed.

    python3 perfbench/gen_data.py <out_dir> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def ts_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def timestamps(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, scale=0.1):
    rng = np.random.Generator(np.random.PCG64(CORPUS_SEED))
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_li = int(1500000 * scale), int(6000000 * scale)
    n_ev, n_doc, n_emb = int(1000000 * scale), int(50000 * scale), int(20000 * scale)

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["small", "new", "blue", "old", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day = 86400 * 10**6
    d0, d1 = ts_us(1995, 1, 1), ts_us(2001, 8, 1)
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": timestamps(d0 + rng.integers(0, (d1 - d0) // day + 1, n_ord) * day),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    s0, s1 = ts_us(1995, 1, 2), ts_us(2001, 11, 4)
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": timestamps(s0 + rng.integers(0, (s1 - s0) // day + 1, n_li) * day)})
    e0 = ts_us(2024, 1, 1)
    write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": timestamps(np.sort(e0 + rng.integers(0, 30 * day, n_ev))),
        "user_id": rng.integers(0, max(1, int(15000 * scale)), n_ev),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # 95% base documents; 5% near-duplicates = an earlier base text + " dup"
    n_base = n_doc - n_doc // 20
    lens = rng.integers(10, 101, n_base)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    base = [" ".join(ws) for ws in np.split(words, np.cumsum(lens)[:-1])]
    src = rng.integers(0, n_base, n_doc - n_base)
    texts = base + [base[i] + " dup" for i in src]
    order = rng.permutation(n_doc)
    texts = [texts[i] for i in order]
    write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
