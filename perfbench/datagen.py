"""Seeded data for the benchmark: an sf0.1-shaped lake (TPC-H-ish star
schema plus ``events``), a replicated lake for the analytic workload, and a
corpus of documents and embeddings with near-duplicates.

Every table is a function of the seed alone: the same seed writes the same
bytes, another seed writes other bytes.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = dict(customer=15000, supplier=1000, part=20000, orders=150000,
            lineitem=600000, events=100000)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
SOURCES = ["web", "app", "api"]
PART_WORDS = ["large", "small", "hot", "cold", "ring", "bolt", "nut", "gear",
              "shiny", "matte", "red", "blue"]
PART_TYPES = ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"]
VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data a the of and to in is vector join index shard cache plan "
         "node task stage shuffle spill page block file commit schema lake "
         "view chunk token model train eval score rank label").split()
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, lo, hi):
    return EPOCH_1992 + (rng.integers(lo, hi, n) * 86400 * 10**6).astype("timedelta64[us]")


def lake_tables(seed, repl=1):
    """sf0.1-shaped tables; ``repl`` > 1 replicates the fact tables
    (orders, lineitem, events) with fresh seeded measures per replica."""
    rng = np.random.default_rng([seed, 1])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = SF01["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n = SF01["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n), 2)})
    n = SF01["part"]
    w = np.array(PART_WORDS)
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.char.add(np.char.add(w[rng.integers(0, 12, n)], " "),
                              w[rng.integers(0, 12, n)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 5, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n) % 20000 / 10.0, 2)})
    parts = {k: [] for k in ("orders", "lineitem", "events")}
    for r in range(repl):
        n = SF01["orders"]
        base = r * n
        parts["orders"].append(pa.table({
            "o_orderkey": np.arange(base, base + n, dtype=np.int64),
            "o_custkey": rng.integers(0, SF01["customer"], n).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(900, 450000, n), 2),
            "o_orderdate": _days(rng, n, 0, 2400),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]}))
        n = SF01["lineitem"]
        parts["lineitem"].append(pa.table({
            "l_orderkey": rng.integers(base, base + SF01["orders"], n).astype(np.int64),
            "l_partkey": rng.integers(0, SF01["part"], n).astype(np.int64),
            "l_suppkey": rng.integers(0, SF01["supplier"], n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, n, 0, 3650)}))
        n = SF01["events"]
        ks = rng.integers(0, 100, n)
        srcs = np.array(SOURCES)[rng.integers(0, 3, n)]
        parts["events"].append(pa.table({
            "event_id": np.arange(r * n, (r + 1) * n, dtype=np.int64),
            "ts": EPOCH_2024 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
            .astype("timedelta64[us]"),
            "user_id": rng.integers(0, 5000, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0, 500, n), 2),
            "props": [f'{{"k": {k}, "src": "{s}"}}' for k, s in zip(ks, srcs)]}))
    for k, v in parts.items():
        t[k] = pa.concat_tables(v)
    return t


def corpus_tables(seed, base_docs=1500, near_dups=450, exact_dups=150, vecs=1000, dim=64):
    """Documents with seeded exact and near duplicates, and clustered
    embeddings. A duplicate's id keeps its source's residue mod 16."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(20, 80))])
             for _ in range(base_docs)]
    ids = list(range(base_docs))
    next_id = base_docs

    def dup_id(src):
        nonlocal next_id
        while next_id % 16 != src % 16:
            next_id += 1
        i = next_id
        next_id += 1
        return i

    for j in range(near_dups + exact_dups):
        src = int(rng.integers(0, base_docs))
        words = texts[src].split(" ")
        if j < near_dups:
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        ids.append(dup_id(src))
        texts.append(" ".join(words))
    n = len(texts)
    docs = pa.table({
        "doc_id": np.array(ids, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "fr", "de", "zh"])[rng.integers(0, 4, n)],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (16, dim))
    lab = rng.integers(0, 16, vecs)
    emb = (centers[lab] + rng.normal(0, 0.6, (vecs, dim))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, vecs * dim + 1, dim, dtype=np.int32)),
            pa.array(emb.reshape(-1))),
        "label": lab.astype(np.int32)})
    return {"documents": docs, "embeddings": embeddings}


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
