"""Deterministic synthetic tables for the benchmark.

The layout mirrors the TPC-H-ish star schema plus the `events`,
`documents` and `embeddings` side tables that graft's `TradeGraph`
expects, at about the 0.1 scale factor: 600k line items, 100k events
over ~1.5k users, 5k documents (a third of them near-duplicates) and 2k
embeddings. Every table is written as `<dir>/<name>.parquet/` holding
one part file.

The base data is fixed (its own seed); workload seeds only pick query
parameters.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "1"
DATA_SEED = 42
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_EMB = 2_000
EMB_DIM = 32
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, in microseconds
EVENT_SPAN_US = 30 * 24 * 3600 * 1_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "cart"])
EVENT_TYPE_P = [0.45, 0.3, 0.15, 0.1]


def write(out_dir, name, table):
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"))


def ts_array(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def user_weights():
    w = 1.0 / np.arange(1, N_USERS + 1) ** 0.8
    return w / w.sum()


def events(rng):
    """`N_EVENTS` events, timestamps in the 30 days from `T0_US`."""
    n = N_EVENTS
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n)) + T0_US
    users = rng.choice(np.arange(1, N_USERS + 1), size=n, p=user_weights())
    etype = rng.choice(EVENT_TYPES, size=n, p=EVENT_TYPE_P)
    value = np.round(rng.uniform(0, 200, n), 2)
    props = [f'{{"k":{int(v) % 7}}}' for v in value]
    return pa.table({
        "event_id": pa.array(np.arange(1, n + 1), pa.int64()),
        "ts": ts_array(ts),
        "user_id": pa.array(users.astype("int64")),
        "event_type": pa.array(etype.tolist()),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents(rng):
    vocab = np.array([f"w{i}" for i in range(3000)])
    texts = []
    for i in range(N_DOCS):
        if i >= 50 and rng.random() < 0.33:
            # near-duplicate of an earlier document: one word substituted
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(
                vocab[rng.integers(0, len(vocab))])
        else:
            words = vocab[rng.integers(0, len(vocab),
                                       int(rng.integers(30, 60)))].tolist()
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(1, N_DOCS + 1), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr"], N_DOCS).tolist()),
        "source": pa.array(rng.choice(["web", "news", "wiki"], N_DOCS).tolist()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    centers = rng.normal(0, 1, (20, EMB_DIM))
    label = rng.integers(0, 20, N_EMB)
    vec = (centers[label] + rng.normal(0, 0.4, (N_EMB, EMB_DIM))).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(vec.tolist(), pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })


def generate(out_dir):
    rng = np.random.default_rng(DATA_SEED)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(regions)}))
    write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}))
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(1, N_CUSTOMER + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, N_CUSTOMER + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2)),
        "c_mktsegment": pa.array(rng.choice(segments, N_CUSTOMER).tolist())}))
    write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(1, N_SUPPLIER + 1), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, N_SUPPLIER + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2))}))
    write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(1, N_PART + 1), pa.int64()),
        "p_name": pa.array([f"part {i}" for i in range(1, N_PART + 1)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(11, 56, N_PART)]),
        "p_type": pa.array(rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], N_PART).tolist()),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, N_PART), 2))}))
    okeys = np.arange(1, N_ORDERS + 1)
    write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMER + 1, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], N_ORDERS).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2)),
        "o_orderdate": ts_array(T0_US - rng.integers(0, 7 * 365 * 86400, N_ORDERS) * 1_000_000),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS).tolist())}))
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    l_orderkey = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = np.arange(n_li) - starts + 1
    # mildly skewed part popularity so co-purchase weights vary
    l_partkey = (rng.pareto(1.5, n_li) * 400).astype("int64") % N_PART + 1
    write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(l_partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIER + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li).tolist()),
        "l_shipdate": ts_array(T0_US - rng.integers(0, 7 * 365 * 86400, n_li) * 1_000_000)}))
    write(out_dir, "events", events(rng))
    write(out_dir, "documents", documents(rng))
    write(out_dir, "embeddings", embeddings(rng))


def ensure(out_dir):
    """Generate into `out_dir` unless a complete copy of this version is
    already there."""
    stamp = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(stamp) and open(stamp).read() == VERSION:
        return
    import shutil
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    generate(out_dir)
    with open(stamp, "w") as f:
        f.write(VERSION)


if __name__ == "__main__":
    ensure(sys.argv[1])
