"""Deterministic synthetic input tables for the benchmark.

The tables follow the TPC-H-like star schema plus the `events`,
`documents` and `embeddings` tables that `graft.SparkEntry` queries read
(one `<name>.parquet` file each). Values come from numpy's PCG64 with a
fixed data seed, so every run of every seed reads the same inputs; the
benchmark's `--seed` drives the rule generator and the query order instead.

`lineitem` carries two extra TPC-H columns, `l_shipmode` and `l_comment`
(with about 3% nulls), so generated rules have `IN`, `LIKE` and null tests to
work with.
"""

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SHIP_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
COMMENT_WORDS = ("carefully final deposits quickly express requests furiously "
                 "regular accounts blithely pending ironic packages slyly").split()
# key ranges of the lineitem tables at the benchmark's scale factor 0.01
MIX_SF = 0.01
KEY_RANGES = {"l_orderkey": int(1_500_000 * MIX_SF), "l_partkey": int(200_000 * MIX_SF),
              "l_suppkey": int(10_000 * MIX_SF)}
EPOCH_US_1995 = 788918400 * 1_000_000
DAY_US = 86400 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _words(rng, n, lo, hi, vocab):
    counts = rng.integers(lo, hi + 1, n)
    picks = rng.integers(0, len(vocab), counts.sum())
    out, at = [], 0
    for c in counts:
        out.append(" ".join(vocab[j] for j in picks[at:at + c]))
        at += c
    return out


def lineitem(rng, rows, n_orders, n_parts, n_supp):
    comments = _words(rng, rows, 2, 6, COMMENT_WORDS)
    null_comment = rng.random(rows) < 0.03
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, rows),
        "l_partkey": rng.integers(0, n_parts, rows),
        "l_suppkey": rng.integers(0, n_supp, rows),
        "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, rows), 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, rows)]),
        "l_shipdate": _ts(EPOCH_US_1995 + rng.integers(0, 2500, rows) * DAY_US),
        "l_shipmode": pa.array(np.array(SHIP_MODES)[rng.integers(0, len(SHIP_MODES), rows)]),
        "l_comment": pa.array([None if z else c for c, z in zip(comments, null_comment)],
                              type=pa.string()),
    })


def star_tables(rng, sf):
    n_orders, n_parts, n_cust, n_supp = (int(1_500_000 * sf), int(200_000 * sf),
                                         int(150_000 * sf), int(10_000 * sf))
    region = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                           "FURNITURE"])[rng.integers(0, 5, n_cust)])})
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adjectives = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    nouns = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
    part = pa.table({
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
        "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                                     "PROMO"])[rng.integers(0, 6, n_parts)]),
        "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_parts) % 1000) / 10.0, 2)})
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(EPOCH_US_1995 + rng.integers(0, 2500, n_orders) * DAY_US),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)])})
    li = lineitem(rng, int(6_000_000 * sf), n_orders, n_parts, n_supp)
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders, "lineitem": li}


def corpus_tables(rng, sf):
    n_docs, n_events, n_users = int(50_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    texts = _words(rng, n_docs, 10, 99, WORDS)
    # about 5% near-duplicates: an earlier document plus a marker word
    for i in range(1, n_docs):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(["en", "en", "en", "zh", "de", "fr", "es"])[
            rng.integers(0, 7, n_docs)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(0.0, 1.0, (n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32)})
    gaps = rng.integers(1, 2 * 30 * DAY_US // n_events, n_events)
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(1704067200 * 1_000_000 + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": pa.array(np.array(["click", "signup", "error", "view", "purchase"])[
            rng.integers(0, 5, n_events)]),
        "value": np.round(rng.uniform(0.0, 500.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    return {"documents": documents, "embeddings": embeddings, "events": events}


def ensure(out_dir, plug_rows):
    """Write the tables under `out_dir` once; later calls reuse them.

    `lineitem_plug` is the plug workloads' input: the same generator as
    `lineitem`, at `plug_rows` rows.
    """
    stamp = os.path.join(out_dir, f"_done_sf{MIX_SF}_plug{plug_rows}_seed{DATA_SEED}")
    if os.path.exists(stamp):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for old in glob.glob(os.path.join(out_dir, "_done_*")):
        os.remove(old)
    rng = np.random.default_rng(DATA_SEED)
    tables = star_tables(rng, MIX_SF)
    tables.update(corpus_tables(rng, MIX_SF))
    tables["lineitem_plug"] = lineitem(rng, plug_rows, *KEY_RANGES.values())
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(stamp, "w").close()
    return out_dir
