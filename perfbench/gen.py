"""Seeded input generator for the benchmark.

Writes the ten parquet tables the catalog queries read (the TPC-H-ish star
schema, `events`, `documents`, `embeddings`), shaped like the project's
testdata (see FIXTURES.md: same schemas, key ranges and value domains), and
the JSONL event feed the streaming workload ingests. The same seed always
gives byte-identical inputs; the program receives only these files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "hot", "old", "new", "large", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]

US = 1_000_000
DAY_US = 86_400 * US
EPOCH_1995 = 788_918_400 * US          # 1995-01-01T00:00:00
EPOCH_2024 = 1_704_067_200 * US        # 2024-01-01T00:00:00


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_frame(rng, n, users):
    """(event_id, ts_us, user_id, event_type, value, k) arrays, ts ascending
    with event_id over 30 days from 2024-01-01."""
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024
    return (np.arange(n, dtype=np.int64), ts,
            rng.integers(0, users, n).astype(np.int64),
            rng.integers(0, len(EVENT_TYPES), n),
            np.round(rng.exponential(50.0, n), 2),
            rng.integers(0, 100, n))


def documents(rng, n):
    """Word-soup documents (10 to 100 words of VOCAB) with the duplicate
    structure measured in the project's testdata: exactly one document in
    20 (25 of 500 at sf0.01, 250 of 5000 at sf0.1) is a near-duplicate,
    the text of a uniformly chosen other document plus " dup", and there
    are no other duplicates. The copies are made in doc_id order over the
    texts as they stand, so a near-duplicate can copy an earlier one (a
    chain: 1 at sf0.01, 4 at sf0.1) and two can copy the same document
    (an exact duplicate: 0 at sf0.01, 8 at sf0.1). The language shares are
    sf0.1's: en 41%, zh 15%, es 15%, fr 15%, de 14%.

    The MinHash/LSH pairs of `q_dedup_clusters`' oracle SQL then match too:
    sf0.01 has 25 pairs in 23 clusters of 2 or 3 documents, and 500
    generated documents (seeds 1 to 5) have 23 to 26 pairs in 20 to 24
    clusters of 2 or 3. In both, every document is one edge from its
    cluster's smallest doc_id, which sets how many rounds the
    connected-components loops run."""
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))
             for _ in range(n)]
    for i in np.sort(rng.choice(n, n // 20, replace=False)):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def tables(out_dir, seed, sf):
    """The ten catalog tables at scale factor `sf` (lineitem = 6M x sf)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([P_TYPES[j] for j in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)])})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US)})
    eid, ts, uid, et, val, k = events_frame(rng, n_ev, max(10, n_cust // 10))
    _write(out_dir, "events", {
        "event_id": pa.array(eid), "ts": _ts(ts), "user_id": pa.array(uid),
        "event_type": pa.array([EVENT_TYPES[j] for j in et]),
        "value": pa.array(val),
        "props": pa.array([f'{{"k": {j}}}' for j in k])})
    _write(out_dir, "documents", documents(rng, n_doc))
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


def feed(out_dir, seed, n_events, n_files, users=1500):
    """`n_files` JSONL files of events in arrival order, shaped like sf0.1's
    `events` (1,500 users, exponential values of mean 50, event types
    equally likely). Unlike the testdata, about 1% of the records carry a
    null `ts` or `event_id`, so that the pipeline's clean step has records
    to drop."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    eid, ts, uid, et, val, k = events_frame(rng, n_events, users)
    bad = rng.random(n_events)
    per = -(-n_events // n_files)
    for f in range(n_files):
        lines = []
        for i in range(f * per, min(n_events, (f + 1) * per)):
            t = int(ts[i])
            rec = {
                "event_id": None if bad[i] < 0.005 else int(eid[i]),
                "ts": None if 0.005 <= bad[i] < 0.01 else
                      f"{np.datetime64(t, 'us').astype('datetime64[ms]')}Z",
                "user_id": int(uid[i]), "event_type": EVENT_TYPES[et[i]],
                "value": float(val[i]), "props": f'{{"k": {int(k[i])}}}'}
            lines.append(json.dumps(rec))
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
