"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from `--seed`, so
the same seed gives byte-identical inputs, and the expected values the
checks compare against are computed here, apart from the program.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables
#
# The gate queries read ten star-schema tables. These mirror the schema,
# key ranges and value shapes of the fixture tables the queries were
# written against (TPC-H-like rows per scale factor, word-salad documents
# over a 31-word vocabulary, 64-d label-clustered embeddings), drawn
# from a seeded generator instead of a fixed file.

VOCAB = ["the", "a", "fast", "slow", "small", "big", "key", "order", "sort",
         "table", "scan", "merge", "part", "window", "hash", "join", "batch",
         "stream", "spark", "dup", "group", "query", "row", "data", "filter",
         "customer", "line", "value", "agg", "column", "vector"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL"]
ADJ = ["small", "red", "new", "cold", "hot", "large", "old", "blue"]
NOUN = ["ring", "widget", "bolt", "gear", "nut", "spring"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
DAY_US = 86_400_000_000
EPOCH95_US = 788_918_400_000_000   # 1995-01-01T00:00:00Z
EPOCH24_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def make_tables(out, seed, sf):
    """Write the ten tables at scale factor `sf` under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_evt = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    pick = lambda xs, n: np.array(xs, dtype=object)[rng.integers(0, len(xs), n)]

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(ADJ, n_part), pick(NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _ts(EPOCH95_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": _ts(EPOCH95_US + rng.integers(1, 2500, n_line) * DAY_US)})
    _write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH24_US + rng.integers(0, 30 * DAY_US, n_evt))),
        "user_id": rng.integers(0, max(15, n_evt // 67), n_evt),
        "event_type": pick(ETYPES, n_evt),
        "value": np.round(rng.uniform(0.01, 490.02, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_doc):
        if i % 20 == 7:  # planted near-duplicates, like the fixtures
            texts.append(texts[i - 7] + " extra")
        else:
            texts.append(" ".join(pick(VOCAB, int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_doc)
    centers = rng.uniform(-0.4, 0.4, (10, 64))
    decay = 1.0 + 0.15 * np.arange(64)
    emb = ((centers[labels] + rng.uniform(-0.4, 0.4, (n_doc, 64))) / decay).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---------------------------------------------------------- ingest pool
#
# CloudEvents NDJSON delivered as `files` files across `streams` streams
# of one user. Each file after the first re-sends `redeliver` of its
# lines from the previous file's events (same source and id: the same
# event by CloudEvents §3, so it must be committed once), and
# `malformed` of its lines are not JSON at all (they must land in the
# dead-letter dir). Streams take events in turn and re-sent events are
# drawn evenly from every stream, so the seed changes ids, payloads and
# line order but never how much work each stream gets.

INGEST_USER = "ingest-user"


def make_ingest(out, seed, files, per_file, streams, redeliver, malformed):
    """Write the NDJSON files `out/file-NN.json` (not yet delivered) and
    return the expected outcome, computed while generating."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_re, n_bad = int(per_file * redeliver), int(per_file * malformed)
    expected = {"streams": {}, "dead_letters": 0, "redelivered_sent": 0}
    prev, seq = [], 0
    for f in range(files):
        # the first file has nothing to re-send, so it is all fresh
        fresh = []
        for _ in range(per_file - n_bad - (n_re if prev else 0)):
            sid = f"s{seq % streams:02d}"
            amount = int(rng.integers(1, 1000))
            fresh.append({"specversion": "1.0", "id": f"e{seq:07d}-{int(rng.integers(1 << 30))}",
                          "source": f"/gen/{sid}", "type": "bench.amount",
                          "user_id": INGEST_USER, "stream_id": sid,
                          "data": json.dumps({"amount": amount})})
            seq += 1
            agg = expected["streams"].setdefault(sid, {"count": 0, "amount": 0})
            agg["count"] += 1
            agg["amount"] += amount
        again = []
        if prev:
            for k in range(streams):
                mine = [e for e in prev if e["stream_id"] == f"s{k:02d}"]
                take = n_re // streams + (1 if k < n_re % streams else 0)
                again += [mine[i] for i in sorted(rng.choice(len(mine), take, replace=False))]
        expected["redelivered_sent"] += len(again)
        bad = [f"not json {f}-{i} {{" for i in range(n_bad)]
        expected["dead_letters"] += len(bad)
        lines = [json.dumps(e) for e in fresh + again] + bad
        with open(os.path.join(out, f"file-{f:02d}.json"), "w") as fh:
            fh.write("".join(lines[i] + "\n" for i in rng.permutation(len(lines))))
        prev = fresh
    expected["events"] = seq
    return expected
