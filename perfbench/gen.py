"""Seeded inputs. The same seed gives the same files.

`tables` writes the ten parquet tables the registry queries read, with the
column names, types and value distributions of the project's test tables
(FIXTURES.md section B): timestamps are microseconds without a zone, text is
drawn from the same 30-word vocabulary, embeddings are unit 64-d float
vectors. Row counts scale with `sf` like the test tables (sf0.01 = 60,000
lineitems).

`split_events` lands the events table as the three time-ordered files the
stateful streaming operators read, one micro-batch each.

`frames` writes the Kafka-shaped (key, JSON value) purchase and donation
frames of FIXTURES.md section A as JSON-lines files, `files` per topic and
`per_file` records each, with keys unique across both topics.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
         "value", "key", "stream", "window", "a", "spark", "part", "group", "big",
         "sort", "query", "fast", "the"]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng, lo, hi, n):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _days(rng, start, days, n):
    return pa.array(np.datetime64(start, "us")
                    + rng.integers(0, days, n).astype("timedelta64[D]"), pa.timestamp("us"))


def tables(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(1, round(base * sf)) for t, base in [
        ("customer", 150000), ("supplier", 10000), ("part", 200000), ("orders", 1500000),
        ("lineitem", 6000000), ("events", 1000000), ("users", 15000),
        ("documents", 50000), ("embeddings", 50000)]}
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(c), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE",
                                    "HOUSEHOLD"], c)})
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(s), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    adjectives = ["red", "small", "hot", "old", "large", "blue", "green", "shiny"]
    nouns = ["plate", "widget", "ring", "rod", "gear", "valve", "bolt", "spring"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(p), i64),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": (9000 + np.arange(p) % 1000) / 10.0})
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], o),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _days(rng, "1995-01-01", 2404, o),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], o)})
    li = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["R", "A", "N"], li),
        "l_linestatus": _pick(rng, ["O", "F"], li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, li)})
    e = n["events"]
    span_us = 30 * 24 * 3600 * 1_000_000
    _write(out_dir, "events", {
        "event_id": pa.array(range(e), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), i64),
        "event_type": _pick(rng, ["signup", "error", "click", "view", "purchase"], e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    # 5% of documents are near-duplicates of an earlier one with one word
    # swapped for "dup", so the dedup and containment queries find pairs.
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = "dup"
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(d), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "en", "en", "zh", "es", "de", "fr"], d),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    v = n["embeddings"]
    g = rng.standard_normal((v, 64))
    g = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(v), i64),
        "embedding": pa.array(list(g), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32)})


def split_events(tables_dir, out_dir):
    """The events table as three files of exact thirds of its [min, max] time
    span (bounds inclusive on the left part), with ascending mtimes so that a
    file source with maxFilesPerTrigger=1 reads them oldest first: the
    staging of SparkEntry.stageTimeSplitEvents, whose oracles assume it."""
    t = pq.read_table(os.path.join(tables_dir, "events.parquet"),
                      columns=["user_id", "ts", "event_id", "event_type", "value"])
    us = t.column("ts").cast(pa.int64()).to_numpy()
    lo, hi = int(us.min()), int(us.max())
    b1, b2 = lo + (hi - lo) // 3, hi - (hi - lo) // 3
    t = t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))
    os.makedirs(out_dir)
    for i, keep in enumerate([us <= b1, (us > b1) & (us <= b2), us > b2]):
        path = os.path.join(out_dir, f"events_{i:02d}.parquet")
        pq.write_table(t.filter(pa.array(keep)), path)
        mtime_ns = (1_000_000_000_000 + i * 10_000) * 1_000_000
        os.utime(path, ns=(mtime_ns, mtime_ns))


def frames(out_dir, seed, files, per_file):
    """Returns the number of records written."""
    rng = np.random.default_rng(seed)
    keys = rng.permutation(2 * files * per_file)
    k = 0
    for topic in ("purchases", "donations"):
        os.makedirs(os.path.join(out_dir, topic), exist_ok=True)
        for f in range(files):
            lines = []
            for _ in range(per_file):
                key, user = int(keys[k]), int(rng.integers(0, 5000))
                k += 1
                if topic == "purchases":
                    value = {"id": key, "amount": int(rng.integers(1, 401)), "user_id": user,
                             "quantity": int(rng.integers(1, 11))}
                else:
                    value = {"donation_amount_cents": int(rng.integers(100, 30001)),
                             "user_id": user,
                             "donation_date": f"2019-01-{int(rng.integers(1, 29)):02d}"}
                lines.append(json.dumps({"key": str(key), "value": json.dumps(value)}))
            with open(os.path.join(out_dir, topic, f"part-{f:04d}.json"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
    return 2 * files * per_file
