#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the engine's queries read (same names, columns and
parquet types as the TPC-H-ish + events testdata the engine is developed
against) and, for the stream step of `table_dml`, a directory of event
files in time order with skewed user keys and a fixed share of rows out
of order inside each file.

Its entry point is `generate(seed, out, scale, stream_files)`, which
perfbench/run.py calls.

The same seed and scale always give byte-identical values; only the
values change with the seed, never the row counts, so run time does not
depend on which seed a run drew.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EVENTS_T0_US = 1704067200_000000          # 2024-01-01
EVENTS_SPAN_US = 29 * 86400 * 1_000_000   # through 2024-01-30
DAY_US = 86400 * 1_000_000
ORDERS_T0_US = 788918400_000000           # 1995-01-01
ORDERS_DAYS = 2404                        # through 2001-08-01


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_us(values):
    return pa.array(values, type=pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def sizes(scale):
    def n(base):
        return max(1, int(round(base * scale)))
    return dict(customer=n(150_000), supplier=n(10_000), part=n(200_000),
                orders=n(1_500_000), lineitem=n(6_000_000), events=n(1_000_000),
                users=n(15_000), documents=500, embeddings=500)


def events_table(rng, n, users, skew):
    """Events sorted by ts; with skew > 0 user keys follow a Zipf-like law."""
    ts = np.sort(EVENTS_T0_US + rng.integers(0, EVENTS_SPAN_US, n))
    if skew > 0:
        w = 1.0 / np.arange(1, users + 1) ** skew
        user = rng.choice(users, n, p=w / w.sum())
    else:
        user = rng.integers(0, users, n)
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": ts,
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(rng.choice(ETYPES, n)),
        "value": pa.array(money(rng, 0.01, 490.02, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def generate(seed, out, scale, stream_files):
    rng = np.random.default_rng(seed)
    s = sizes(scale)
    os.makedirs(out, exist_ok=True)
    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_ = s["customer"], s["supplier"], s["part"]
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, ns))})
    write(out, "part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in
                            zip(rng.choice(ADJ, np_), rng.choice(NOUN, np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(PTYPES, np_)),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(np_) % 1000) / 10.0)})
    no = s["orders"]
    # every customer has at least one order (the first nc orders cover them)
    ocust = np.concatenate([rng.permutation(nc)[:min(nc, no)],
                            rng.integers(0, nc, max(0, no - nc))])
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(ocust, pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": ts_us(ORDERS_T0_US + rng.integers(0, ORDERS_DAYS, no) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIOS, no))})
    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": ts_us(ORDERS_T0_US + rng.integers(1, ORDERS_DAYS + 95, nl) * DAY_US)})
    ev = events_table(rng, s["events"], s["users"], skew=0.0)
    ev["ts"] = ts_us(ev["ts"])
    write(out, "events", ev)
    nd = s["documents"]
    texts = [" ".join(rng.choice(WORDS, rng.integers(8, 92))) for _ in range(nd)]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    ne = s["embeddings"]
    vec = rng.normal(size=(ne, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32())})
    if stream_files:
        stream_events(rng, os.path.join(out, "stream", "events.parquet"),
                      s["events"], s["users"], stream_files)


def stream_events(rng, out, n, users, files):
    """`files` event files covering consecutive time slices. Inside each file
    a fixed 20% of rows are moved up to two positions out of ts order (a few
    minutes of event time, inside the operators' 10-minute watermark)."""
    ev = events_table(rng, n, users, skew=1.1)
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        lo, hi = bounds[f], bounds[f + 1]
        keys = np.arange(hi - lo, dtype=float)
        moved = rng.choice(hi - lo, (hi - lo) // 5, replace=False)
        keys[moved] += rng.uniform(-2.5, 2.5, moved.size)
        order = np.argsort(keys, kind="stable")
        cols = {k: v[lo:hi].take(pa.array(order)) if isinstance(v, pa.Array)
                else v[lo:hi][order] for k, v in ev.items()}
        cols["ts"] = ts_us(cols["ts"])
        pq.write_table(pa.table(cols), os.path.join(out, f"part-{f:03d}.parquet"))

