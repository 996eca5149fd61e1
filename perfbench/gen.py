#!/usr/bin/env python3
"""Seeded input generator for the benchmark's workloads.

Every table is written in the fixtures' exact parquet schema (the one
`graft.engine.Tables` pins): the same column names and types, event times
as naive `timestamp[us]`. Value domains are the ones the fixtures carry
and the queries filter on (segments, priorities, brands, flags, dates,
event types, document words); within a domain, values are drawn
uniformly, as in the fixtures.

Each operation gets its own directory of inputs, drawn from
`(seed, operation index)` only, so the same seed gives the same bytes and
no operation's inputs repeat another's.

Usage (normally called by run.py):
    python3 perfbench/gen.py <workload> <seed> <n_ops> <out_dir>
"""
import json
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes ---------------------------------------------------------------
# query_mix: the fixtures' sf0.1 row counts times QUERY_SCALE
QUERY_SCALE = 0.1
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000}
EVENT_USERS = 1500
DIM = 64
# ingest: the base corpus every store bootstraps from, then per micro-batch
INGEST_BASE = {"events": 3000, "vectors": 800, "docs": 200}
INGEST_BATCH = {"events": 600, "vectors": 120, "docs": 60}
INGEST_USERS = 300
INGEST_INVALID = 40      # per batch: half with a null event_id, half without event_type
INGEST_LATE = 0.1        # share of a batch's events that land on earlier days
INGEST_REDELIVERED = 5   # vectors of an earlier batch delivered again, unchanged
INGEST_QUERIES = 10      # the IVF probe's queries: base vectors 0..9, each with a twin
INGEST_TWINS = 10        # per batch: further vectors planted as near-copies of others

# ---- domains (read from the fixtures) -------------------------------------
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()
DAY_US = 86_400_000_000
EPOCH = datetime(1970, 1, 1)


def day_us(y, m, d):
    return int((datetime(y, m, d) - EPOCH).total_seconds()) * 1_000_000


ORDER_DAYS = (day_us(1995, 1, 1) // DAY_US, day_us(2001, 8, 1) // DAY_US)
SHIP_DAYS = (day_us(1995, 1, 2) // DAY_US, day_us(2001, 11, 4) // DAY_US)
EVENTS_FROM = day_us(2024, 1, 1)
EVENT_DAYS = 30

TS = pa.timestamp("us")  # naive: the fixtures' NTZ footer


def rng_for(seed, op, salt=0):
    return np.random.Generator(np.random.PCG64([seed, op, salt]))


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def write(tbl_dir, name, cols, schema):
    os.makedirs(tbl_dir, exist_ok=True)
    table = pa.Table.from_arrays([pa.array(c, type=t) for c, (_, t) in zip(cols, schema)],
                                 names=[n for n, _ in schema])
    pq.write_table(table, os.path.join(tbl_dir, f"{name}.parquet"))
    return table.num_rows


def days_ts(r, lo_hi, n):
    return r.integers(lo_hi[0], lo_hi[1] + 1, n) * DAY_US


def star_schema(r, d, scale):
    """The eight tables the query mix reads, at `scale` x sf0.1 rows."""
    n = {k: max(1, int(v * scale)) for k, v in SF01_ROWS.items()}
    rows = 0
    rows += write(d, "region", [np.arange(5, dtype=np.int32), REGIONS],
                  [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    rows += write(d, "nation", [np.arange(25, dtype=np.int32),
                                [f"NATION_{i}" for i in range(25)],
                                (np.arange(25) % 5).astype(np.int32)],
                  [("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())])
    c = n["customer"]
    rows += write(d, "customer", [
        np.arange(c, dtype=np.int64), [f"Customer#{i:09d}" for i in range(c)],
        r.integers(0, 25, c).astype(np.int32), money(r, -999.99, 9999.99, c),
        np.array(SEGMENTS)[r.integers(0, 5, c)]],
        [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
         ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())])
    s = n["supplier"]
    rows += write(d, "supplier", [
        np.arange(s, dtype=np.int64), [f"Supplier#{i:09d}" for i in range(s)],
        r.integers(0, 25, s).astype(np.int32), money(r, -999.99, 9999.99, s)],
        [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
         ("s_acctbal", pa.float64())])
    p = n["part"]
    rows += write(d, "part", [
        np.arange(p, dtype=np.int64),
        [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(r.integers(0, 8, p), r.integers(0, 8, p))],
        [f"Brand#{i}" for i in r.integers(1, 26, p)],
        np.array(P_TYPES)[r.integers(0, 6, p)], r.integers(1, 51, p).astype(np.int32),
        np.round(r.integers(9000, 10000, p) / 10.0, 1)],
        [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
         ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
    o = n["orders"]
    rows += write(d, "orders", [
        np.arange(o, dtype=np.int64), r.integers(0, c, o),
        np.array(["F", "O", "P"])[r.integers(0, 3, o)], money(r, 1000.0, 500000.0, o),
        days_ts(r, ORDER_DAYS, o), np.array(PRIORITIES)[r.integers(0, 5, o)]],
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
         ("o_totalprice", pa.float64()), ("o_orderdate", TS), ("o_orderpriority", pa.string())])
    li = n["lineitem"]
    rows += write(d, "lineitem", [
        r.integers(0, o, li), r.integers(0, p, li), r.integers(0, s, li),
        r.integers(1, 8, li).astype(np.int32), r.integers(1, 51, li).astype(np.float64),
        money(r, 900.0, 105000.0, li), r.integers(0, 11, li) / 100.0,
        r.integers(0, 9, li) / 100.0,
        np.array(["A", "N", "R"])[r.integers(0, 3, li)],
        np.array(["F", "O"])[r.integers(0, 2, li)], days_ts(r, SHIP_DAYS, li)],
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
         ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
         ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
         ("l_tax", pa.float64()), ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
         ("l_shipdate", TS)])
    rows += events_table(r, d, 0, n["events"])
    return rows


EVENT_SCHEMA = [("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]


def event_columns(r, first_id, ts, users):
    e = len(ts)
    return {"event_id": np.arange(first_id, first_id + e, dtype=np.int64), "ts": ts,
            "user_id": r.integers(0, users, e),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, e)],
            "value": np.round(np.minimum(r.exponential(50.0, e), 560.0), 2),
            "k": r.integers(0, 100, e)}


def write_events(d, ev):
    return write(d, "events", [ev["event_id"], ev["ts"], ev["user_id"], ev["event_type"],
                               ev["value"], [f'{{"k": {k}}}' for k in ev["k"]]], EVENT_SCHEMA)


def events_table(r, d, first_id, e):
    ts = EVENTS_FROM + r.integers(0, EVENT_DAYS * DAY_US, e)
    return write_events(d, event_columns(r, first_id, ts, EVENT_USERS))


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def vectors(r, d, first_vec, n, earlier):
    """Unit vectors around 10 label centres, far below cosine 0.9 apart,
    except planted twins (a copy of another vector plus small noise). The
    base corpus (`earlier` empty) also plants a closer twin for each of the
    probe's queries, vec_id 0..INGEST_QUERIES-1, at the top ids; a batch
    appends INGEST_REDELIVERED vectors of an earlier batch, unchanged."""
    centres = r.normal(0, 1, (10, DIM))
    labels = r.integers(0, 10, n)
    v = centres[labels] * 0.35 + r.normal(0, 1, (n, DIM))
    # random twins stay clear of the queries and their twins
    src = INGEST_QUERIES + r.choice(n // 2 - INGEST_QUERIES, INGEST_TWINS, replace=False)
    dst = n // 2 + r.choice(n - n // 2 - INGEST_QUERIES, INGEST_TWINS, replace=False)
    v[dst] = v[src] + r.normal(0, 0.08, (INGEST_TWINS, DIM))
    labels[dst] = labels[src]
    twins = [[first_vec + int(a), first_vec + int(b)] for a, b in zip(src, dst)]
    v = unit(v)
    if not earlier:
        q = np.arange(INGEST_QUERIES)
        v[n - 1 - q] = unit(v[q] + r.normal(0, 0.02, (INGEST_QUERIES, DIM)))
        twins += [[int(i), n - 1 - int(i)] for i in q]
    t = pa.table({"vec_id": np.arange(first_vec, first_vec + n, dtype=np.int64),
                  "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
                  "label": labels.astype(np.int32)})
    if earlier:
        prev = pq.read_table(os.path.join(earlier[int(r.integers(0, len(earlier)))],
                                          "vectors.parquet"))
        t = pa.concat_tables([t, prev.take(r.choice(prev.num_rows, INGEST_REDELIVERED,
                                                    replace=False))])
    pq.write_table(t, os.path.join(d, "vectors.parquet"))
    return t.num_rows, sorted(twins)


def ingest_batch(r, d, b, n, day_lo, day_hi, late_days, earlier):
    """One micro-batch of every topic: events (parquet, and JSON lines with
    planted invalid rows), vectors and documents. `b` is the batch number,
    -1 for the base corpus."""
    os.makedirs(d, exist_ok=True)
    first_ev = 0 if b < 0 else INGEST_BASE["events"] + b * n["events"]
    e = n["events"]
    ts = EVENTS_FROM + r.integers(day_lo * DAY_US, day_hi * DAY_US, e)
    late = r.random(e) < (INGEST_LATE if late_days > 0 else 0.0)
    ts[late] = EVENTS_FROM + r.integers(0, max(1, late_days) * DAY_US, int(late.sum()))
    ev = event_columns(r, first_ev, ts, INGEST_USERS)
    write_events(d, ev)
    lines = [json.dumps({"event_id": int(ev["event_id"][j]), "user_id": int(ev["user_id"][j]),
                         "event_type": str(ev["event_type"][j]), "value": float(ev["value"][j]),
                         "k": int(ev["k"][j])}) for j in range(e)]
    for j in range(INGEST_INVALID):
        u = int(r.integers(0, INGEST_USERS))
        if j % 2 == 0:
            bad = {"event_id": None, "user_id": u, "event_type": "click", "value": 1.0, "k": 1}
        else:
            bad = {"event_id": -(first_ev + j + 1), "user_id": u, "value": 2.0, "k": 2}
        lines.insert(int(r.integers(0, len(lines) + 1)), json.dumps(bad))
    with open(os.path.join(d, "events.json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    first_vec = 0 if b < 0 else INGEST_BASE["vectors"] + b * n["vectors"]
    n_vecs, twins = vectors(r, d, first_vec, n["vectors"], earlier)
    # documents: random text, plus planted near-duplicate clusters of 3
    # whose members differ in one word of 80
    words = np.array([w for w in DOC_WORDS if w not in ("a", "the")] +
                     [f"w{i}" for i in range(3000)])
    nd = n["docs"]
    first_doc = 0 if b < 0 else 100_000 + b * 1000
    ids = np.arange(first_doc, first_doc + nd, dtype=np.int64)
    texts = [list(words[r.integers(0, len(words), k)]) for k in r.integers(20, 101, nd)]
    clusters = []
    for c in range(3):
        base = list(words[r.integers(0, len(words), 80)])
        for m in range(c * 3, c * 3 + 3):
            texts[m] = list(base)
            texts[m][r.integers(70, 80)] = words[r.integers(0, len(words))]
        clusters.append([int(ids[m]) for m in range(c * 3, c * 3 + 3)])
    text = [" ".join(t) for t in texts]
    write(d, "documents", [
        ids, text, np.array(LANGS)[r.choice(5, nd, p=LANG_P)],
        [f"src{i % 20}" for i in ids], np.array([len(t) for t in text], dtype=np.int64)],
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())])
    with open(os.path.join(d, "_plan.json"), "w") as f:
        json.dump({"clusters": clusters, "twins": twins}, f)
    return len(lines) + e + n_vecs + nd


def generate(workload, seed, n_ops, out):
    """Writes `out/op_NNN/` for each operation; returns per-op row counts."""
    counts = []
    for op in range(n_ops):
        d = os.path.join(out, f"op_{op:03d}")
        r = rng_for(seed, op)
        if workload == "query_mix":
            rows = star_schema(r, d, QUERY_SCALE)
        elif workload == "ingest":
            earlier = [os.path.join(out, "base")] + [
                os.path.join(out, f"op_{j:03d}") for j in range(op)]
            if op == 0:
                ingest_batch(rng_for(seed, 0, 1), earlier[0], -1, INGEST_BASE, 0, 10, 0, [])
            day = 10 + op % 20
            rows = ingest_batch(r, d, op, INGEST_BATCH, day, day + 1, day, earlier)
        else:
            raise SystemExit(f"unknown workload {workload}")
        counts.append(rows)
    return counts


if __name__ == "__main__":
    wl, seed, n, out = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    print(generate(wl, seed, n, out))
