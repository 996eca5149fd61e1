#!/usr/bin/env python3
"""Checks a benchmark run's outputs against computations made apart from
the program: DuckDB over the same generated files, and numpy.

Usage (run.py calls `check()` after the timed window; with
PERFBENCH_KEEP=1 the run's directory stays for this):
    python3 perfbench/check.py <query_mix|ingest> <work_dir>

Exit code 0 when every check passes.
"""
import glob
import json
import math
import os
import sys

import duckdb
import numpy as np

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events"]


def canon(rows, cols):
    """The repo's correctness canonical form (scripts/check.py): columns
    sorted by name, floats at full precision, rows kept in order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return out


def parquet(path):
    return f"'{path}/*.parquet'"


def check_query_mix(work):
    notes = []
    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    n = 0
    for op_dir in sorted(glob.glob(os.path.join(out, "op_*"))):
        inp = os.path.join(work, "in", os.path.basename(op_dir))
        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/{t}.parquet'")
        for key in sorted(os.listdir(op_dir)):
            s = con.sql(f"SELECT * FROM {parquet(os.path.join(op_dir, key))}")
            s_cols, s_rows = s.columns, s.fetchall()
            d = con.sql(oracle[key])
            d_cols, d_rows = d.columns, d.fetchall()
            where = f"{os.path.basename(op_dir)}/{key}"
            if sorted(s_cols) != sorted(d_cols):
                notes.append(f"{where}: columns {sorted(s_cols)} vs DuckDB {sorted(d_cols)}")
            elif len(s_rows) != len(d_rows):
                notes.append(f"{where}: {len(s_rows)} rows vs DuckDB {len(d_rows)}")
            elif canon(s_rows, s_cols) != canon(d_rows, d_cols):
                notes.append(f"{where}: values differ from DuckDB")
            n += 1
        con.close()
    if n == 0:
        notes.append("no query results to check")
    return notes


class Ingest:
    def __init__(self, work):
        self.inp = os.path.join(work, "in")
        self.out = os.path.join(work, "out")
        with open(os.path.join(self.out, "delivered.txt")) as f:
            self.delivered = [x for x in f.read().split() if x]
        self.con = duckdb.connect()
        self.notes = []

    def files(self, upto, name):
        return "[" + ", ".join(f"'{self.inp}/{d}/{name}'" for d in upto) + "]"

    def plans(self, upto):
        out = []
        for d in upto:
            with open(os.path.join(self.inp, d, "_plan.json")) as f:
                out.append(json.load(f))
        return out

    def upsert(self):
        """Last-wins per user over every delivered valid event, and row
        conservation: delivered = collection + superseded + invalid."""
        c = self.con
        c.execute(f"""CREATE VIEW raw AS SELECT * FROM read_json(
            {self.files(self.delivered, 'events.json')}, format='newline_delimited',
            columns={{event_id: 'BIGINT', user_id: 'BIGINT', event_type: 'VARCHAR',
                      value: 'DOUBLE', k: 'INTEGER'}})""")
        c.execute("CREATE VIEW valid AS SELECT * FROM raw "
                  "WHERE event_id IS NOT NULL AND event_type IS NOT NULL")
        want = c.sql("""SELECT user_id, event_id, upper(event_type), value, k,
              'topic', 'raw' FROM (SELECT *, row_number() OVER
              (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM valid)
            WHERE rn = 1 ORDER BY user_id""").fetchall()
        got = c.sql(f"""SELECT user_id, event_id, event_type, value, k, source, data_status
            FROM {parquet(self.out + '/collection')} ORDER BY user_id""").fetchall()
        if got != want:
            self.notes.append(f"upsert collection differs from last-wins ({len(got)} vs {len(want)} rows)")
        delivered, valid, users = c.sql(
            "SELECT (SELECT count(*) FROM raw), (SELECT count(*) FROM valid), "
            "(SELECT count(DISTINCT user_id) FROM valid)").fetchone()
        superseded, invalid = valid - users, delivered - valid
        if delivered != len(got) + superseded + invalid:
            self.notes.append(f"rows not conserved: {delivered} delivered != {len(got)} "
                              f"+ {superseded} superseded + {invalid} invalid")

    def rollups(self):
        """Per-day counts and sums served by the date store, over every
        event delivered so far, late ones included."""
        def duck(upto, days=None):
            q = (f"SELECT CAST(ts AS DATE) AS d, count(*), "
                 f"CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) "
                 f"FROM read_parquet({self.files(upto, 'events.parquet')}) ")
            if days is not None:
                q += ("WHERE CAST(ts AS DATE) IN (SELECT DISTINCT CAST(ts AS DATE) FROM "
                      f"'{self.inp}/{days}/events.parquet') ")
            return self.con.sql(q + "GROUP BY 1 ORDER BY 1").fetchall()
        got = self.con.sql(f"SELECT event_date, n_events, sum_value FROM "
                           f"{parquet(self.out + '/rollup_all')} ORDER BY 1").fetchall()
        if got != duck(self.delivered):
            self.notes.append("date store rollup over all days differs from DuckDB")
        for i, d in enumerate(self.delivered):
            path = os.path.join(self.out, d, "rollup")
            if os.path.isdir(path):
                got = self.con.sql(f"SELECT * FROM {parquet(path)} ORDER BY 1").fetchall()
                if got != duck(self.delivered[:i + 1], d):
                    self.notes.append(f"{d}: served rollup differs from DuckDB")

    def vectors(self):
        """The IVF store holds each delivered vector once; every probe score
        is the cosine numpy recomputes; each query's twin is its top hit."""
        c = self.con
        ids = c.sql(f"SELECT count(*), count(DISTINCT vec_id) FROM "
                    f"{parquet(self.out + '/ivf_ids')}").fetchone()
        want = c.sql(f"SELECT count(DISTINCT vec_id) FROM read_parquet("
                     f"{self.files(self.delivered, 'vectors.parquet')})").fetchone()[0]
        missing = c.sql(f"""SELECT count(*) FROM (SELECT DISTINCT vec_id FROM read_parquet(
            {self.files(self.delivered, 'vectors.parquet')}) EXCEPT
            SELECT vec_id FROM {parquet(self.out + '/ivf_ids')})""").fetchone()[0]
        if ids[0] != ids[1] or ids[1] != want or missing:
            self.notes.append(f"IVF store holds {ids[0]} rows / {ids[1]} ids, "
                              f"{want} delivered, {missing} missing")
        vec = {}
        for d in self.delivered:
            t = c.sql(f"SELECT vec_id, embedding FROM '{self.inp}/{d}/vectors.parquet'").fetchall()
            vec.update({i: np.asarray(e, dtype=np.float32).astype(np.float64) for i, e in t})
        twins = {q: t for p in self.plans(self.delivered[:1]) for q, t in p["twins"] if q < 10}
        for d in self.delivered:
            path = os.path.join(self.out, d, "probe")
            if not os.path.isdir(path):
                continue
            rows = c.sql(f"SELECT q_id, rank, vec_id, cosine FROM {parquet(path)}").fetchall()
            for q, rank, v, cos in rows:
                a, b = vec[q], vec[v]
                want = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)
                if abs(want - cos) > 2e-6:
                    self.notes.append(f"{d}: probe ({q}, {v}) cosine {cos} vs numpy {want}")
                if rank == 1 and twins.get(q) != v:
                    self.notes.append(f"{d}: query {q}'s top hit is {v}, not its twin {twins.get(q)}")
            if {q for q, *_ in rows} != set(twins):
                self.notes.append(f"{d}: probe answered queries {sorted({q for q, *_ in rows})}")

    def admission(self):
        """BandStore admission keeps at most one doc of each planted
        near-duplicate cluster."""
        admitted = {r[0] for r in self.con.sql(
            f"SELECT doc_id FROM {parquet(self.out + '/admitted')}").fetchall()}
        for p in self.plans(self.delivered):
            for cl in p["clusters"]:
                if len(admitted.intersection(cl)) > 1:
                    self.notes.append(f"admission kept two docs of planted cluster {cl}")

    def run(self):
        for step in (self.upsert, self.rollups, self.vectors, self.admission):
            step()
        return self.notes


def check(workload, work):
    """Returns (ok, notes)."""
    try:
        notes = check_query_mix(work) if workload == "query_mix" else Ingest(work).run()
    except Exception as e:  # a missing or unreadable output is a failed check
        notes = [f"checker error: {type(e).__name__}: {e}"]
    return not notes, notes


if __name__ == "__main__":
    ok, notes = check(sys.argv[1], sys.argv[2])
    for n in notes:
        print(n)
    print("PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)
