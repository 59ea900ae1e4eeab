"""Correctness gate: wire results against DuckDB in-process over the
same parquet files (the way tools/compare.py checks Verify's output).

During the timed window the client keeps the first result of every
distinct read statement; afterwards each is compared with DuckDB. Data
statements must match cell for cell (as multisets of rows; numbers to
1e-9 relative), catalog emulation and session probes must have the
expected shape. For ch_ingest_read the table is read back through the
wire after the window and checked against the acknowledged batches.
Any mismatch fails the run.
"""
import datetime
import decimal
import json
import math
import os
import statistics
import time

import duckdb

import chhttp
import workloads as W

INT_OIDS = {20, 21, 23}
FLOAT_OIDS = {700, 701, 1700}


def canon_wire(cell, oid):
    if cell is None:
        return None
    if oid in INT_OIDS:
        return int(cell)
    if oid in FLOAT_OIDS:
        return float(cell)
    if oid == 16:
        return cell == "t"
    return cell


def canon_duck(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (".%06d" % v.microsecond).rstrip("0") if v.microsecond else s
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def canon_text(cell):
    """A TabSeparated / JSONEachRow value, typed the way it reads."""
    if cell is None or cell == "\\N":
        return None
    if isinstance(cell, (int, float, bool)):
        return cell
    try:
        return int(cell)
    except ValueError:
        pass
    try:
        return float(cell)
    except ValueError:
        return cell


def _num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def same_cell(a, b):
    if _num(a) and _num(b):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _key(row):
    return tuple((v is None, "n" if _num(v) else type(v).__name__,
                  ("%.9g" % v) if _num(v) else v) for v in row)


def same_rows(got, want):
    """Multiset equality with numeric tolerance; returns an error or None."""
    if len(got) != len(want):
        return "row count %d, DuckDB %d" % (len(got), len(want))
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w):
            return "column count %d, DuckDB %d" % (len(g), len(w))
        if not all(same_cell(x, y) for x, y in zip(g, w)):
            return "row %r, DuckDB %r" % (g[:6], w[:6])
    return None


class Gate:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
            self.con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                             % (t, os.path.join(data_dir, t + ".parquet")))
        self.columns = {t: [r[0] for r in self.con.execute("DESCRIBE %s" % t).fetchall()]
                        for t in W.DESCRIBED_TABLES}
        self.captured = {}  # (kind, proto, steps) -> (op, result)
        self.acked = []  # ingest rows the server acknowledged
        self.failures = []
        self.checked = 0

    # -- capture (runs inside the timed window: keep it cheap) --------------

    def capture(self, op, result):
        if op["proto"] == "ch_ingest":
            self.acked.extend(op["rows"])
            return
        if op["proto"] == "ch_read":
            return  # the table is still growing; read back after the window
        # per protocol: a statement sent both as simple Query and as
        # Parse/Bind/Execute is checked once each way
        key = (op["kind"], op["proto"], json.dumps(op["steps"]))
        if key not in self.captured:
            self.captured[key] = (op, result)

    # -- checks ---------------------------------------------------------------

    def fail(self, what, why):
        self.failures.append("%s: %s" % (what, why))

    def duck(self, sql):
        return [tuple(canon_duck(v) for v in row) for row in self.con.execute(sql).fetchall()]

    def check_pg(self):
        for (kind, _, _), (op, results) in sorted(self.captured.items(), key=lambda kv: kv[0]):
            self.checked += 1
            name, params = op["steps"][0]
            res = results[0]
            got = [tuple(canon_wire(c, o) for c, o in zip(r, res.oids)) for r in res.rows]
            if name.startswith("sql:") or name in W.DATA_TEMPLATES:
                sql = op["sql"] if name.startswith("sql:") else W.splice(W.TEMPLATES[name], params)
                err = same_rows(got, self.duck(sql))
            else:
                err = self.check_shape(kind, op, results)
            if err:
                self.fail("%s %s %s" % (kind, op["proto"], json.dumps(params)), err)

    def check_shape(self, kind, op, results):
        rows = results[0].rows
        if kind == "select1":
            return None if rows == [["1"]] else "got %r" % rows
        if kind in ("version", "setting"):
            return None if len(rows) == 1 and rows[0][0] else "got %r" % rows
        if kind == "schema":
            return None if rows == [["main"]] else "got %r" % rows
        if kind == "psql_dt":
            names = {r[1] for r in rows}
            missing = {t + "_raw" for t in W.DESCRIBED_TABLES} - names
            return "missing %s" % sorted(missing) if missing else None
        if kind == "jdbc_tables":
            want = op["steps"][0][1][0]
            return None if [r[2] for r in rows] == [want] else "got %r" % rows
        if kind == "psql_d":
            table = op["steps"][0][1][0][2:-2]
            if [r[2] for r in rows] != [table]:
                return "\\d lookup got %r" % rows
            cols = [r[0] for r in results[2].rows]
            if cols != self.columns[table]:
                return "columns %r, DuckDB %r" % (cols, self.columns[table])
            return None
        return "no check for %s" % kind

    def check_ingest(self, server, table):
        """Read the ingest table back through the wire and compare with
        DuckDB over the acknowledged rows."""
        import pandas as pd
        df = pd.DataFrame(self.acked, columns=W.INGEST_COLUMNS)
        df["ts"] = pd.to_datetime(df["ts"])
        self.con.register("acked_df", df)
        self.con.execute("CREATE OR REPLACE TABLE %s AS SELECT id::BIGINT AS id, k::INTEGER AS k, "
                         "v::DOUBLE AS v, s::VARCHAR AS s, ts::TIMESTAMP AS ts FROM acked_df" % table)
        for sql, fmt in W.CH_READS:
            sql = sql.format(t=table)
            self.checked += 1
            body = chhttp.post(server.ch_port, sql + " FORMAT " + fmt, timeout=60).decode()
            lines = [l for l in body.split("\n") if l]
            if fmt == "JSONEachRow":
                got = [tuple(canon_text(v) for v in json.loads(l).values()) for l in lines]
            else:
                got = [tuple(canon_text(c) for c in l.split("\t")) for l in lines]
            err = same_rows(got, self.duck(sql))
            if err:
                self.fail("ingest read-back %s" % sql, err)
        n, sid = len(self.acked), sum(r[0] for r in self.acked)
        body = chhttp.post(server.ch_port, "SELECT count(*), sum(id) FROM %s FORMAT TabSeparated"
                           % table, timeout=60).decode().split()
        if body != [str(n), str(sid) if n else "\\N"]:
            self.fail("ingest totals", "server %r, acknowledged %d rows with id sum %d"
                      % (body, n, sid))

    def engine_floor(self, heavy_sql, repeat=3):
        """DuckDB's own time per pg_analytic statement (ms, median of
        `repeat`), an in-process floor to read the wire numbers against."""
        out = {}
        for name, sql in heavy_sql.items():
            ts = []
            for _ in range(repeat):
                t0 = time.perf_counter()
                self.con.execute(sql).fetchall()
                ts.append((time.perf_counter() - t0) * 1000.0)
            out[name] = statistics.median(ts)
        return out
