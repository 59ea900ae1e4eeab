"""Closed-loop load from one process: one thread per connection, each
sending its next operation as soon as the previous answer is in (zero
think time), or at its `due` time if it has one and that is later.
Every operation has a deadline; a refusal, an error or a timeout counts
as a failed attempt and the connection is reopened."""
import socket
import threading
import time

import chhttp
import pgwire
from workloads import SIMPLE_ONLY, TEMPLATES, splice

TIMEOUT_S = {"heavy": 60.0, "default": 30.0}
OID = "@oid@"


class OpRecord:
    __slots__ = ("conn", "cls", "kind", "seq", "start", "latency", "ok", "err", "rows", "nbytes")

    def __init__(self, op, start):
        self.conn, self.cls, self.kind, self.seq = op["conn"], op["cls"], op["kind"], op["seq"]
        self.start, self.latency, self.ok, self.err = start, 0.0, False, ""
        self.rows = self.nbytes = 0


class Connection:
    """One client connection of a given protocol, reopened on failure."""

    def __init__(self, proto, server):
        self.proto, self.server = proto, server
        self.pg = None

    def close(self):
        if self.pg is not None:
            try:
                self.pg.close()
            except OSError:
                pass
            self.pg = None

    def _pg(self):
        if self.pg is None:
            self.pg = pgwire.PgConn(self.server.pg_port, timeout=TIMEOUT_S["default"])
        return self.pg

    def run(self, op, deadline):
        """Run one operation; returns (rows, bytes, result) where result
        is a list of pgwire.Result (PG) or the response bytes (CH)."""
        timeout = max(0.1, deadline - time.monotonic())
        p = self.proto
        if p == "ch_read":
            body = chhttp.post(self.server.ch_port, op["sql"] + " FORMAT " + op["format"],
                               timeout=timeout)
            return body.count(b"\n"), len(body), body
        if p == "ch_ingest":
            chhttp.post(self.server.ch_port, op["payload"],
                        query="INSERT INTO %s FORMAT %s" % (op["table"], op["format"]),
                        timeout=timeout)
            return len(op["rows"]), len(op["payload"]), None
        conn = self._pg()
        results, oid = [], None
        for name, params in op["steps"]:
            params = [oid if v == OID else v for v in params]
            if p == "simple" or name.startswith("sql:") or name in SIMPLE_ONLY:
                sql = op["sql"] if name.startswith("sql:") else splice(TEMPLATES[name], params)
                res = conn.query(sql, deadline=deadline)
            else:
                if name not in conn.described:
                    conn.prepare(name, TEMPLATES[name], deadline=deadline)
                res = conn.execute(name, params, deadline=deadline)
            if oid is None and res.rows and res.rows[0]:
                oid = res.rows[0][0]
            results.append(res)
        return sum(len(r.rows) for r in results), sum(r.nbytes for r in results), results


def classify(exc):
    if isinstance(exc, (pgwire.PgError, chhttp.ChError)):
        return "error"
    if isinstance(exc, (socket.timeout, TimeoutError)):
        return "timeout"
    if isinstance(exc, ConnectionRefusedError):
        return "refused"
    return "connection"


def run_window(server, streams, seconds, min_ops=None, capture=None):
    """Drive every connection of `streams` for `seconds` (and at least
    `min_ops[conn]` operations on each). Returns (records, wall_s,
    server_died). `capture(op, result)` sees each successful operation."""
    records, lock = [], threading.Lock()
    t_start = time.monotonic()
    t_end = t_start + seconds

    def worker(conn_index):
        cls, proto = streams.layout[conn_index]
        conn = Connection(proto, server)
        mine = []
        floor = min_ops[conn_index] if min_ops else 0
        try:
            for n, op in enumerate(streams.ops(conn_index)):
                if "due" in op:
                    due = t_start + op["due"]
                    if due >= t_end and n >= floor:
                        break
                    time.sleep(max(0.0, due - time.monotonic()))
                now = time.monotonic()
                if now >= t_end and n >= floor:
                    break
                heavy = streams.workload == "pg_analytic" and cls == "main"
                deadline = now + TIMEOUT_S["heavy" if heavy else "default"]
                rec = OpRecord(op, now)
                try:
                    rec.rows, rec.nbytes, result = conn.run(op, deadline)
                    rec.ok = True
                    if capture is not None:
                        capture(op, result)
                except Exception as e:  # every failure is counted, none is fatal
                    rec.err = classify(e) + ": " + str(e)[:200]
                    if not isinstance(e, (pgwire.PgError, chhttp.ChError)):
                        conn.close()
                        time.sleep(0.05)
                rec.latency = time.monotonic() - rec.start
                mine.append(rec)
        finally:
            conn.close()
            with lock:
                records.extend(mine)

    threads = [threading.Thread(target=worker, args=(i,), daemon=True)
               for i in range(len(streams.layout))]
    for t in threads:
        t.start()
    died = False
    for t in threads:
        while t.is_alive():
            t.join(0.2)
            died = died or not server.alive()
    return records, time.monotonic() - t_start, died or not server.alive()
