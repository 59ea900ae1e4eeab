#!/usr/bin/env python3
"""pgJDBC wire-sequence conformance smoke (VERDICT r14 Next #6).

The reference's client matrix includes postgres-jdbc (README.md:33).
This container has no JDBC jar and no egress to fetch one, so a
literal JDBC run is impossible HERE; this probe instead replays the
EXACT wire sequences pgJDBC 42.x emits — its startup parameter set,
extended-protocol statement lifecycle, fetchSize paging over a named
portal inside a driver-issued BEGIN, and its pg_catalog metadata SQL
shapes — so the surface a real driver exercises is pinned end-to-end.
(The sequences are public: pgJDBC's QueryExecutorImpl /
PgDatabaseMetaData sources.)

Checks:
  J1  startup with pgJDBC's full parameter set (DateStyle, TimeZone,
      extra_float_digits, application_name, client_encoding) — the
      server must tolerate the unknown ones and report status params
  J2  SET extra_float_digits = 3 (driver compatibility statement)
  J3  prepared statement with declared param OID (Parse with int4),
      Describe(statement) → ParameterDescription + RowDescription,
      Bind text param, Execute, correct row
  J4  named statement REUSED with new params (no re-Parse) ×3
  J5  fetchSize paging: BEGIN via extended protocol, named portal,
      Execute maxRows=2 → PortalSuspended → Execute again → resumes
      (not restarts) → CommandComplete; Close portal; COMMIT
  J6  metadata: current_schema(), getTables-shape pg_class ⋈
      pg_namespace query, getColumns-shape ⋈ pg_attribute ⋈ pg_type,
      both sent as pgJDBC's extended-protocol unnamed statement
  J7  Close statement → CloseComplete; reuse after close errors clean

Usage: python3 tools/jdbc_smoke.py [port]
"""
import struct
import sys

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.abspath(__file__)))
from pg_extended_test import msg, cstr, Conn, types_of  # noqa: E402


class JdbcConn(Conn):
    """Conn with pgJDBC's actual StartupMessage parameter set."""

    def __init__(self, port):
        import socket
        self.s = socket.create_connection(("127.0.0.1", port))
        params = [
            ("user", "jdbc"), ("database", "main"),
            ("client_encoding", "UTF8"), ("DateStyle", "ISO"),
            ("TimeZone", "UTC"), ("extra_float_digits", "2"),
            ("application_name", "PostgreSQL JDBC Driver"),
        ]
        body = struct.pack(">i", 196608) + b"".join(
            cstr(k) + cstr(v) for k, v in params) + b"\0"
        self.s.sendall(struct.pack(">i", len(body) + 4) + body)
        self.buf = b""
        self.key = None
        self.status = {}
        while True:
            t, p = self.read()
            if t == b"K":
                self.key = struct.unpack(">ii", p)
            if t == b"S":
                k, v = p.split(b"\0")[:2]
                self.status[k.decode()] = v.decode()
            if t == b"Z":
                break


def rows_of(seq):
    out = []
    for t, p in seq:
        if t != b"D":
            continue
        (n,) = struct.unpack(">h", p[:2])
        off, cells = 2, []
        for _ in range(n):
            (l,) = struct.unpack(">i", p[off:off + 4])
            off += 4
            if l == -1:
                cells.append(None)
            else:
                cells.append(p[off:off + l].decode())
                off += l
        out.append(cells)
    return out


def main(port):
    failures = []

    def check(name, ok, detail=""):
        print(("PASS " if ok else "FAIL ") + name + (f": {detail}" if detail else ""))
        if not ok:
            failures.append(name)

    # J1: pgJDBC startup parameter set
    c = JdbcConn(port)
    check("J1 startup with driver params",
          c.key is not None and "server_version" in c.status
          and c.status.get("client_encoding") == "UTF8",
          f"status={sorted(c.status)}")

    # J2: driver compatibility SET
    c.send(msg(b"Q", cstr("SET extra_float_digits = 3")))
    kinds = types_of(c.drain_until_ready())
    check("J2 SET extra_float_digits", "E" not in kinds, kinds)

    # J3: Parse with declared int4 param OID + Describe(statement)
    c.send(
        msg(b"P", cstr("S_1") + cstr("SELECT n_name FROM nation WHERE n_nationkey = $1")
            + struct.pack(">h", 1) + struct.pack(">i", 23)),
        msg(b"D", b"S" + cstr("S_1")),
        msg(b"B", cstr("") + cstr("S_1") + struct.pack(">h", 0) + struct.pack(">h", 1)
            + struct.pack(">i", 1) + b"7" + struct.pack(">h", 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    r = rows_of(seq)
    check("J3 declared-OID prepared flow", kinds == "1tT2DCZ" and len(r) == 1,
          f"{kinds} rows={r}")

    # J4: reuse the named statement with fresh params, NO re-Parse
    vals = []
    for k in ("1", "2", "3"):
        c.send(
            msg(b"B", cstr("") + cstr("S_1") + struct.pack(">h", 0) + struct.pack(">h", 1)
                + struct.pack(">i", 1) + k.encode() + struct.pack(">h", 0)),
            msg(b"E", cstr("") + struct.pack(">i", 0)),
            msg(b"S", b""))
        vals += rows_of(c.drain_until_ready())
    check("J4 statement reuse x3", len(vals) == 3 and len({v[0] for v in vals}) == 3,
          f"{vals}")

    # J5: fetchSize paging — BEGIN (extended, like autocommit=false),
    # named portal, Execute maxRows=2, PortalSuspended, resume
    c.send(
        msg(b"P", cstr("") + cstr("BEGIN") + struct.pack(">h", 0)),
        msg(b"B", cstr("") + cstr("") + struct.pack(">hhh", 0, 0, 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    kinds = types_of(c.drain_until_ready())
    check("J5a extended BEGIN", "E" not in kinds, kinds)
    c.send(
        msg(b"P", cstr("S_2") + cstr(
            "SELECT n_nationkey FROM nation WHERE n_nationkey < 5 ORDER BY n_nationkey")
            + struct.pack(">h", 0)),
        msg(b"B", cstr("C_1") + cstr("S_2") + struct.pack(">hhh", 0, 0, 0)),
        msg(b"E", cstr("C_1") + struct.pack(">i", 2)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    page1 = rows_of(seq)
    check("J5b first page suspends", kinds.endswith("sZ") and
          [r[0] for r in page1] == ["0", "1"], f"{kinds} {page1}")
    c.send(
        msg(b"E", cstr("C_1") + struct.pack(">i", 2)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    page2 = rows_of(seq)
    check("J5c resume (not restart)", [r[0] for r in page2] == ["2", "3"],
          f"{types_of(seq)} {page2}")
    c.send(
        msg(b"E", cstr("C_1") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    page3 = rows_of(seq)
    check("J5d final page completes", "C" in types_of(seq) and
          [r[0] for r in page3] == ["4"], f"{types_of(seq)} {page3}")
    c.send(msg(b"C", b"P" + cstr("C_1")),
           msg(b"P", cstr("") + cstr("COMMIT") + struct.pack(">h", 0)),
           msg(b"B", cstr("") + cstr("") + struct.pack(">hhh", 0, 0, 0)),
           msg(b"E", cstr("") + struct.pack(">i", 0)),
           msg(b"S", b""))
    kinds = types_of(c.drain_until_ready())
    check("J5e close portal + COMMIT", kinds.startswith("3") and "E" not in kinds, kinds)

    # J6: metadata SQL shapes (PgDatabaseMetaData)
    c.send(msg(b"Q", cstr("select current_schema()")))
    seq = c.drain_until_ready()
    check("J6a current_schema()", len(rows_of(seq)) == 1,
          f"{types_of(seq)} {rows_of(seq)}")
    # a REAL user table (the parquet fixtures register as views)
    c.send(msg(b"Q", cstr("drop table if exists main.jdbc_t")))
    c.drain_until_ready()
    c.send(msg(b"Q", cstr(
        "create table main.jdbc_t (k int primary key, v string) using parquet")))
    c.drain_until_ready()
    # pgJDBC's default preferQueryMode=extended sends metadata SQL as an
    # unnamed Parse (the pattern as a varchar $1) / Bind / Describe
    # portal / Execute / Sync, so Parse must resolve the catalog views
    def metadata_query(sql, arg):
        c.send(
            msg(b"P", cstr("") + cstr(sql) + struct.pack(">h", 1) + struct.pack(">i", 1043)),
            msg(b"B", cstr("") + cstr("") + struct.pack(">h", 0) + struct.pack(">h", 1)
                + struct.pack(">i", len(arg)) + arg.encode() + struct.pack(">h", 0)),
            msg(b"D", b"P" + cstr("")),
            msg(b"E", cstr("") + struct.pack(">i", 0)),
            msg(b"S", b""))
        return c.drain_until_ready()
    get_tables = (
        "SELECT NULL AS TABLE_CAT, n.nspname AS TABLE_SCHEM, c.relname AS TABLE_NAME, "
        "CASE c.relkind WHEN 'r' THEN 'TABLE' WHEN 'v' THEN 'VIEW' ELSE NULL END AS TABLE_TYPE "
        "FROM pg_catalog.pg_namespace n, pg_catalog.pg_class c "
        "WHERE c.relnamespace = n.oid AND c.relname LIKE $1 "
        "ORDER BY TABLE_TYPE, TABLE_SCHEM, TABLE_NAME")
    seq = metadata_query(get_tables, "jdbc_t")
    r = rows_of(seq)
    check("J6b getTables shape", types_of(seq) == "12TDCZ" and len(r) == 1
          and r[0][2] == "jdbc_t" and r[0][3] == "TABLE", f"{types_of(seq)} {r}")
    get_cols = (
        "SELECT n.nspname, c.relname, a.attname, a.atttypid, a.attnotnull, a.attnum, t.typname "
        "FROM pg_catalog.pg_namespace n "
        "JOIN pg_catalog.pg_class c ON c.relnamespace = n.oid "
        "JOIN pg_catalog.pg_attribute a ON a.attrelid = c.oid "
        "JOIN pg_catalog.pg_type t ON a.atttypid = t.oid "
        "WHERE c.relname LIKE $1 AND a.attnum > 0 ORDER BY a.attnum")
    seq = metadata_query(get_cols, "jdbc_t")
    r = rows_of(seq)
    # the pg_type join must not DROP any column (every emitted atttypid
    # resolves), PK column reports attnotnull, and typnames are real
    check("J6c getColumns shape", types_of(seq).startswith("12T") and len(r) == 2
          and r[0][2] == "k" and r[0][4] in ("t", "true") and r[0][6] == "int4"
          and r[1][6] == "text", f"{types_of(seq)} rows={len(r)} {r}")
    c.send(msg(b"Q", cstr("drop table main.jdbc_t")))
    c.drain_until_ready()

    # J7: Close statement, then reuse must fail cleanly
    c.send(msg(b"C", b"S" + cstr("S_1")), msg(b"S", b""))
    kinds = types_of(c.drain_until_ready())
    check("J7a close statement", kinds == "3Z", kinds)
    c.send(
        msg(b"B", cstr("") + cstr("S_1") + struct.pack(">h", 0) + struct.pack(">h", 1)
            + struct.pack(">i", 1) + b"1" + struct.pack(">h", 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    kinds = types_of(c.drain_until_ready())
    check("J7b bind-after-close errors", "E" in kinds and kinds.endswith("Z"), kinds)
    # and the connection is still usable
    c.send(msg(b"Q", cstr("select 42")))
    r = rows_of(c.drain_until_ready())
    check("J7c conn survives", r == [["42"]], f"{r}")

    c.s.close()
    print("jdbc_smoke FAILURES: " + ",".join(failures) if failures else "jdbc_smoke ALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]) if len(sys.argv) > 1 else 5433))
