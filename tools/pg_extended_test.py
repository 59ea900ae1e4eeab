#!/usr/bin/env python3
"""Extended-protocol conformance probe against the graft PG server:
Parse/Describe/Bind/Execute/Sync (named statement, $n params), the
error-then-sync skip state machine, Close, and CancelRequest.

Usage: python3 tools/pg_extended_test.py [port]
"""
import socket
import struct
import sys
import time


def msg(typ, payload):
    return typ + struct.pack(">i", len(payload) + 4) + payload


def cstr(s):
    return s.encode() + b"\0"


class Conn:
    def __init__(self, port):
        self.s = socket.create_connection(("127.0.0.1", port))
        body = struct.pack(">i", 196608) + cstr("user") + cstr("tester") + \
            cstr("database") + cstr("main") + b"\0"
        self.s.sendall(struct.pack(">i", len(body) + 4) + body)
        self.buf = b""
        self.key = None
        while True:
            t, p = self.read()
            if t == b"K":
                self.key = struct.unpack(">ii", p)
            if t == b"Z":
                break

    def read(self):
        while len(self.buf) < 5:
            self.buf += self.s.recv(65536)
        t = self.buf[:1]
        (ln,) = struct.unpack(">i", self.buf[1:5])
        while len(self.buf) < 1 + ln:
            self.buf += self.s.recv(65536)
        payload = self.buf[5:1 + ln]
        self.buf = self.buf[1 + ln:]
        return t, payload

    def send(self, *msgs):
        self.s.sendall(b"".join(msgs))

    def drain_until_ready(self):
        out = []
        while True:
            t, p = self.read()
            out.append((t, p))
            if t == b"Z":
                return out


def types_of(msgs):
    return "".join(t.decode() for t, _ in msgs)


def main(port):
    c = Conn(port)
    failures = []

    # 1. named Parse/Describe/Bind/Execute/Sync with $1 param
    c.send(
        msg(b"P", cstr("s1") + cstr("select n_name from nation where n_nationkey = $1") + struct.pack(">h", 0)),
        msg(b"D", b"S" + cstr("s1")),
        msg(b"B", cstr("") + cstr("s1") + struct.pack(">h", 0) + struct.pack(">h", 1)
            + struct.pack(">i", 1) + b"3" + struct.pack(">h", 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    # expect: 1 t T 2 D C Z
    datarows = [p for t, p in seq if t == b"D"]
    val = datarows[0][6:] if datarows else b""
    ok = kinds == "1tT2DCZ" and val == b"NATION_3"
    print(("PASS" if ok else "FAIL") + f" extended flow: {kinds} row={val}")
    if not ok:
        failures.append("flow")

    # 2. error then skip-until-sync
    c.send(
        msg(b"P", cstr("") + cstr("select * from nosuch_table") + struct.pack(">h", 0)),
        msg(b"B", cstr("") + cstr("") + struct.pack(">hhh", 0, 0, 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    ok = kinds.startswith("E") and kinds.endswith("Z") and "2" not in kinds
    print(("PASS" if ok else "FAIL") + f" error-skip: {kinds}")
    if not ok:
        failures.append("error-skip")

    # 3. server recovered: simple query still works
    c.send(msg(b"Q", cstr("select 42 as v")))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    ok = "T" in kinds and "D" in kinds and "C" in kinds
    print(("PASS" if ok else "FAIL") + f" recover: {kinds}")
    if not ok:
        failures.append("recover")

    # 4. Close statement
    c.send(msg(b"C", b"S" + cstr("s1")), msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    ok = kinds == "3Z"
    print(("PASS" if ok else "FAIL") + f" close: {kinds}")
    if not ok:
        failures.append("close")

    # 5. per-connection TEMP namespace through the EXTENDED protocol
    # (r14): Parse/Describe must resolve a temp view created on this
    # connection (the old bare-spark Describe path couldn't see the
    # mangled name), and a second connection must NOT see it.
    c.send(msg(b"Q", cstr("create temp view ext_tns as select 11 as y")))
    c.drain_until_ready()
    c.send(
        msg(b"P", cstr("st") + cstr("select y from ext_tns") + struct.pack(">h", 0)),
        msg(b"D", b"S" + cstr("st")),
        msg(b"B", cstr("") + cstr("st") + struct.pack(">hhh", 0, 0, 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    datarows = [p for t, p in seq if t == b"D"]
    # DataRow: int16 ncols, int32 len, value bytes — single-column here
    val = datarows[0][6:] if datarows else b""
    ok = kinds == "1tT2DCZ" and val == b"11"
    print(("PASS" if ok else "FAIL") + f" temp-ext flow: {kinds} row={val}")
    if not ok:
        failures.append("temp-ext")
    c2 = Conn(port)
    c2.send(msg(b"Q", cstr("select y from ext_tns")))
    seq2 = c2.drain_until_ready()
    ok = "E" in types_of(seq2)  # other conn: not found
    print(("PASS" if ok else "FAIL") + f" temp-ext private: {types_of(seq2)}")
    if not ok:
        failures.append("temp-ext-private")
    c2.s.close()
    c.send(msg(b"C", b"S" + cstr("st")), msg(b"S", b""))
    c.drain_until_ready()
    c.send(msg(b"Q", cstr("drop view ext_tns")))
    c.drain_until_ready()

    # 5b. BINARY result formats (r15b): Bind with result-format 1 — the
    # pgx-default path. One query covering every binary codec family:
    # int4/int8/float8/bool/text/numeric/date/timestamp/text[]; decode
    # each cell with the PG wire layouts and compare exact values.
    sql_bin = ("select 7 as i4, cast(40000000000 as bigint) as i8, "
               "cast(2.5 as double) as f8, true as b, 'hi' as s, "
               "cast(-1234.56 as decimal(10,2)) as num, "
               "date '2024-03-15' as d, "
               "timestamp '2024-03-15 12:30:45' as ts, "
               "array('a', 'b,c') as arr")
    c.send(
        msg(b"P", cstr("sb") + cstr(sql_bin) + struct.pack(">h", 0)),
        msg(b"B", cstr("") + cstr("sb") + struct.pack(">h", 0) + struct.pack(">h", 0)
            + struct.pack(">h", 1) + struct.pack(">h", 1)),  # 1 result fmt: binary
        msg(b"D", b"P" + cstr("")),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    row = next((p for t, p in seq if t == b"D"), None)
    rowdesc = next((p for t, p in seq if t == b"T"), None)
    ok = row is not None and rowdesc is not None
    if ok:
        # RowDescription format fields must echo the requested binary
        ncols = struct.unpack(">h", rowdesc[:2])[0]
        off, fmts_seen = 2, []
        for _ in range(ncols):
            end = rowdesc.index(b"\0", off)
            fmts_seen.append(struct.unpack(">h", rowdesc[end + 17:end + 19])[0])
            off = end + 19
        ok = all(f == 1 for f in fmts_seen)
        # decode DataRow cells
        cells, off = [], 2
        n = struct.unpack(">h", row[:2])[0]
        for _ in range(n):
            ln = struct.unpack(">i", row[off:off + 4])[0]
            off += 4
            cells.append(None if ln < 0 else row[off:off + ln])
            off += ln if ln > 0 else 0
        i4 = struct.unpack(">i", cells[0])[0]
        i8 = struct.unpack(">q", cells[1])[0]
        f8 = struct.unpack(">d", cells[2])[0]
        bv = cells[3] == b"\x01"
        sv = cells[4].decode()
        nd, w, sign, dscale = struct.unpack(">hhhh", cells[5][:8])
        digits = [struct.unpack(">h", cells[5][8 + 2 * k:10 + 2 * k])[0] for k in range(nd)]
        numv = sum(d * (10000 ** (w - k)) for k, d in enumerate(digits))
        if sign == 0x4000:
            numv = -numv
        import datetime
        dv = datetime.date(2000, 1, 1) + datetime.timedelta(days=struct.unpack(">i", cells[6])[0])
        tsv = datetime.datetime(2000, 1, 1) + datetime.timedelta(
            microseconds=struct.unpack(">q", cells[7])[0])
        a = cells[8]
        ndim, hasnull, eloid, alen, lb = struct.unpack(">iiiii", a[:20])
        aoff, elems = 20, []
        for _ in range(alen):
            eln = struct.unpack(">i", a[aoff:aoff + 4])[0]
            aoff += 4
            elems.append(a[aoff:aoff + eln].decode())
            aoff += eln
        ok = ok and i4 == 7 and i8 == 40000000000 and f8 == 2.5 and bv \
            and sv == "hi" and abs(numv - (-1234.56)) < 1e-9 and str(dv) == "2024-03-15" \
            and str(tsv) == "2024-03-15 12:30:45" and ndim == 1 and eloid == 25 \
            and elems == ["a", "b,c"]
    print(("PASS" if ok else "FAIL") + " binary result formats")
    if not ok:
        failures.append("binary-results")
    c.send(msg(b"C", b"S" + cstr("sb")), msg(b"S", b""))
    c.drain_until_ready()

    # 5c. BINARY param values with declared OIDs (r15b): pgx declares
    # param OIDs at Parse and sends binary — a float8 is 8 bytes like
    # an int8, only the OID disambiguates. $1 float8=2.5, $2 date=
    # 2000-01-02 (day 1 of the PG epoch), $3 numeric=-12.75.
    c.send(
        msg(b"P", cstr("sp") + cstr("select $1 * 2 as v, $2 as d, $3 as n")
            + struct.pack(">h", 3) + struct.pack(">iii", 701, 1082, 1700)),
        msg(b"B", cstr("") + cstr("sp")
            + struct.pack(">h", 1) + struct.pack(">h", 1)     # all params binary
            + struct.pack(">h", 3)
            + struct.pack(">i", 8) + struct.pack(">d", 2.5)
            + struct.pack(">i", 4) + struct.pack(">i", 1)
            + struct.pack(">i", 12) + struct.pack(">hhhh", 2, 0, 0x4000, 2)
            + struct.pack(">hh", 12, 7500)
            + struct.pack(">h", 0)),                          # results: text
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    row = next((p for t, p in seq if t == b"D"), None)
    ok = row is not None
    if ok:
        cells, off = [], 2
        n = struct.unpack(">h", row[:2])[0]
        for _ in range(n):
            ln = struct.unpack(">i", row[off:off + 4])[0]
            off += 4
            cells.append(None if ln < 0 else row[off:off + ln].decode())
            off += max(0, ln)
        ok = cells[0] == "5.0" and cells[1] == "2000-01-02" and cells[2] == "-12.75"
        if not ok:
            print(f"  binary-param cells: {cells}")
    print(("PASS" if ok else "FAIL") + " binary param values by declared OID")
    if not ok:
        failures.append("binary-params")
    c.send(msg(b"C", b"S" + cstr("sp")), msg(b"S", b""))
    c.drain_until_ready()

    # 5d. $n splices only in code: a ' inside a quoted identifier opens
    # no literal, and a $1 in a literal, comment or dollar quote is text
    c.send(
        msg(b"P", cstr("sq") + cstr("""select 1 as "it's", $1::int as v, '$1' as l """
                                    """/* $1 */, $q$ $1 $q$ as d""") + struct.pack(">h", 0)),
        msg(b"B", cstr("") + cstr("sq") + struct.pack(">h", 0) + struct.pack(">h", 1)
            + struct.pack(">i", 1) + b"7" + struct.pack(">h", 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    row = next((p for t, p in seq if t == b"D"), None)
    cells = []
    if row is not None:
        off = 2
        for _ in range(struct.unpack(">h", row[:2])[0]):
            ln = struct.unpack(">i", row[off:off + 4])[0]
            cells.append(row[off + 4:off + 4 + ln].decode())
            off += 4 + max(0, ln)
    ok = cells == ["1", "7", "$1", " $1 "]
    print(("PASS" if ok else "FAIL") + f" $n splice in code only: {types_of(seq)} {cells}")
    if not ok:
        failures.append("param-splice-code-only")
    c.send(msg(b"C", b"S" + cstr("sq")), msg(b"S", b""))
    c.drain_until_ready()

    # 5e. catalog views through Parse/Describe: a named statement over
    # information_schema resolves at Parse exactly as Execute does
    c.send(
        msg(b"P", cstr("sis") + cstr(
            "SELECT table_name FROM information_schema.tables WHERE table_name = $1")
            + struct.pack(">h", 0)),
        msg(b"D", b"S" + cstr("sis")),
        msg(b"B", cstr("") + cstr("sis") + struct.pack(">h", 0) + struct.pack(">h", 1)
            + struct.pack(">i", 6) + b"nation" + struct.pack(">h", 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    datarows = [p for t, p in seq if t == b"D"]
    val = datarows[0][6:] if datarows else b""
    ok = kinds == "1tT2DCZ" and val == b"nation"
    print(("PASS" if ok else "FAIL") + f" catalog view at Parse: {kinds} row={val}")
    if not ok:
        failures.append("catalog-parse")
    c.send(msg(b"C", b"S" + cstr("sis")), msg(b"S", b""))
    c.drain_until_ready()

    # 5f. statement kinds through Parse/Describe: a FROM-first query,
    # SUMMARIZE and DESCRIBE describe the columns Execute sends, and a
    # leading comment or a comment-only query is read as PG reads it
    c.send(
        msg(b"P", cstr("sff") + cstr("FROM nation SELECT n_name WHERE n_nationkey = $1")
            + struct.pack(">h", 0)),
        msg(b"D", b"S" + cstr("sff")),
        msg(b"B", cstr("") + cstr("sff") + struct.pack(">h", 0) + struct.pack(">h", 1)
            + struct.pack(">i", 1) + b"3" + struct.pack(">h", 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"C", b"S" + cstr("sff")),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    datarows = [p for t, p in seq if t == b"D"]
    val = datarows[0][6:] if datarows else b""
    ok = kinds == "1tT2DC3Z" and val == b"NATION_3"
    print(("PASS" if ok else "FAIL") + f" FROM-first at Parse: {kinds} row={val}")
    if not ok:
        failures.append("from-first-parse")
    c.send(
        msg(b"P", cstr("ssum") + cstr("SUMMARIZE nation") + struct.pack(">h", 0)),
        msg(b"D", b"S" + cstr("ssum")),
        msg(b"B", cstr("") + cstr("ssum") + struct.pack(">hhh", 0, 0, 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"C", b"S" + cstr("ssum")),
        msg(b"S", b""))
    kinds = types_of(c.drain_until_ready())
    ok = kinds.startswith("1tT2D") and kinds.endswith("DC3Z")
    print(("PASS" if ok else "FAIL") + f" SUMMARIZE at Parse: {kinds}")
    if not ok:
        failures.append("summarize-parse")
    c.send(
        msg(b"P", cstr("sdesc") + cstr("DESCRIBE nation") + struct.pack(">h", 0)),
        msg(b"D", b"S" + cstr("sdesc")),
        msg(b"C", b"S" + cstr("sdesc")),
        msg(b"S", b""))
    rowdesc = next((p for t, p in c.drain_until_ready() if t == b"T"), b"")
    names, off = [], 2
    for _ in range(struct.unpack(">h", rowdesc[:2])[0] if rowdesc else 0):
        end = rowdesc.index(b"\0", off)
        names.append(rowdesc[off:end].decode())
        off = end + 19
    ok = names == ["column_name", "column_type", "null"]
    print(("PASS" if ok else "FAIL") + f" DESCRIBE at Parse: {names}")
    if not ok:
        failures.append("describe-parse")
    c.send(
        msg(b"P", cstr("") + cstr("/* c */ SELECT 7 AS v") + struct.pack(">h", 0)),
        msg(b"B", cstr("") + cstr("") + struct.pack(">hhh", 0, 0, 0)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    seq = c.drain_until_ready()
    kinds = types_of(seq)
    tag = next((p for t, p in seq if t == b"C"), b"")
    ok = kinds == "12DCZ" and tag == b"SELECT 1\0"
    print(("PASS" if ok else "FAIL") + f" commented SELECT executes: {kinds} tag={tag}")
    if not ok:
        failures.append("comment-select")
    c.send(msg(b"Q", cstr("/* nothing */")))
    empty = types_of(c.drain_until_ready())
    c.send(msg(b"Q", cstr("select 1; -- c")))
    tail = types_of(c.drain_until_ready())
    ok = empty == "IZ" and tail == "TDCZ"
    print(("PASS" if ok else "FAIL") + f" comment-only query is empty: {empty} {tail}")
    if not ok:
        failures.append("comment-only")

    # 5g. results that drain with one collect keep the wire's paging:
    # a portal over a catalog view suspends after maxRows and resumes,
    # a cursor over pg_catalog fetches in pieces, and a runtime error
    # raised while draining still aborts the open transaction
    c.send(msg(b"Q", cstr("select count(*) from information_schema.tables")))
    total = int(next(p for t, p in c.drain_until_ready() if t == b"D")[6:])
    c.send(
        msg(b"P", cstr("") + cstr("SELECT table_name FROM information_schema.tables")
            + struct.pack(">h", 0)),
        msg(b"B", cstr("") + cstr("") + struct.pack(">hhh", 0, 0, 0)),
        msg(b"E", cstr("") + struct.pack(">i", 1)),
        msg(b"E", cstr("") + struct.pack(">i", 0)),
        msg(b"S", b""))
    kinds = types_of(c.drain_until_ready())
    ok = total > 1 and kinds == "12Ds" + "D" * (total - 1) + "CZ"
    print(("PASS" if ok else "FAIL") + f" portal suspends over a catalog view: {kinds}")
    if not ok:
        failures.append("portal-suspend")
    c.send(msg(b"Q", cstr("DECLARE cc CURSOR FOR SELECT relname FROM pg_catalog.pg_class")))
    declared = types_of(c.drain_until_ready())
    c.send(msg(b"Q", cstr("FETCH 2 FROM cc")))
    seq = c.drain_until_ready()
    tag = next((p for t, p in seq if t == b"C"), b"")
    c.send(msg(b"Q", cstr("CLOSE cc")))
    c.drain_until_ready()
    ok = declared == "CZ" and types_of(seq) == "TDDCZ" and tag == b"FETCH 2\0"
    print(("PASS" if ok else "FAIL") + f" cursor over pg_catalog: {declared} {types_of(seq)}")
    if not ok:
        failures.append("cursor-catalog")
    c.send(msg(b"Q", cstr("BEGIN")))
    c.drain_until_ready()
    c.send(msg(b"Q", cstr("SELECT 1/0")))
    err = types_of(c.drain_until_ready())
    c.send(msg(b"Q", cstr("SELECT 1")))
    after = c.drain_until_ready()
    c.send(msg(b"Q", cstr("ROLLBACK")))
    c.drain_until_ready()
    ok = "E" in err and types_of(after) == "EZ" and after[-1][1] == b"E"
    print(("PASS" if ok else "FAIL") + f" drain error aborts txn: {err} {types_of(after)}")
    if not ok:
        failures.append("drain-error-txn")

    # 6. CancelRequest: fire a slow query, cancel from a second conn
    # data-independent and reliably minutes-long uncancelled
    slow = "select sum(id) from range(20000000000)"
    c.send(msg(b"Q", cstr(slow)))
    time.sleep(1.0)
    s2 = socket.create_connection(("127.0.0.1", port))
    body = struct.pack(">iii", 16, 80877102, 0)[:8] + struct.pack(">ii", *c.key)
    s2.sendall(struct.pack(">i", 16) + struct.pack(">i", 80877102) + struct.pack(">ii", *c.key))
    s2.close()
    t0 = time.time()
    seq = c.drain_until_ready()
    dt = time.time() - t0
    kinds = types_of(seq)
    cancelled = "E" in kinds
    print(("PASS" if cancelled else "FAIL") + f" cancel: {kinds} after {dt:.1f}s")
    if not cancelled:
        failures.append("cancel")

    print("FAILURES:" + ",".join(failures) if failures else "ALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]) if len(sys.argv) > 1 else 5433))
