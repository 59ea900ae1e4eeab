"""Minimal PostgreSQL v3 wire client: startup, simple query, and the
named-prepared-statement cycle JDBC uses (Parse + Describe once, then
Bind/Execute/Sync per call). Results come back as text cells with the
column type OIDs from RowDescription.
"""
import socket
import struct
import time


class PgError(Exception):
    """ErrorResponse from the server (the statement failed)."""


class Result:
    __slots__ = ("columns", "oids", "rows", "tag", "nbytes")

    def __init__(self):
        self.columns, self.oids, self.rows, self.tag, self.nbytes = [], [], [], "", 0


def _cstr(s):
    return s.encode() + b"\0"


def _msg(typ, payload):
    return typ + struct.pack("!i", len(payload) + 4) + payload


class PgConn:
    def __init__(self, port, timeout=30.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = bytearray()
        self.pos = 0
        self.deadline = None
        body = struct.pack("!i", 196608) + _cstr("user") + _cstr("perfbench") + \
            _cstr("database") + _cstr("main") + b"\0"
        self.sock.sendall(struct.pack("!i", len(body) + 4) + body)
        self._until_ready(Result())
        self.described = {}  # statement name -> (columns, oids)

    def close(self):
        try:
            self.sock.sendall(_msg(b"X", b""))
        except OSError:
            pass
        self.sock.close()

    # -- framing ------------------------------------------------------------

    def _fill(self, n):
        while len(self.buf) - self.pos < n:
            if self.deadline is not None:
                left = self.deadline - time.monotonic()
                if left <= 0:
                    raise socket.timeout("operation deadline passed")
                self.sock.settimeout(left)
            chunk = self.sock.recv(1 << 18)
            if not chunk:
                raise ConnectionError("server closed the connection")
            if self.pos:
                del self.buf[:self.pos]
                self.pos = 0
            self.buf += chunk

    def _read(self):
        self._fill(5)
        typ = self.buf[self.pos:self.pos + 1]
        (n,) = struct.unpack_from("!i", self.buf, self.pos + 1)
        self._fill(1 + n)
        start = self.pos + 5
        self.pos += 1 + n
        return typ, self.buf, start, self.pos

    def _until_ready(self, res):
        err = None
        while True:
            typ, b, s, e = self._read()
            if typ == b"D":
                res.nbytes += e - s
                (ncol,) = struct.unpack_from("!h", b, s)
                p = s + 2
                row = []
                for _ in range(ncol):
                    (ln,) = struct.unpack_from("!i", b, p)
                    p += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(bytes(b[p:p + ln]).decode())
                        p += ln
                res.rows.append(row)
            elif typ == b"T":
                res.columns, res.oids = _row_description(bytes(b[s:e]))
            elif typ == b"C":
                res.tag = bytes(b[s:e - 1]).decode()
            elif typ == b"E":
                err = _error_text(bytes(b[s:e]))
            elif typ == b"Z":
                if err is not None:
                    raise PgError(err)
                return res
            # 1/2/3/n/t/S/K/R/N/I: nothing to keep

    # -- protocol flows -----------------------------------------------------

    def query(self, sql, deadline=None):
        """Simple protocol: one Query message, all results until ready."""
        self.deadline = deadline
        self.sock.sendall(_msg(b"Q", _cstr(sql)))
        return self._until_ready(Result())

    def prepare(self, name, sql, deadline=None):
        """Parse + Describe(statement) + Sync, once per connection."""
        self.deadline = deadline
        self.sock.sendall(
            _msg(b"P", _cstr(name) + _cstr(sql) + struct.pack("!h", 0)) +
            _msg(b"D", b"S" + _cstr(name)) + _msg(b"S", b""))
        res = self._until_ready(Result())
        self.described[name] = (res.columns, res.oids)

    def execute(self, name, params, deadline=None):
        """Bind (text params) + Execute + Sync on a prepared statement."""
        self.deadline = deadline
        body = _cstr("") + _cstr(name) + struct.pack("!h", 0) + struct.pack("!h", len(params))
        for v in params:
            if v is None:
                body += struct.pack("!i", -1)
            else:
                bs = str(v).encode()
                body += struct.pack("!i", len(bs)) + bs
        body += struct.pack("!h", 0)
        self.sock.sendall(_msg(b"B", body) + _msg(b"E", _cstr("") + struct.pack("!i", 0)) +
                          _msg(b"S", b""))
        res = Result()
        res.columns, res.oids = self.described.get(name, ([], []))
        return self._until_ready(res)


def _row_description(p):
    (n,) = struct.unpack_from("!h", p, 0)
    pos = 2
    cols, oids = [], []
    for _ in range(n):
        end = p.index(b"\0", pos)
        cols.append(p[pos:end].decode())
        pos = end + 1
        _tbl, _att, oid, _sz, _mod, _fmt = struct.unpack_from("!ihihih", p, pos)
        oids.append(oid)
        pos += 18
    return cols, oids


def _error_text(p):
    fields = {}
    for part in p.split(b"\0"):
        if part:
            fields[part[:1]] = part[1:].decode(errors="replace")
    return (fields.get(b"C", "") + " " + fields.get(b"M", "")).strip()
