#!/usr/bin/env python3
"""Stateful DML differential fuzzer: generate a random DDL/DML script
(CREATE TABLE with constraints and an FK to a parent table, INSERT
with and without a column list / INSERT..SELECT / ON CONFLICT DO
NOTHING and DO UPDATE, UPDATE incl. a correlated SET subquery, DELETE,
TRUNCATE of either table, ALTER; UPDATE/DELETE/TRUNCATE targets are
sometimes double-quoted or aliased) and replay it statement-by-statement in BOTH the
embedded DuckDB oracle and the live graft PG server. After each
mutating statement the fuzzer compares (a) whether the statement
succeeded/failed on each side and (b) the full canonical contents of
both tables. A status divergence or a content divergence is a find.

This exercises the server's homegrown copy-on-write DML + constraint
enforcement (PK/UNIQUE/NOT NULL/CHECK/FK, ON CONFLICT) — the layer the
reference delegates to DuckDB and we re-implement.

Usage: python3 tools/dml_fuzz.py [port] [n_scripts] [seed]
"""
import random
import sys

import duckdb

from dialect_probe import run_duck, run_pg, norm

# ------------------------------------------------------------ generator

COL_TYPES = [
    ("INTEGER", lambda r: str(r.randint(-5, 20))),
    ("BIGINT", lambda r: str(r.randint(-100, 1000))),
    ("VARCHAR", lambda r: r.choice(["'a'", "'b'", "'c'", "'dd'", "'x y'", "''"])),
    ("DOUBLE", lambda r: repr(round(r.uniform(-50, 50), 2))),
    ("BOOLEAN", lambda r: r.choice(["true", "false"])),
]


def gen_script(r, tname, pname):
    """Return a list of SQL statements over one table `tname` and its
    FK parent `pname` (id PRIMARY KEY, w)."""
    ncols = r.randint(2, 4)
    cols = [("id", "INTEGER", lambda rr: str(rr.randint(0, 30))),
            # ids 0-5 exist in the parent; 6 dangles
            ("pid", "INTEGER", lambda rr: str(rr.randint(0, 6)))]
    for i in range(ncols):
        ty, genv = r.choice(COL_TYPES)
        cols.append((f"c{i}", ty, genv))

    col_defs = []
    pk = r.random() < 0.6
    for j, (name, ty, _) in enumerate(cols):
        d = f"{name} {ty}"
        if name == "id" and pk:
            d += " PRIMARY KEY"
        elif name == "pid":
            d += f" REFERENCES {pname}(id)"
        elif r.random() < 0.2:
            d += " NOT NULL"
        elif ty in ("INTEGER", "BIGINT") and r.random() < 0.2:
            d += f" CHECK ({name} < 100)"
        col_defs.append(d)
    if not pk and r.random() < 0.4:
        col_defs.append("UNIQUE (id)")

    parent_rows = ", ".join(f"({i}, {r.randint(0, 9)})" for i in range(6))
    stmts = [f"CREATE TABLE {pname} (id INTEGER PRIMARY KEY, w INTEGER)",
             f"INSERT INTO {pname} VALUES {parent_rows}",
             f"CREATE TABLE {tname} ({', '.join(col_defs)})"]

    def row_values(listed, null_p=0.15):
        vals = []
        for (name, ty, genv) in listed:
            if name != "id" and r.random() < null_p:
                vals.append("NULL")
            else:
                vals.append(genv(r))
        return "(" + ", ".join(vals) + ")"

    def target(name):
        """`name`, double-quoted or aliased: (spelling, qualifier)."""
        k = r.random()
        if k < 0.2:
            return f'"{name}"', name
        if k < 0.35:
            return f"{name} AS a", "a"
        return name, name

    def settable():
        # DuckDB's binder rejects SET on an indexed (key or FK) column
        return [c for c in cols if c[0] not in ("id", "pid")]

    n_ops = r.randint(4, 10)
    for _ in range(n_ops):
        op = r.random()
        if op < 0.30:
            rows = ", ".join(row_values(cols) for _ in range(r.randint(1, 4)))
            ins = f"INSERT INTO {tname} VALUES {rows}"
            if pk and r.random() < 0.3:
                if r.random() < 0.3:
                    act = "DO NOTHING"
                else:
                    # NULL into a NOT NULL column and CHECK breaks are
                    # checked on the merged image
                    name, _, genv = r.choice(settable())
                    v = r.choice([f"excluded.{name}", "NULL", genv(r)])
                    act = f"DO UPDATE SET {name} = {v}"
                ins += f" ON CONFLICT (id) {act}"
            stmts.append(ins)
        elif op < 0.38:
            # column-list INSERT: id plus a shuffled random subset, so
            # NOT NULL and CHECK columns are sometimes omitted (NULL)
            listed = [cols[0]] + [c for c in cols[1:] if r.random() < 0.5]
            r.shuffle(listed)
            rows = ", ".join(row_values(listed) for _ in range(r.randint(1, 3)))
            names = ", ".join(c[0] for c in listed)
            stmts.append(f"INSERT INTO {tname} ({names}) VALUES {rows}")
        elif op < 0.52:
            # UPDATE with a predicate; sometimes violating a constraint.
            # Not of the FK column: DuckDB 1.0 runs it as delete + insert
            # and reports the row's own primary key as a duplicate
            name, ty, genv = r.choice([c for c in cols if c[0] != "pid"])
            v = "NULL" if r.random() < 0.2 else genv(r)
            t, q = target(tname)
            pred = r.choice([f"{q}.id % 2 = 0", f"id > {r.randint(0, 20)}",
                             f"id < {r.randint(0, 20)}"])
            stmts.append(f"UPDATE {t} SET {name} = {v} WHERE {pred}")
        elif op < 0.64:
            t, q = target(tname)
            pred = r.choice([f"id % 3 = 1", f"{q}.id > {r.randint(5, 25)}",
                             f"id = {r.randint(0, 30)}"])
            stmts.append(f"DELETE FROM {t} WHERE {pred}")
        elif op < 0.70:
            stmts.append(f"INSERT INTO {tname} SELECT * FROM {tname} "
                         f"WHERE id = (SELECT min(id) + 17 FROM {tname})")
        elif op < 0.76 and len(cols) < 8:
            newc = f"x{len(cols)}"
            cols.append((newc, "INTEGER", lambda rr: str(rr.randint(0, 9))))
            stmts.append(f"ALTER TABLE {tname} ADD COLUMN {newc} INTEGER")
        elif op < 0.82:
            name = cols[-1][0]
            if name not in ("id", "pid"):
                stmts.append(f"UPDATE {tname} SET {name} = 7 "
                             f"WHERE id = (SELECT max(id) FROM {tname})")
        elif op < 0.87:
            # correlated SET subquery: its own WHERE is not the UPDATE's
            num = [c for c in settable() if c[1] in ("INTEGER", "BIGINT", "DOUBLE")]
            if num:
                name = r.choice(num)[0]
                stmts.append(f"UPDATE {tname} SET {name} = (SELECT max(w) FROM {pname} "
                             f"WHERE {pname}.id = {tname}.pid) WHERE id > {r.randint(0, 20)}")
        elif op < 0.94:
            # parent writes: FK RESTRICT on DELETE and on a key UPDATE
            k = r.randint(0, 7)
            stmts.append(r.choice([
                f"INSERT INTO {pname} VALUES ({k}, {r.randint(0, 9)})",
                f"DELETE FROM {pname} WHERE id = {k}",
                f"UPDATE {pname} SET w = w + 1 WHERE id >= {k}"]))
        else:
            t = r.choice([tname, pname])
            stmts.append(f"TRUNCATE {r.choice([t, chr(34) + t + chr(34)])}")
    return stmts


# ------------------------------------------------------------- executor

def canon_rows(rows):
    return sorted(norm(rows))


def main(port, n_scripts, seed):
    r = random.Random(seed)
    finds = []
    ok_scripts = 0
    for si in range(n_scripts):
        tname = f"fz_{seed}_{si}"
        pname = tname + "_p"
        con = duckdb.connect()  # fresh oracle per script
        stmts = gen_script(r, tname, pname)
        diverged = False
        for st in stmts:
            drows, derr = run_duck(con, st)
            srows, serr = run_pg(port, st)
            if (derr is None) != (serr is None):
                finds.append(("STATUS", st, serr, derr))
                diverged = True
                break
            # contents of both tables after every mutation
            for t in (tname, pname):
                q = f"SELECT * FROM {t}"
                drows, derr = run_duck(con, q)
                srows, serr = run_pg(port, q)
                if (derr is None) != (serr is None):
                    finds.append(("READBACK", st, serr, derr))
                    diverged = True
                    break
                if derr is None and canon_rows(drows) != canon_rows(srows):
                    finds.append(("CONTENT", st, canon_rows(srows), canon_rows(drows)))
                    diverged = True
                    break
            if diverged:
                break
        run_pg(port, f"DROP TABLE IF EXISTS {tname}")
        run_pg(port, f"DROP TABLE IF EXISTS {pname}")
        con.close()
        if not diverged:
            ok_scripts += 1
    for kind, st, got, want in finds[:20]:
        print(f"{kind}  {st}")
        print(f"    server: {str(got)[:300]}")
        print(f"    oracle: {str(want)[:300]}")
    print(f"\nSEED {seed} SUMMARY ok_scripts={ok_scripts}/{n_scripts} finds={len(finds)}")
    return 1 if finds else 0


if __name__ == "__main__":
    port = int(sys.argv[1]) if len(sys.argv) > 1 else 5433
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    sys.exit(main(port, n, seed))
