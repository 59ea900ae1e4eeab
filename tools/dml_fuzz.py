#!/usr/bin/env python3
"""Stateful DML differential fuzzer: generate a random DDL/DML script
(CREATE TABLE with constraints, INSERT with and without a column list /
INSERT..SELECT / ON CONFLICT, UPDATE, DELETE, ALTER) and replay it statement-by-statement in BOTH the
embedded DuckDB oracle and the live graft PG server. After each
mutating statement the fuzzer compares (a) whether the statement
succeeded/failed on each side and (b) the full canonical table
contents. A status divergence or a content divergence is a find.

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


def gen_script(r, tname):
    """Return a list of SQL statements sharing one table."""
    ncols = r.randint(2, 4)
    cols = [("id", "INTEGER", lambda rr: str(rr.randint(0, 30)))]
    for i in range(ncols):
        ty, genv = r.choice(COL_TYPES)
        cols.append((f"c{i}", ty, genv))

    col_defs = []
    pk = r.random() < 0.6
    for j, (name, ty, _) in enumerate(cols):
        d = f"{name} {ty}"
        if name == "id" and pk:
            d += " PRIMARY KEY"
        elif r.random() < 0.2:
            d += " NOT NULL"
        elif ty in ("INTEGER", "BIGINT") and r.random() < 0.2:
            d += f" CHECK ({name} < 100)"
        col_defs.append(d)
    if not pk and r.random() < 0.4:
        col_defs.append("UNIQUE (id)")

    stmts = [f"CREATE TABLE {tname} ({', '.join(col_defs)})"]

    def row_values(listed, null_p=0.15):
        vals = []
        for (name, ty, genv) in listed:
            if name != "id" and r.random() < null_p:
                vals.append("NULL")
            else:
                vals.append(genv(r))
        return "(" + ", ".join(vals) + ")"

    n_ops = r.randint(4, 10)
    for _ in range(n_ops):
        op = r.random()
        if op < 0.35:
            rows = ", ".join(row_values(cols) for _ in range(r.randint(1, 4)))
            ins = f"INSERT INTO {tname} VALUES {rows}"
            if pk and r.random() < 0.3:
                act = r.choice(["DO NOTHING",
                                f"DO UPDATE SET c0 = excluded.c0"])
                ins += f" ON CONFLICT (id) {act}"
            stmts.append(ins)
        elif op < 0.45:
            # column-list INSERT: id plus a shuffled random subset, so
            # NOT NULL and CHECK columns are sometimes omitted (NULL)
            listed = [cols[0]] + [c for c in cols[1:] if r.random() < 0.5]
            r.shuffle(listed)
            rows = ", ".join(row_values(listed) for _ in range(r.randint(1, 3)))
            names = ", ".join(c[0] for c in listed)
            stmts.append(f"INSERT INTO {tname} ({names}) VALUES {rows}")
        elif op < 0.60:
            # UPDATE with a predicate; sometimes violating a constraint
            name, ty, genv = r.choice(cols)
            v = "NULL" if r.random() < 0.2 else genv(r)
            pred = r.choice([f"id % 2 = 0", f"id > {r.randint(0, 20)}",
                             f"id < {r.randint(0, 20)}"])
            stmts.append(f"UPDATE {tname} SET {name} = {v} WHERE {pred}")
        elif op < 0.75:
            pred = r.choice([f"id % 3 = 1", f"id > {r.randint(5, 25)}",
                             f"id = {r.randint(0, 30)}"])
            stmts.append(f"DELETE FROM {tname} WHERE {pred}")
        elif op < 0.85:
            stmts.append(f"INSERT INTO {tname} SELECT * FROM {tname} "
                         f"WHERE id = (SELECT min(id) + 17 FROM {tname})")
        elif op < 0.93 and len(cols) < 7:
            newc = f"x{len(cols)}"
            cols.append((newc, "INTEGER", lambda rr: str(rr.randint(0, 9))))
            stmts.append(f"ALTER TABLE {tname} ADD COLUMN {newc} INTEGER")
        else:
            name = cols[-1][0]
            if name not in ("id",):
                stmts.append(f"UPDATE {tname} SET {name} = 7 "
                             f"WHERE id = (SELECT max(id) FROM {tname})")
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
        con = duckdb.connect()  # fresh oracle per script
        stmts = gen_script(r, tname)
        diverged = False
        for st in stmts:
            drows, derr = run_duck(con, st)
            srows, serr = run_pg(port, st)
            if (derr is None) != (serr is None):
                finds.append(("STATUS", st, serr, derr))
                diverged = True
                break
            # contents after every mutation
            q = f"SELECT * FROM {tname}"
            drows, derr = run_duck(con, q)
            srows, serr = run_pg(port, q)
            if derr or serr:
                finds.append(("READBACK", st, serr, derr))
                diverged = True
                break
            if canon_rows(drows) != canon_rows(srows):
                finds.append(("CONTENT", st, canon_rows(srows), canon_rows(drows)))
                diverged = True
                break
        run_pg(port, f"DROP TABLE IF EXISTS {tname}")
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
