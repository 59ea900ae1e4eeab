"""Seeded operation streams for the three workloads.

Every connection owns an endless, seeded stream of operations. The
server only ever sees SQL text and ingest payloads: keys, statement
order and ingest rows are all drawn here, from `random.Random` seeded
with (workload seed, connection index, stream salt). The traced replay
consumes the same stream, written out as JSON lines.

Each connection belongs to one of two classes, `main` or `side`:

  pg_short        main: 2 PG conns, simple protocol, short mix
                  side: 2 PG conns, named prepared statements, same mix
  pg_analytic     main: 2 PG conns, TPC-H statements + one wide result
                  side: 1 PG conn, the short mix (does heavy work starve it?)
  ch_ingest_read  main: 2 CH conns, aggregates + LIMIT export over the table
                  side: 2 CH conns, 1,000-row INSERT ... FORMAT CSV/JSONEachRow,
                        each paced to one batch per INGEST_PERIOD_S

An operation is a dict: `proto` (simple | prepared | ch_read | ch_ingest),
`kind`, and either `steps` (PG: [(template, params)]), `sql`/`format`
(CH read) or `table`/`format`/`payload`/`due` (CH ingest; `due` is the
earliest start, in seconds from the window's start).
"""
import json
import random

WORKLOADS = ("pg_short", "pg_analytic", "ch_ingest_read")

# psql 16's \dt and \d <table> (captured with `psql -E`); JDBC's
# getTables shape and connect probes. `@oid@` is the oid that the first
# \d statement returns, filled in by whoever runs the operation.
PSQL_DT = """SELECT n.nspname as "Schema",
  c.relname as "Name",
  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
WHERE c.relkind IN ('r','p','')
      AND n.nspname <> 'pg_catalog'
      AND n.nspname !~ '^pg_toast'
      AND n.nspname <> 'information_schema'
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 1,2"""

PSQL_D1 = """SELECT c.oid,
  n.nspname,
  c.relname
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
WHERE c.relname OPERATOR(pg_catalog.~) $1 COLLATE pg_catalog.default
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 2, 3"""

PSQL_D2 = """SELECT c.relchecks, c.relkind, c.relhasindex, c.relhasrules, c.relhastriggers, c.relrowsecurity, c.relforcerowsecurity, false AS relhasoids, c.relispartition, '', c.reltablespace, CASE WHEN c.reloftype = 0 THEN '' ELSE c.reloftype::pg_catalog.regtype::pg_catalog.text END, c.relpersistence, c.relreplident, am.amname
FROM pg_catalog.pg_class c
 LEFT JOIN pg_catalog.pg_class tc ON (c.reltoastrelid = tc.oid)
LEFT JOIN pg_catalog.pg_am am ON (c.relam = am.oid)
WHERE c.oid = $1"""

PSQL_D3 = """SELECT a.attname,
  pg_catalog.format_type(a.atttypid, a.atttypmod),
  (SELECT pg_catalog.pg_get_expr(d.adbin, d.adrelid, true)
   FROM pg_catalog.pg_attrdef d
   WHERE d.adrelid = a.attrelid AND d.adnum = a.attnum AND a.atthasdef),
  a.attnotnull,
  (SELECT c.collname FROM pg_catalog.pg_collation c, pg_catalog.pg_type t
   WHERE c.oid = a.attcollation AND t.oid = a.atttypid AND a.attcollation <> t.typcollation) AS attcollation,
  a.attidentity,
  a.attgenerated
FROM pg_catalog.pg_attribute a
WHERE a.attrelid = $1 AND a.attnum > 0 AND NOT a.attisdropped
ORDER BY a.attnum"""

JDBC_TABLES = """SELECT NULL AS TABLE_CAT, n.nspname AS TABLE_SCHEM, c.relname AS TABLE_NAME, CASE c.relkind WHEN 'r' THEN 'TABLE' WHEN 'v' THEN 'VIEW' ELSE NULL END AS TABLE_TYPE FROM pg_catalog.pg_namespace n, pg_catalog.pg_class c WHERE c.relnamespace = n.oid AND c.relname LIKE $1 ORDER BY TABLE_TYPE, TABLE_SCHEM, TABLE_NAME"""

# name -> SQL with $n parameters. Statements without parameters are
# still prepared on the prepared-protocol connections, as JDBC does.
TEMPLATES = {
    "select1": "SELECT 1",
    "version": "SELECT version()",
    "setting": "SELECT current_setting('server_version')",
    "schema": "SELECT current_schema()",
    "psql_dt": PSQL_DT,
    "psql_d1": PSQL_D1,
    "psql_d2": PSQL_D2,
    "psql_d3": PSQL_D3,
    "jdbc_tables": JDBC_TABLES,
    "point_order": "SELECT * FROM orders WHERE o_orderkey = $1",
    "point_customer":
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = $1",
    "lines_of_order":
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        "WHERE l_orderkey = $1 ORDER BY l_linenumber, l_extendedprice LIMIT 10",
    "orders_of_customer":
        "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders WHERE o_custkey = $1 "
        "ORDER BY o_orderkey LIMIT 5",
    "status_of_customer":
        "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders "
        "WHERE o_custkey = $1 GROUP BY o_orderstatus",
}

# Catalog SQL always travels over the simple protocol, as psql sends
# it: the server rejects pg_catalog SQL at Parse time (the extended
# protocol's analyzeOnly skips the catalog emulation).
SIMPLE_ONLY = {"psql_dt", "psql_d1", "psql_d2", "psql_d3", "jdbc_tables"}

# Statement kinds whose results are data (checked against DuckDB) rather
# than catalog emulation or session probes (checked by shape).
DATA_TEMPLATES = {"point_order", "point_customer", "lines_of_order",
                  "orders_of_customer", "status_of_customer"}

DESCRIBED_TABLES = ["lineitem", "orders", "customer", "part", "supplier", "nation"]

# One round of the short mix; each connection walks seeded shuffles of it.
SHORT_ROUND = ["select1", "version", "setting", "schema",
               "psql_dt", "psql_d", "jdbc_tables",
               "point_order", "point_order", "point_customer", "point_customer",
               "lines_of_order", "lines_of_order", "orders_of_customer",
               "orders_of_customer", "status_of_customer", "status_of_customer"]

# TPC-H statements from SparkEntry.oracleSql, plus one wide result.
HEAVY_NAMES = ["q1_pricing_summary", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6",
               "q_tpch_q10", "q_tpch_q12", "q_tpch_q18"]
WIDE_SQL = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
            "o_orderpriority FROM orders WHERE o_orderdate >= TIMESTAMP '2000-06-01'")

# the two heavy connections' shares, about 6 s of statements each
HEAVY_SHARES = [["q1_pricing_summary", "q_tpch_q5", "q_tpch_q12", "q_tpch_q6"],
                ["q_tpch_q18", "q_tpch_q10", "q_tpch_q3", "wide_orders"]]
HEAVY_CONNS = len(HEAVY_SHARES)
WARM_SALT = 1

INGEST_DDL = "CREATE TABLE {t} (id BIGINT, k INT, v DOUBLE, s STRING, ts TIMESTAMP)"
INGEST_COLUMNS = ["id", "k", "v", "s", "ts"]
INGEST_BATCH = 1000
# Each writer sends one batch per period, the two half a period apart,
# and falls back to closed loop when a batch takes longer. The reads
# then meet the same number of files at the same point of every window,
# whatever the host's speed, instead of as many as the writers squeezed
# in; and the writers rarely queue on each other's append lock.
INGEST_PERIOD_S = 1.0
CH_READS = [
    ("SELECT count(*) AS n, sum(id) AS sid, sum(k) AS sk FROM {t}", "TabSeparated"),
    ("SELECT k, count(*) AS n, sum(v) AS sv FROM {t} GROUP BY k", "JSONEachRow"),
    ("SELECT s, count(*) AS n, max(ts) AS mt, min(v) AS mv FROM {t} GROUP BY s", "TabSeparated"),
    ("SELECT id, k, v, s, ts FROM {t} ORDER BY id LIMIT 5000", "JSONEachRow"),
]
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
         "india", "juliet", "kilo", "lima"]


def layout(workload):
    """[(class, proto)] per connection, in connection order."""
    if workload == "pg_short":
        return [("main", "simple")] * 2 + [("side", "prepared")] * 2
    if workload == "pg_analytic":
        return [("main", "simple")] * HEAVY_CONNS + [("side", "simple")]
    if workload == "ch_ingest_read":
        return [("main", "ch_read")] * 2 + [("side", "ch_ingest")] * 2
    raise ValueError("unknown workload %r" % workload)


def render_param(v):
    """Literal splice the server applies to $n parameters: integers and
    decimals bare, everything else quoted."""
    s = str(v)
    if s.lstrip("+-").isdigit() and len(s) < 19:
        return s
    return "'" + s.replace("'", "''") + "'"


def splice(template, params):
    sql = template
    for i in range(len(params), 0, -1):  # $10 before $1
        sql = sql.replace("$%d" % i, render_param(params[i - 1]))
    return sql


class Streams:
    """Endless per-connection operation streams for one workload."""

    def __init__(self, workload, seed, sizes, heavy_sql, table="bench_ingest", salt=0):
        self.workload = workload
        self.seed = seed
        self.sizes = sizes  # row counts of the fixture tables
        self.heavy_sql = heavy_sql  # name -> SQL
        self.table = table
        self.salt = salt
        self.layout = layout(workload)

    def ops(self, conn):
        cls, proto = self.layout[conn]
        rng = random.Random("%s/%d/%d/%d" % (self.workload, self.seed, conn, self.salt))
        if proto in ("simple", "prepared") and not (
                self.workload == "pg_analytic" and cls == "main"):
            gen = self._short(rng, proto)
        elif proto == "simple":
            gen = self._heavy(rng, conn)
        elif proto == "ch_read":
            gen = self._ch_reads(rng)
        else:
            gen = self._ch_ingest(rng, conn)
        for n, op in enumerate(gen):
            op.update(conn=conn, cls=cls, seq=n)
            yield op

    # -- generators ---------------------------------------------------------

    def _short(self, rng, proto):
        while True:
            kinds = SHORT_ROUND[:]
            rng.shuffle(kinds)
            for kind in kinds:
                yield {"proto": proto, "kind": kind, "steps": self._short_steps(rng, kind)}

    def _short_steps(self, rng, kind):
        s = self.sizes
        if kind == "psql_d":
            t = rng.choice(DESCRIBED_TABLES)
            return [("psql_d1", ["^(%s)$" % t]), ("psql_d2", ["@oid@"]),
                    ("psql_d3", ["@oid@"])]
        if kind == "jdbc_tables":
            return [(kind, [rng.choice(DESCRIBED_TABLES)])]
        if kind in ("point_order", "lines_of_order"):
            return [(kind, [rng.randrange(s["orders"])])]
        if kind in ("point_customer", "orders_of_customer", "status_of_customer"):
            return [(kind, [rng.randrange(s["customer"])])]
        return [(kind, [])]

    def _heavy(self, rng, conn):
        # each heavy connection loops over its own share of the
        # statements (HEAVY_SHARES, balanced by cost), so a 10 s window
        # sees every statement at least once
        names = HEAVY_SHARES[conn]
        while True:
            order = names[:]
            rng.shuffle(order)
            for name in order:
                sql = WIDE_SQL if name == "wide_orders" else self.heavy_sql[name]
                yield {"proto": "simple", "kind": name, "steps": [("sql:" + name, [])],
                       "sql": sql}

    def _ch_reads(self, rng):
        while True:
            order = list(range(len(CH_READS)))
            rng.shuffle(order)
            for i in order:
                sql, fmt = CH_READS[i]
                yield {"proto": "ch_read", "kind": "ch_read%d" % i,
                       "sql": sql.format(t=self.table), "format": fmt}

    def _ch_ingest(self, rng, conn):
        batch = 0
        while True:
            fmt = ["CSV", "JSONEachRow"][(batch + conn) % 2]
            base = ((self.salt * 16 + conn) << 32) + batch * INGEST_BATCH
            rows = []
            for i in range(INGEST_BATCH):
                rows.append((base + i, rng.randrange(100), rng.randrange(1_000_000) / 100.0,
                             rng.choice(WORDS),
                             "2024-%02d-%02d %02d:%02d:%02d" % (
                                 1 + rng.randrange(12), 1 + rng.randrange(28),
                                 rng.randrange(24), rng.randrange(60), rng.randrange(60))))
            yield {"proto": "ch_ingest", "kind": "ingest_" + fmt.lower(), "table": self.table,
                   "format": fmt, "payload": encode_rows(rows, fmt), "rows": rows,
                   "due": (batch + (conn % 2) / 2.0) * INGEST_PERIOD_S}
            batch += 1


def encode_rows(rows, fmt):
    if fmt == "CSV":
        return "".join("%d,%d,%r,%s,%s\n" % r for r in rows)
    return "".join(json.dumps(dict(zip(INGEST_COLUMNS, r)), separators=(",", ":")) + "\n"
                   for r in rows)

