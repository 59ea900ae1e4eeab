"""Deterministic fixture tables for the benchmark, written with DuckDB.

The schema matches the fixture the server bootstraps from (FIXTURES.md):
region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings, one parquet file each. Every value is a pure
function of its row number and a fixed salt (DuckDB's `hash`), so the
same scale factor always yields byte-for-byte the same data and the
workload seed only steers which keys and statements are sent.

Usage: python3 perfbench/datagen.py <scale-factor> <out-dir>
"""
import os
import sys

import duckdb

def _u(expr_salt, n):
    """Uniform integer in [0, n) from row number `i` and a salt."""
    return f"(hash(i, {expr_salt}) % {n})"


def sizes(sf):
    """Row counts per table at scale factor sf."""
    orders = max(1_500, int(1_500_000 * sf))
    return {"customer": max(150, int(150_000 * sf)), "supplier": max(10, int(10_000 * sf)),
            "part": max(200, int(200_000 * sf)), "orders": orders, "lineitem": 4 * orders,
            "events": max(1_000, int(1_000_000 * sf)), "documents": max(500, int(50_000 * sf)),
            "embeddings": max(500, int(20_000 * sf))}


def table_sql(sf):
    n = sizes(sf)
    n_cust, n_supp, n_part, n_ord = n["customer"], n["supplier"], n["part"], n["orders"]
    n_line, n_ev, n_doc, n_emb = n["lineitem"], n["events"], n["documents"], n["embeddings"]

    def pick(salt, values):
        arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
        return f"{arr}[1 + {_u(salt, len(values))}::INTEGER]"

    words = ["a", "batch", "big", "column", "data", "fast", "filter", "group",
             "hash", "key", "line", "merge", "order", "part", "query", "row",
             "scan", "slow", "small", "sort", "spark", "stream", "table",
             "value", "window"]
    word_arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            {_u(1, 25)}::INTEGER AS c_nationkey,
            round({_u(2, 1_099_980)} / 100.0 - 999.99, 2)::DOUBLE AS c_acctbal,
            {pick(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            {_u(4, 25)}::INTEGER AS s_nationkey,
            round({_u(5, 1_099_980)} / 100.0 - 999.99, 2)::DOUBLE AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {pick(6, ['hot', 'large', 'small', 'shiny', 'matte', 'pale', 'dark', 'light'])}
              || ' ' || {pick(7, ['bolt', 'ring', 'nut', 'gear', 'pipe', 'screw', 'valve', 'rod'])} AS p_name,
            'Brand#' || (1 + {_u(8, 25)}) AS p_brand,
            {pick(9, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type,
            (1 + {_u(10, 50)})::INTEGER AS p_size,
            round(900 + (i % 1000) / 10.0, 1)::DOUBLE AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, {_u(11, n_cust)}::BIGINT AS o_custkey,
            {pick(12, ['F', 'O', 'P'])} AS o_orderstatus,
            round(1000 + {_u(13, 49_900_000)} / 100.0, 2)::DOUBLE AS o_totalprice,
            (TIMESTAMP '1995-01-01' + to_days({_u(14, 2404)}::INTEGER)) AS o_orderdate,
            {pick(15, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT {_u(16, n_ord)}::BIGINT AS l_orderkey,
            {_u(17, n_part)}::BIGINT AS l_partkey, {_u(18, n_supp)}::BIGINT AS l_suppkey,
            (1 + {_u(19, 7)})::INTEGER AS l_linenumber,
            (1 + {_u(20, 50)})::DOUBLE AS l_quantity,
            round(900 + {_u(21, 10_410_000)} / 100.0, 2)::DOUBLE AS l_extendedprice,
            ({_u(22, 11)} / 100.0)::DOUBLE AS l_discount,
            ({_u(23, 9)} / 100.0)::DOUBLE AS l_tax,
            {pick(24, ['A', 'N', 'R'])} AS l_returnflag,
            {pick(25, ['F', 'O'])} AS l_linestatus,
            (TIMESTAMP '1995-01-02' + to_days({_u(26, 2498)}::INTEGER)) AS l_shipdate
            FROM range({n_line}) t(i)""",
        "events": f"""SELECT i AS event_id,
            (TIMESTAMP '2024-01-01' + to_microseconds({_u(27, 30 * 86_400_000_000)}::BIGINT)) AS ts,
            {_u(28, 1500)}::BIGINT AS user_id,
            {pick(29, ['click', 'error', 'purchase', 'signup', 'view'])} AS event_type,
            round({_u(30, 56_022)} / 100.0, 2)::DOUBLE AS value,
            '{{"k": ' || {_u(31, 100)} || '}}' AS props
            FROM range({n_ev}) t(i)""",
        "documents": f"""SELECT i AS doc_id, txt AS text,
            {pick(32, ['de', 'en', 'en', 'es', 'fr', 'zh'])} AS lang,
            'src' || (i % 20) AS source, length(txt)::BIGINT AS n_chars
            FROM (SELECT i, array_to_string(list_transform(range(5 + {_u(33, 50)}::INTEGER),
                    j -> {word_arr}[1 + (hash(i, j, 34) % {len(words)})::INTEGER]), ' ') AS txt
                  FROM range({n_doc}) t(i))""",
        "embeddings": f"""SELECT i AS vec_id,
            list_transform(range(64), j -> ((hash(i, j, 35) % 6000)::DOUBLE / 10000 - 0.3)::FLOAT) AS embedding,
            {_u(36, 10)}::INTEGER AS label
            FROM range({n_emb}) t(i)""",
    }


def generate(sf, out_dir):
    """Write every table under out_dir (atomically: a temp dir renamed
    into place), unless a complete copy is already there."""
    if os.path.exists(os.path.join(out_dir, "_complete")):
        return out_dir
    tmp = out_dir + ".tmp%d" % os.getpid()
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, sql in table_sql(sf).items():
        path = os.path.join(tmp, name + ".parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, ROW_GROUP_SIZE 1000000)")
    con.close()
    open(os.path.join(tmp, "_complete"), "w").close()
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    try:
        os.rename(tmp, out_dir)
    except OSError:  # a concurrent generator won the rename
        import shutil
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


if __name__ == "__main__":
    generate(float(sys.argv[1]), sys.argv[2])
