#!/bin/bash
# End-to-end server battery: drives the live graft server through psql +
# curl + the raw-socket extended-protocol probe. Start the server first:
#   sbt 'runMain graft.server.ServerMain 5433 8124 /root/testdata/sf0.001'
# or (faster, bare JVM with the required JDK-17 module opens):
#   bash tools/run_server.sh 5433 8124 /root/testdata/sf0.001
# Auth defaults ON (like the reference): loopback psql is trusted, the
# CH HTTP endpoint requires credentials, remote PG requires SCRAM.
# Usage: bash tools/server_smoke.sh [pg_port] [ch_port]
set -u
PG=${1:-5433}
CH=${2:-8124}
P="-h 127.0.0.1 -p $PG -U smoke -d main"
pass=0; fail=0
ok()  { pass=$((pass+1)); echo "PASS $1"; }
bad() { fail=$((fail+1)); echo "FAIL $1"; }

chk() { # name, expected, actual
  if [ "$2" = "$3" ]; then ok "$1"; else bad "$1 (expected [$2] got [$3])"; fi
}

chk "pg select"       "1"        "$(psql $P -tA -c 'select 1' 2>&1)"
chk "pg agg"          "25"       "$(psql $P -tA -c 'select count(*) from nation' 2>&1)"
chk "pg types"        "t|1.50|{1,2,3}" "$(psql $P -tA -c "select true, 1.50::decimal(5,2), array(1,2,3)" 2>&1)"
# DATE decode needs java.base/sun.util.calendar opened (run_server.sh)
chk "pg date"         "2024-02-05|2024-02-29" "$(psql $P -tA -c "select date '2024-02-05', last_day(date '2024-02-05')" 2>&1)"
chk "pg multi-stmt"   "1
2" "$(psql $P -tA -c 'select 1; select 2' 2>&1)"
psql $P -c "drop table if exists main.smoke" >/dev/null 2>&1
chk "pg create"       "CREATE"   "$(psql $P -c 'create table main.smoke (a bigint, b string) using parquet' 2>&1 | head -1)"
chk "pg insert tag"   "INSERT 0 2" "$(psql $P -c "insert into main.smoke values (1,'x'),(2,'y')" 2>&1 | head -1)"
chk "pg update tag"   "UPDATE 1" "$(psql $P -c "update main.smoke set b='u' where a=1" 2>&1 | head -1)"
chk "pg delete tag"   "DELETE 1" "$(psql $P -c "delete from main.smoke where a=2" 2>&1 | head -1)"
chk "pg copy stdin"   "COPY 2"   "$(printf '5,p\n6,\\N\n' | psql $P -c 'copy main.smoke from stdin with csv' 2>&1 | head -1)"
# column-list COPY: reversed order (b,a) + a multi-byte char split across
# two CopyData chunks (psql sends per-line messages; the ü row exercises
# the decode-once path end-to-end)
chk "pg copy collist" "COPY 1"   "$(printf 'zää,9\n' | psql $P -c 'copy main.smoke (b,a) from stdin with csv' 2>&1 | head -1)"
chk "pg collist val"  "9|zää"    "$(psql $P -tA -c 'select a, b from main.smoke where a=9' 2>&1)"
chk "pg rows"         "4"        "$(psql $P -tA -c 'select count(*) from main.smoke' 2>&1)"
chk "pg describe q"   "n_name|VARCHAR|YES" "$(psql $P -tA -c 'describe select n_name from nation' 2>&1)"
chk "pg info_schema"  "smoke"    "$(psql $P -tA -c "select table_name from information_schema.tables where table_name='smoke'" 2>&1)"
chk "pg err recovers" "7"        "$(printf 'selectt 1;\nselect 7;\n' | psql $P -tA 2>/dev/null | tail -1)"

# -- auth + hardening (reference main.go:21 defaults auth on) -----------------
chk "pg create user"  "CREATE ROLE" "$(psql $P -c "create user smoke with password 'smokepw'" 2>&1 | head -1)"
chk "ch no-auth 401"  "unauthorized" "$(curl -s "http://127.0.0.1:$CH/?query=SELECT%201")"
chk "ch basic auth"   "1"        "$(curl -s -u smoke:smokepw "http://127.0.0.1:$CH/?query=SELECT%201")"
chk "ch bad password" "unauthorized" "$(curl -s -u smoke:wrong "http://127.0.0.1:$CH/?query=SELECT%201")"
chk "pg copy file denied" "denied" "$(psql $P -c "copy (select 1) to '/tmp/smoke_denied.csv'" 2>&1 | grep -q 'allow-file-io' && echo denied)"
# SCRAM over a non-loopback interface (the loopback-trust path must NOT
# apply): correct password authenticates, wrong one is refused
IP=$(hostname -I 2>/dev/null | awk '{print $1}')
if [ -n "$IP" ] && [ "$IP" != "127.0.0.1" ]; then
  chk "pg scram ok"   "1"  "$(PGPASSWORD=smokepw psql -h "$IP" -p $PG -U smoke -d main -tA -c 'select 1' 2>&1)"
  chk "pg scram bad"  "no" "$(PGPASSWORD=wrongpw psql -h "$IP" -p $PG -U smoke -d main -tA -c 'select 1' >/dev/null 2>&1 && echo yes || echo no)"
else
  echo "SKIP pg scram (no non-loopback interface)"
fi

CURL="curl -s -u smoke:smokepw"
chk "ch select"       "1"        "$($CURL "http://127.0.0.1:$CH/?query=SELECT%201")"
chk "ch version"      "23.3.1.2823" "$($CURL "http://127.0.0.1:$CH/?query=SELECT%20version()")"
chk "ch jsoneachrow"  '{"n":0}'  "$($CURL "http://127.0.0.1:$CH/" -d 'SELECT n_nationkey AS n FROM nation ORDER BY n LIMIT 1 FORMAT JSONEachRow')"
chk "ch limit n,m"    "NATION_2" "$($CURL "http://127.0.0.1:$CH/" -d 'SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 2,1')"
# CH-side rewrites (version(), LIMIT n,m) touch code only: a literal
# holding version() or a newline reaches the engine byte-for-byte
chk "ch literal intact" 'version()|a\nb' "$($CURL "http://127.0.0.1:$CH/" --data-binary $'SELECT \'version()\' AS v, \'a\nb\' AS s' | tr '\t' '|')"
$CURL "http://127.0.0.1:$CH/" -d 'CREATE TABLE main.smoke2 (x BIGINT) USING parquet' >/dev/null
chk "ch insert fmt"   "Ok."      "$(printf 'INSERT INTO smoke2 FORMAT TabSeparated\n10\n11\n' | $CURL "http://127.0.0.1:$CH/" --data-binary @-)"
chk "ch readback"     "10
11" "$($CURL "http://127.0.0.1:$CH/?query=SELECT%20x%20FROM%20smoke2%20ORDER%20BY%20x")"
# the statement's kind reads past comments and brackets: each of these
# returns rows, and a commented INSERT…FORMAT head still ingests
chk "ch comment select" "1"      "$($CURL "http://127.0.0.1:$CH/" -d '/* c */ SELECT 1')"
chk "ch bracket select" "1"      "$($CURL "http://127.0.0.1:$CH/" -d '(SELECT 1)')"
chk "ch from-first"   "10
11" "$($CURL "http://127.0.0.1:$CH/" -d 'FROM smoke2 SELECT x ORDER BY x')"
chk "ch summarize"    "x|BIGINT" "$($CURL "http://127.0.0.1:$CH/" -d 'SUMMARIZE smoke2' | head -1 | cut -f1,2 | tr '\t' '|')"
$CURL "http://127.0.0.1:$CH/" -d 'CREATE TABLE main.smokecm (x BIGINT) USING parquet' >/dev/null
printf -- '-- c\nINSERT INTO smokecm FORMAT CSV\n12\n13\n' | $CURL "http://127.0.0.1:$CH/" --data-binary @- >/dev/null
chk "ch comment insert fmt" "2|25" "$($CURL "http://127.0.0.1:$CH/" -d 'SELECT count(*), sum(x) FROM smokecm' | tr '\t' '|')"
$CURL "http://127.0.0.1:$CH/" -d 'DROP TABLE main.smokecm' >/dev/null
# gzip both directions (clickhouse-jdbc compress=true; beyond-reference)
chk "ch gzip resp"    "25"       "$($CURL -H 'Accept-Encoding: gzip' "http://127.0.0.1:$CH/?query=SELECT%20count(*)%20FROM%20nation" --compressed)"
$CURL "http://127.0.0.1:$CH/" -d 'CREATE TABLE main.smokegz (x BIGINT) USING parquet' >/dev/null
printf 'INSERT INTO smokegz FORMAT TabSeparated\n42\n' | gzip | $CURL -H 'Content-Encoding: gzip' "http://127.0.0.1:$CH/" --data-binary @- >/dev/null
chk "ch gzip insert"  "42"       "$($CURL "http://127.0.0.1:$CH/?query=SELECT%20x%20FROM%20smokegz")"
$CURL "http://127.0.0.1:$CH/" -d 'DROP TABLE main.smokegz' >/dev/null
# round-trip a literal backslash-t through TSV (round-2 unescape bug)
$CURL "http://127.0.0.1:$CH/" -d 'CREATE TABLE main.smoke3 (s STRING) USING parquet' >/dev/null
printf 'INSERT INTO smoke3 FORMAT TabSeparated\na\\\\tb\n' | $CURL "http://127.0.0.1:$CH/" --data-binary @- >/dev/null
# stored value is literal a\tb (4 chars); the wire re-escapes the
# backslash → a\\tb. (The round-2 bug decoded \\t to TAB, yielding a\\\tb.)
chk "ch tsv esc rt"   'a\\tb'    "$($CURL "http://127.0.0.1:$CH/?query=SELECT%20s%20FROM%20smoke3")"
$CURL "http://127.0.0.1:$CH/" -d 'DROP TABLE main.smoke3' >/dev/null
# system.* catalog emulation (reference pg_server.go:41-68)
chk "ch sys dbs"      "main"     "$($CURL "http://127.0.0.1:$CH/" -d "SELECT name FROM system.databases WHERE name='main'")"
chk "ch sys tables"   "smoke2"   "$($CURL "http://127.0.0.1:$CH/" -d "SELECT name FROM system.tables WHERE name='smoke2'")"
chk "ch sys columns"  "x"        "$($CURL "http://127.0.0.1:$CH/" -d "SELECT name FROM system.columns WHERE \`table\`='smoke2'")"
# catalog rows drain with one collect (no Spark job), plain and gzip
chk "ch sys tables json" '{"name":"smoke2","database":"main"}' "$($CURL "http://127.0.0.1:$CH/" -d "SELECT name, database FROM system.tables WHERE name='smoke2' FORMAT JSONEachRow")"
chk "ch sys tables json gzip" '{"name":"smoke2","database":"main"}' "$($CURL -H 'Accept-Encoding: gzip' --compressed "http://127.0.0.1:$CH/" -d "SELECT name, database FROM system.tables WHERE name='smoke2' FORMAT JSONEachRow")"
chk "ch sys functions" "1"       "$($CURL "http://127.0.0.1:$CH/" -d "SELECT count(*)>0 FROM system.functions WHERE name='sum'" | head -1)"
chk "pg pg_proc"      "t"        "$(psql $P -tA -c "select count(*)>0 from pg_proc where proname='avg'" 2>&1)"
chk "pg ccu view"     "0"        "$(psql $P -tA -c "select count(*) from information_schema.constraint_column_usage" 2>&1)"
# pg_attribute: \d <table> column listing; \d+ adds storage + viewdef
chk "psql \\d cols"   "yes"      "$(psql $P -c '\d smoke2' 2>&1 | grep -q ' x ' && echo yes)"
chk "psql \\d+ table" "yes"      "$(psql $P -c '\d+ smoke2' 2>&1 | grep -q 'plain' && echo yes)"
chk "psql \\d+ view"  "yes"      "$(psql $P -c '\d+ nation' 2>&1 | grep -q 'View definition' && echo yes)"
chk "psql \\l"        "yes"      "$(psql $P -c '\l' 2>&1 | grep -q ' main ' && echo yes)"
chk "psql \\du"       "yes"      "$(psql $P -c '\du' 2>&1 | grep -q ' smoke ' && echo yes)"
chk "pg star replace" "0|nation_0" "$(psql $P -tA -c "select * replace (lower(n_name) as n_name) from nation order by n_nationkey limit 1" 2>&1 | head -1 | cut -d'|' -f1,2)"
chk "pg ordered agg"  "AFRICA,AMERICA" "$(psql $P -tA -c "select string_agg(r_name, ',' order by r_name) from (select r_name from region order by r_name limit 2) t" 2>&1)"
chk "pg semi join kw" "5"        "$(psql $P -tA -c "select count(*) from region semi join nation on r_regionkey = n_regionkey" 2>&1)"
# INSERT … ON CONFLICT through the wire
psql $P -c "drop table if exists main.oc_smoke" >/dev/null 2>&1
psql $P -c "create table main.oc_smoke (k int primary key, v string) using parquet" >/dev/null 2>&1
psql $P -c "insert into main.oc_smoke values (1,'a'),(2,'b')" >/dev/null 2>&1
chk "pg on conflict"  "INSERT 0 2" "$(psql $P -c "insert into main.oc_smoke values (2,'B'),(3,'c') on conflict (k) do update set v = excluded.v" 2>&1 | head -1)"
chk "pg oc result"    "a,B,c"    "$(psql $P -tA -c "select string_agg(v, ',' order by k) from main.oc_smoke" 2>&1)"
psql $P -c "drop table main.oc_smoke" >/dev/null 2>&1
# sequences through the wire
psql $P -c "drop sequence if exists main.sq_smoke" >/dev/null 2>&1
psql $P -c "create sequence main.sq_smoke start with 100" >/dev/null 2>&1
chk "pg sequence"     "100|101"  "$(psql $P -tA -c "select nextval('main.sq_smoke') as a, nextval('main.sq_smoke') as b" 2>&1)"
chk "pg currval"      "101"      "$(psql $P -tA -c "select currval('main.sq_smoke')" 2>&1)"
psql $P -c "drop sequence main.sq_smoke" >/dev/null 2>&1
# staged-overlay transactions: rollback really undoes, commit publishes,
# and a statement error aborts the block until ROLLBACK (PG semantics)
psql $P -c "drop table if exists main.txn_smoke" >/dev/null 2>&1
psql $P -c "create table main.txn_smoke (a bigint) using parquet" >/dev/null 2>&1
psql $P -c "insert into main.txn_smoke values (1)" >/dev/null 2>&1
chk "pg txn rollback" "1"        "$(psql $P -tA -c "begin" -c "insert into main.txn_smoke values (2)" -c "update main.txn_smoke set a = 99 where a = 1" -c "rollback" -c "select string_agg(a::varchar, ',' order by a) from main.txn_smoke" 2>&1 | tail -1)"
chk "pg txn commit"   "1,2"      "$(psql $P -tA -c "begin" -c "insert into main.txn_smoke values (2)" -c "commit" -c "select string_agg(a::varchar, ',' order by a) from main.txn_smoke" 2>&1 | tail -1)"
chk "pg txn ryw"      "1,2,3"    "$(psql $P -tA -c "begin" -c "insert into main.txn_smoke values (3)" -c "select string_agg(a::varchar, ',' order by a) from main.txn_smoke" -c "rollback" 2>&1 | grep -v 'BEGIN\|INSERT\|ROLLBACK' | head -1)"
# a RUNTIME error aborts the block; a binder error (missing table) does
# NOT — DuckDB semantics, the reference's engine (r10)
chk "pg txn abort"    "aborted"  "$(psql $P -tA -c "begin" -c "select cast('x' as int)" -c "select 1" -c "rollback" 2>&1 | grep -o 'aborted' | head -1)"
chk "pg txn binder-err keeps block" "1" "$(psql $P -tA -c "begin" -c "select * from main.txn_smoke_missing" -c "select 1" -c "rollback" 2>&1 | grep -x '1' | head -1)"
psql $P -c "drop table main.txn_smoke" >/dev/null 2>&1
# DuckDB statement forms: SUMMARIZE and FROM-first
chk "pg summarize"    "r_regionkey|INTEGER" "$(psql $P -tA -c "summarize region" 2>&1 | head -1 | cut -d'|' -f1,2)"
chk "pg from-first"   "5"        "$(psql $P -tA -c "from region select count(*)" 2>&1)"
chk "pg from-where"   "yes"      "$(test "$(psql $P -tA -c 'from nation where n_regionkey = 0' 2>&1 | wc -l)" -gt 0 && echo yes)"
# dialect constructs Spark's parser rejects — the r5 structural rewrites
chk "pg qualify"      "0|0"      "$(psql $P -tA -c "select n_regionkey, n_nationkey from nation qualify row_number() over (partition by n_regionkey order by n_nationkey) = 1 order by n_regionkey limit 1" 2>&1)"
chk "pg distinct on"  "0|0"      "$(psql $P -tA -c "select distinct on (n_regionkey) n_regionkey, n_nationkey from nation order by n_regionkey, n_nationkey limit 1" 2>&1)"
chk "pg similar to"   "5"        "$(psql $P -tA -c "select count(*) from region where r_name similar to '[A-Z ]+'" 2>&1)"
chk "pg union by name" "26"      "$(psql $P -tA -c "select n_name as a from nation union all by name select 1 as b, 'x' as a" 2>&1 | wc -l)"
# per-connection TEMP namespace (r14): two concurrent psql sessions
# create/query/drop the SAME temp view name independently — the
# reference gets this from one DuckDB conn per PG connection
# (pg_conn.go:51). Each psql invocation is its own connection; a
# multi-statement invocation keeps one connection for all -c flags.
chk "pg temp view conn A" "1" "$(psql $P -tA -c "create temp view tns_smoke as select 1 as x" -c "select x from tns_smoke" 2>&1 | tail -1)"
chk "pg temp view conn B" "2" "$(psql $P -tA -c "create temp view tns_smoke as select 2 as x" -c "select x from tns_smoke" 2>&1 | tail -1)"
# conn C: the name is free again (A's and B's views died with their conns)
chk "pg temp view gone"   "free" "$(psql $P -tA -c "select x from tns_smoke" 2>&1 | grep -q 'tns_smoke' && echo free)"
# temp TABLE: private, writable, dropped at disconnect
chk "pg temp table"       "7"  "$(psql $P -tA -c "create temp table tns_tsmoke (a int)" -c "insert into tns_tsmoke values (7)" -c "select a from tns_tsmoke" 2>&1 | tail -1)"
chk "pg temp tbl gone"    "free" "$(psql $P -tA -c "select a from tns_tsmoke" 2>&1 | grep -q 'tns_tsmoke' && echo free)"
# same name in two LIVE sessions via interleaved single-conn batches:
# A creates+reads while B holds a different value in the same name
chk "pg temp shadow"      "real" "$(psql $P -tA -c "drop table if exists main.tns_sh" -c "create table main.tns_sh as select 'real' as v" -c "create temp view tns_sh as select 'temp' as v" -c "drop view tns_sh" -c "select v from tns_sh" 2>&1 | tail -1)"
psql $P -c "drop table if exists main.tns_sh" >/dev/null 2>&1
$CURL "http://127.0.0.1:$CH/" -d 'DROP TABLE main.smoke2' >/dev/null
psql $P -c "drop table main.smoke" >/dev/null 2>&1

# clickhouse-jdbc-shaped request: query in POST body with an explicit
# FORMAT clause; the names+types header pair is what the driver parses
chk "ch jdbc-style TSVWithNamesAndTypes" "x;Int32;1" "$($CURL "http://127.0.0.1:$CH/" -d 'SELECT 1 AS x FORMAT TabSeparatedWithNamesAndTypes' | paste -sd';' -)"

# DESCRIBE <table> in DuckDB shape + current_setting shim (r15b)
chk "pg describe table" "n_nationkey|INTEGER|YES" "$(psql $P -tA -F'|' -c 'describe nation' 2>&1 | head -1)"
chk "pg current_setting" "main" "$(psql $P -tA -c "select current_setting('search_path')" 2>&1)"

# INSERT OR IGNORE/REPLACE + CREATE [UNIQUE] INDEX (r15b)
psql $P -c "drop table if exists main.ins_smoke" >/dev/null 2>&1
chk "pg insert or replace" "1|B" "$(psql $P -tA -F'|' -c 'create table main.ins_smoke (id int primary key, v string)' -c "insert into ins_smoke values (1, 'a')" -c "insert or replace into ins_smoke values (1, 'B')" -c 'select * from ins_smoke' 2>&1 | tail -1)"
chk "pg unique index" "blocked" "$(psql $P -c 'create unique index ins_smoke_uq on main.ins_smoke (v)' >/dev/null 2>&1; psql $P -c "insert into ins_smoke values (2, 'B')" 2>&1 | grep -q 'unique' && echo blocked)"
psql $P -c 'drop index ins_smoke_uq' >/dev/null 2>&1
psql $P -c "drop table main.ins_smoke" >/dev/null 2>&1

# DuckDB introspection TVFs (r15b)
chk "pg duckdb_tables" "nation_raw" "$(psql $P -tA -c "select table_name from duckdb_tables() where table_name = 'nation_raw'" 2>&1)"
chk "pg duckdb_views"  "nation" "$(psql $P -tA -c "select view_name from duckdb_views() where view_name = 'nation'" 2>&1)"
chk "pg duckdb_columns" "3" "$(psql $P -tA -c "select count(*) from duckdb_columns() where table_name = 'nation'" 2>&1)"
chk "pg duckdb_settings" "ok" "$(psql $P -tA -c "select 'ok' from duckdb_settings() where name = 'version'" 2>&1)"

# DuckDB statement-level PIVOT/UNPIVOT (r15b): 25 nations pivot to 25
# rows (group by nationkey), 5 region columns; unpivot to name/value
chk "pg pivot stmt rows" "25" "$(psql $P -tA -c 'pivot nation on n_regionkey using count(*) group by n_nationkey' 2>&1 | wc -l)"
chk "pg unpivot stmt" "a|1" "$(psql $P -tA -F'|' -c 'unpivot (select 1 as a, 2 as b) on a, b' 2>&1 | head -1)"

# SQL-level prepared statements (r15b): PREPARE/EXECUTE/DEALLOCATE on
# one connection; a second connection must not see the name
chk "pg prepare/execute" "42" "$(psql $P -tA -c "prepare smoke_pq as select \$1 + \$2" -c "execute smoke_pq(40, 2)" -c "deallocate smoke_pq" 2>&1 | head -2 | tail -1)"
chk "pg prepare conn-scoped" "free" "$(psql $P -c 'prepare smoke_pq2 as select 1' >/dev/null 2>&1; psql $P -tA -c 'execute smoke_pq2' 2>&1 | grep -qi 'smoke_pq2' && echo free)"

# DuckDB dialect additions (r15b): CREATE OR REPLACE TABLE, USING
# SAMPLE spellings, session variables
chk "pg or-replace table" "9" "$(psql $P -tA -c 'create or replace table main.ort_smoke as select 1 as x' -c 'create or replace table main.ort_smoke as select 9 as x' -c 'select x from main.ort_smoke' 2>&1 | tail -1)"
psql $P -c 'drop table main.ort_smoke' >/dev/null 2>&1
chk "pg using sample rows" "3" "$(psql $P -tA -c 'select count(*) from (select * from nation using sample 3 rows)' 2>&1)"
chk "pg set variable" "42" "$(psql $P -tA -c 'set variable smoke_v = 42' -c "select getvariable('smoke_v')" 2>&1 | tail -1)"

# DuckDB macros (r15): scalar + table, expanded pre-analysis to plain
# Catalyst expressions; TEMP MACRO is connection-private like every
# other temp object (dies with the connection)
chk "pg macro scalar" "7" "$(psql $P -tA -c 'create or replace macro smoke_mac(a, b := 5) as a + b' -c 'select smoke_mac(2)' 2>&1 | tail -1)"
chk "pg macro table"  "3" "$(psql $P -tA -c 'create or replace macro smoke_mtab(n) as table select id from range(n)' -c 'select count(*) from smoke_mtab(3)' 2>&1 | tail -1)"
chk "pg temp macro dies with conn" "free" "$(psql $P -c 'create temp macro smoke_tm(a) as a * 2' >/dev/null 2>&1; psql $P -tA -c 'select smoke_tm(4)' 2>&1 | grep -qi 'smoke_tm' && echo free)"
psql $P -c 'drop macro if exists smoke_mac' >/dev/null 2>&1
psql $P -c 'drop macro if exists smoke_mtab' >/dev/null 2>&1

# DuckDB maintenance statements (r15): CHECKPOINT compacts fragmented
# parquet tables under the txn locks (FORCE skips the active-txn
# refusal); VACUUM/ANALYZE recompute the CBO's catalog stats; all
# refused inside a transaction block like DuckDB
psql $P -c "drop table if exists main.ckpt_smoke" >/dev/null 2>&1
chk "pg checkpoint"   "CHECKPOINT" "$(psql $P -tA -c "create table main.ckpt_smoke (a int)" -c "insert into ckpt_smoke values (1)" -c "insert into ckpt_smoke values (2)" -c "checkpoint" 2>&1 | tail -1)"
chk "pg ckpt content" "2|1" "$(psql $P -tA -c "select count(*), min(a) from main.ckpt_smoke" 2>&1)"
chk "pg analyze"      "ANALYZE" "$(psql $P -tA -c "analyze main.ckpt_smoke" 2>&1 | tail -1)"
chk "pg vacuum"       "VACUUM"  "$(psql $P -tA -c "vacuum main.ckpt_smoke" 2>&1 | tail -1)"
chk "pg ckpt in txn"  "refused" "$(psql $P -tA -c "begin" -c "checkpoint" 2>&1 | grep -q 'transaction block' && echo refused)"
psql $P -c "drop table main.ckpt_smoke" >/dev/null 2>&1

# the probes' own exit status (not sed's) decides each one's pass/fail
python3 "$(dirname "$0")/pg_extended_test.py" "$PG" | sed 's/^/  ext /'
if [ "${PIPESTATUS[0]}" = 0 ]; then ok "pg_extended_test"; else bad "pg_extended_test"; fi

# pgJDBC wire-sequence probe (no JDBC jar exists in this container —
# the probe replays the driver's exact message sequences; see its doc)
python3 "$(dirname "$0")/jdbc_smoke.py" "$PG" | sed 's/^/  jdbc /'
if [ "${PIPESTATUS[0]}" = 0 ]; then ok "jdbc_smoke"; else bad "jdbc_smoke"; fi

echo "smoke: $pass passed, $fail failed"
exit $((fail > 0))
