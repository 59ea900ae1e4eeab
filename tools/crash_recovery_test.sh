#!/bin/bash
# Crash-recovery probe: kill -9 the server MID-TRANSACTION (staged
# overlay + delta + transactional CREATE all live on disk), restart
# against the same --db_path, and assert the restart bootstrap
# (Persistence.staleStagingRe, Engine.bootstrap) reclaims every __txn leftover,
# no phantom table registers, and the base tables carry exactly their
# pre-transaction content.
# Usage: bash tools/crash_recovery_test.sh [pg_port] [ch_port]
set -u
PG=${1:-5437}
CH=${2:-8128}
DB=$(mktemp -d /tmp/graft_crash.XXXXXX)
LOG=/tmp/graft_crash_server.log
P="-h 127.0.0.1 -p $PG -U crash -d main"
pass=0; fail=0
ok()  { pass=$((pass+1)); echo "PASS $1"; }
bad() { fail=$((fail+1)); echo "FAIL $1"; }
chk() { if [ "$2" = "$3" ]; then ok "$1"; else bad "$1 (expected [$2] got [$3])"; fi }

start_server() {
  rm -f "$LOG"
  nohup bash "$(dirname "$0")/run_server.sh" "$PG" "$CH" \
    /root/testdata/sf0.001 "--db_path=$DB" > "$LOG" 2>&1 &
  SRV_PID=$!
  for i in $(seq 1 90); do
    grep -q "graft server ready" "$LOG" 2>/dev/null && return 0
    sleep 2
  done
  echo "server failed to start"; tail -5 "$LOG"; exit 1
}

cd "$(dirname "$0")/.."
start_server

chk "create base" "CREATE TABLE" "$(psql $P -c 'create table main.ct (k int primary key, v string) using parquet' 2>&1 | head -1)"
chk "seed base"   "INSERT 0 2"   "$(psql $P -c "insert into main.ct values (1,'a'),(2,'b')" 2>&1 | head -1)"

# open a transaction on a LONG-LIVED psql and leave it mid-flight:
# a delta (INSERT), a staged rewrite (UPDATE), and a transactional
# CREATE all have on-disk __txn artifacts at kill time
FIFO=$(mktemp -u /tmp/graft_crash_fifo.XXXXXX)
mkfifo "$FIFO"
psql $P -f /dev/stdin < "$FIFO" > /tmp/graft_crash_psql.log 2>&1 &
PSQL_PID=$!
exec 9>"$FIFO"
cat >&9 <<'SQL'
BEGIN;
INSERT INTO main.ct VALUES (3,'c');
UPDATE main.ct SET v = 'zz' WHERE k = 1;
CREATE TABLE main.ct_phantom AS SELECT 42 AS x;
SELECT pg_sleep(0);
SQL
sleep 8   # let the staged overlay + created table materialize on disk

overlays_before=$(ls -d "$DB"/warehouse/main.db/*__txn* 2>/dev/null | wc -l)
if [ "$overlays_before" -ge 1 ]; then ok "overlays on disk pre-crash ($overlays_before)"; else bad "no overlays found pre-crash"; fi

kill -9 "$SRV_PID" 2>/dev/null
wait "$SRV_PID" 2>/dev/null
exec 9>&-
kill "$PSQL_PID" 2>/dev/null; wait "$PSQL_PID" 2>/dev/null
rm -f "$FIFO"

start_server
chk "base content intact"   "1|a,2|b" "$(psql $P -tA -F'|' -c 'select k, v from main.ct order by k' 2>&1 | paste -sd, -)"
chk "no phantom table"      "gone"    "$(psql $P -tA -c 'select count(*) from main.ct_phantom' >/dev/null 2>&1 && echo present || echo gone)"
overlays_after=$(ls -d "$DB"/warehouse/main.db/*__txn* 2>/dev/null | wc -l)
chk "overlay dirs reclaimed" "0" "$overlays_after"
chk "no overlay registered"  ""  "$(psql $P -tA -c "select table_name from information_schema.tables where table_name like '%__txn%'" 2>&1)"
chk "table still writable"  "INSERT 0 1" "$(psql $P -c "insert into main.ct values (9,'i')" 2>&1 | head -1)"

# ---- scenario 2: SIGKILL DURING COMMIT PUBLISH (r12 publish journal) ----
# A big staged rewrite makes the INSERT OVERWRITE publish take seconds;
# killing inside that window used to leave a half-overwritten base whose
# only intact copy (the staged image) the next boot would reclaim-delete.
# With the journal, boot rolls the commit FORWARD: full row count, the
# update fully applied, journal consumed.
N=3000000
chk "create big"  "CREATE" "$(psql $P -c "create table main.big as select id k, 'orig' v from range($N)" 2>&1 | head -1 | awk '{print $1}')"

FIFO2=$(mktemp -u /tmp/graft_crash_fifo2.XXXXXX)
mkfifo "$FIFO2"
psql $P -f /dev/stdin < "$FIFO2" > /tmp/graft_crash_psql2.log 2>&1 &
PSQL2_PID=$!
exec 8>"$FIFO2"
cat >&8 <<'SQL'
BEGIN;
UPDATE main.big SET v = 'upd' WHERE k >= 0;
SQL
# wait for the UPDATE (stages the full image) to finish
for i in $(seq 1 120); do
  grep -q "UPDATE" /tmp/graft_crash_psql2.log 2>/dev/null && break
  sleep 2
done
grep -q "UPDATE" /tmp/graft_crash_psql2.log && ok "staged rewrite ready" || bad "staged rewrite never finished"
echo "COMMIT;" >&8
# kill while the publish (INSERT OVERWRITE of $N rows) is in flight;
# poll for the journal so the kill lands INSIDE the publish window
for i in $(seq 1 200); do
  ls "$DB"/publish_journal_*.tsv >/dev/null 2>&1 && break
  sleep 0.05
done
if ls "$DB"/publish_journal_*.tsv >/dev/null 2>&1; then ok "journal present at kill time"; else bad "journal never appeared"; fi
sleep 0.7   # let the overwrite get mid-flight (destructive window)
kill -9 "$SRV_PID" 2>/dev/null
wait "$SRV_PID" 2>/dev/null
exec 8>&-
kill "$PSQL2_PID" 2>/dev/null; wait "$PSQL2_PID" 2>/dev/null
rm -f "$FIFO2"

start_server
chk "rolled forward: full count" "$N" "$(psql $P -tA -c 'select count(*) from main.big' 2>&1)"
chk "rolled forward: update applied everywhere" "$N" "$(psql $P -tA -c "select count(*) from main.big where v = 'upd'" 2>&1)"
chk "journal consumed" "0" "$(ls "$DB"/publish_journal_*.tsv 2>/dev/null | wc -l)"
overlays_final=$(ls -d "$DB"/warehouse/main.db/*__txn* 2>/dev/null | wc -l)
chk "staging reclaimed after roll-forward" "0" "$overlays_final"

# ---- scenario 2b: SIGKILL DURING AN AUTO-COMMIT REWRITE ----
# Scenario 2 without BEGIN/COMMIT: the UPDATE stages its image in a
# __cow table, then INSERT OVERWRITE clears the table's files before it
# writes them. The swap runs under a one-op publish journal, so a kill
# inside it rolls FORWARD at boot instead of the stale-staging reclaim
# deleting the only full copy.
psql $P -c "update main.big set v = 'upd2'" > /tmp/graft_crash_psql2b.log 2>&1 &
PSQL2B_PID=$!
for i in $(seq 1 1200); do
  ls "$DB"/publish_journal_*.tsv >/dev/null 2>&1 && break
  sleep 0.05
done
if ls "$DB"/publish_journal_*.tsv >/dev/null 2>&1; then ok "auto-commit journal present at kill time"; else bad "auto-commit journal never appeared"; fi
sleep 0.7   # let the overwrite get mid-flight (destructive window)
kill -9 "$SRV_PID" 2>/dev/null
wait "$SRV_PID" 2>/dev/null
kill "$PSQL2B_PID" 2>/dev/null; wait "$PSQL2B_PID" 2>/dev/null

start_server
chk "auto-commit rolled forward: full count" "$N" "$(psql $P -tA -c 'select count(*) from main.big' 2>&1)"
chk "auto-commit rolled forward: update applied everywhere" "$N" "$(psql $P -tA -c "select count(*) from main.big where v = 'upd2'" 2>&1)"
chk "auto-commit journal consumed" "0" "$(ls "$DB"/publish_journal_*.tsv 2>/dev/null | wc -l)"
chk "cow stage reclaimed" "0" "$(ls -d "$DB"/warehouse/*/*__cow 2>/dev/null | wc -l)"
chk "big still writable" "INSERT 0 1" "$(psql $P -c "insert into main.big values (-1,'x')" 2>&1 | head -1)"
# ---- scenario 3: RENAME durability across restarts (r12b) ----
# main.ct has been through restarts, so it is a boot-registered
# EXTERNAL table — the case where Spark's own RENAME does NOT move the
# dir and the engine must (else the rename silently reverts at boot).
# Two rename+restart cycles; the PK registration must follow each time.
chk "rename external 1" "ALTER TABLE" "$(psql $P -c 'alter table main.ct rename to main.ct2' 2>&1 | head -1)"
chk "renamed readable" "1|a" "$(psql $P -tA -F'|' -c 'select k, v from main.ct2 where k = 1' 2>&1)"
kill "$SRV_PID" 2>/dev/null; wait "$SRV_PID" 2>/dev/null
start_server
chk "rename survives restart" "1|a,2|b,9|i" "$(psql $P -tA -F'|' -c 'select k, v from main.ct2 order by k' 2>&1 | paste -sd, -)"
chk "old name gone after restart" "gone" "$(psql $P -tA -c 'select count(*) from main.ct' >/dev/null 2>&1 && echo present || echo gone)"
chk "pk followed rename 1" "dup" "$(psql $P -c "insert into main.ct2 values (1,'dup')" 2>&1 | grep -q 'duplicate key' && echo dup || echo accepted)"
chk "rename external 2" "ALTER TABLE" "$(psql $P -c 'alter table main.ct2 rename to main.ct3' 2>&1 | head -1)"
kill "$SRV_PID" 2>/dev/null; wait "$SRV_PID" 2>/dev/null
start_server
chk "external rename survives restart" "1|a,2|b,9|i" "$(psql $P -tA -F'|' -c 'select k, v from main.ct3 order by k' 2>&1 | paste -sd, -)"
chk "pk followed external rename" "dup" "$(psql $P -c "insert into main.ct3 values (2,'dup')" 2>&1 | grep -q 'duplicate key' && echo dup || echo accepted)"

# ---- scenario 4: SIGKILL with a staged RENAME INTENT mid-txn ----
# the intent lives only in connection memory — a crash must leave the
# ORIGINAL name intact and nothing under the new name
FIFO3=$(mktemp -u /tmp/graft_crash_fifo3.XXXXXX)
mkfifo "$FIFO3"
psql $P -f /dev/stdin < "$FIFO3" > /tmp/graft_crash_psql3.log 2>&1 &
PSQL3_PID=$!
exec 7>"$FIFO3"
cat >&7 <<'SQL'
BEGIN;
ALTER TABLE main.ct3 RENAME TO main.ct4;
INSERT INTO main.ct4 VALUES (7,'g');
SELECT pg_sleep(0);
SQL
sleep 8
kill -9 "$SRV_PID" 2>/dev/null
wait "$SRV_PID" 2>/dev/null
exec 7>&-
kill "$PSQL3_PID" 2>/dev/null; wait "$PSQL3_PID" 2>/dev/null
rm -f "$FIFO3"
start_server
chk "mid-txn rename rolled back" "1|a,2|b,9|i" "$(psql $P -tA -F'|' -c 'select k, v from main.ct3 order by k' 2>&1 | paste -sd, -)"
chk "new name never materialized" "gone" "$(psql $P -tA -c 'select count(*) from main.ct4' >/dev/null 2>&1 && echo present || echo gone)"

# ---- scenario 5: pure rename CYCLE (r13b) commits and survives restart ----
# a⇄b swap staged via collapse (b->c, a->b, c->a); the publish breaks
# the cycle with a journaled temp hop — restart must come back with the
# swap fully applied and the PKs following each table
chk "swap setup a" "CREATE TABLE" "$(psql $P -c 'create table main.swa (k int primary key, v varchar)' 2>&1 | head -1)"
chk "swap setup b" "CREATE TABLE" "$(psql $P -c 'create table main.swb (k int primary key, v varchar)' 2>&1 | head -1)"
psql $P -c "insert into main.swa values (1,'a')" >/dev/null 2>&1
psql $P -c "insert into main.swb values (2,'b')" >/dev/null 2>&1
chk "swap txn commits" "COMMIT" "$(psql $P 2>&1 <<'SQL' | tail -1
BEGIN;
ALTER TABLE main.swb RENAME TO main.swc;
ALTER TABLE main.swa RENAME TO main.swb;
ALTER TABLE main.swc RENAME TO main.swa;
COMMIT;
SQL
)"
chk "swapped a holds b rows" "2|b" "$(psql $P -tA -F'|' -c 'select k, v from main.swa' 2>&1)"
chk "swapped b holds a rows" "1|a" "$(psql $P -tA -F'|' -c 'select k, v from main.swb' 2>&1)"
kill "$SRV_PID" 2>/dev/null; wait "$SRV_PID" 2>/dev/null
start_server
chk "swap survives restart" "2|b,1|a" "$(psql $P -tA -F'|' -c 'select k, v from main.swa union all select k, v from main.swb' 2>&1 | paste -sd, -)"
chk "temp hop never materialized" "0" "$(ls -d "$DB"/warehouse/main.db/*__txn* 2>/dev/null | wc -l)"
chk "pk followed swap a" "dup" "$(psql $P -c "insert into main.swa values (2,'dup')" 2>&1 | grep -q 'duplicate key' && echo dup || echo accepted)"
chk "pk followed swap b" "dup" "$(psql $P -c "insert into main.swb values (1,'dup')" 2>&1 | grep -q 'duplicate key' && echo dup || echo accepted)"
kill "$SRV_PID" 2>/dev/null; wait "$SRV_PID" 2>/dev/null

# ---- scenario 6: SIGKILL with LIVE temp tables/sequences (r15) ----
# conn-temp tables are real __tmpc<N> parquet dirs; a crash strands
# them. Boot reclaim must (a) keep them out of the catalog, (b) move
# the dirs to .quarantine (NOT delete — a pre-guard user table with
# that suffix would be unrecoverable), logging loudly.
start_server
FIFO4=$(mktemp -u /tmp/graft_crash_fifo4.XXXXXX)
mkfifo "$FIFO4"
psql $P -f /dev/stdin < "$FIFO4" > /tmp/graft_crash_psql4.log 2>&1 &
PSQL4_PID=$!
exec 6>"$FIFO4"
cat >&6 <<'SQL'
CREATE TEMP TABLE crash_tt (k INT);
INSERT INTO crash_tt VALUES (1), (2);
CREATE TEMP SEQUENCE crash_sq START WITH 5;
CREATE TEMP VIEW crash_tv AS SELECT k FROM crash_tt;
SELECT pg_sleep(0);
SQL
sleep 8
tmpc_before=$(ls -d "$DB"/warehouse/main.db/*__tmpc* 2>/dev/null | wc -l)
if [ "$tmpc_before" -ge 1 ]; then ok "temp-table dir on disk pre-crash"; else bad "no __tmpc dir pre-crash"; fi
kill -9 "$SRV_PID" 2>/dev/null
wait "$SRV_PID" 2>/dev/null
exec 6>&-
kill "$PSQL4_PID" 2>/dev/null; wait "$PSQL4_PID" 2>/dev/null
rm -f "$FIFO4"
start_server
chk "tmpc dirs gone from warehouse" "0" "$(ls -d "$DB"/warehouse/main.db/*__tmpc* 2>/dev/null | wc -l)"
chk "tmpc dirs quarantined, not deleted" "$tmpc_before" "$(ls -d "$DB"/warehouse/.quarantine/main/*__tmpc* 2>/dev/null | wc -l)"
grep -q "quarantining temp-table leftover" "$LOG" && ok "loud reclaim log present" || bad "no reclaim log line"
chk "no phantom tmpc in catalog" "" "$(psql $P -tA -c "select table_name from information_schema.tables where table_name like '%tmpc%'" 2>&1)"
chk "temp table gone for new conns" "gone" "$(psql $P -tA -c 'select count(*) from crash_tt' >/dev/null 2>&1 && echo present || echo gone)"
chk "temp name reusable after reclaim" "CREATE TABLE" "$(psql $P -c 'create temp table crash_tt (z INT)' 2>&1 | head -1)"
kill "$SRV_PID" 2>/dev/null; wait "$SRV_PID" 2>/dev/null

# ---- scenario 7: CHECKPOINT compaction + mid-swap roll-forward (r15) ----
# Live: CHECKPOINT merges a fragmented table's parquet files. Crash:
# the compaction swap's journal (`replace` op) rolls the table forward
# at boot when the kill landed between the DROP and the RENAME — the
# stage is the only copy; the state is fabricated on disk exactly as
# compactTable leaves it at that instant.
start_server
psql $P -c 'create table main.ckt (k int, v string) using parquet' >/dev/null 2>&1
for i in 1 2 3 4 5 6; do
  psql $P -c "insert into main.ckt values ($i, 'v$i')" >/dev/null 2>&1
done
files_before=$(ls "$DB"/warehouse/main.db/ckt/*.parquet 2>/dev/null | wc -l)
if [ "$files_before" -ge 6 ]; then ok "fragmented pre-checkpoint ($files_before files)"; else bad "expected >=6 files, got $files_before"; fi
chk "checkpoint tag" "CHECKPOINT" "$(psql $P -tA -c 'checkpoint' 2>&1 | tail -1)"
files_after=$(ls "$DB"/warehouse/main.db/ckt/*.parquet 2>/dev/null | wc -l)
if [ "$files_after" -lt "$files_before" ]; then ok "compacted ($files_before -> $files_after files)"; else bad "no compaction ($files_before -> $files_after)"; fi
chk "content after compaction" "6|1|6" "$(psql $P -tA -F'|' -c 'select count(*), min(k), max(k) from main.ckt' 2>&1)"
kill -9 "$SRV_PID" 2>/dev/null; wait "$SRV_PID" 2>/dev/null
# fabricate the mid-swap instant: table dir gone, stage dir holds the
# only copy, journal present
mv "$DB"/warehouse/main.db/ckt "$DB"/warehouse/main.db/ckt__alter
printf 'replace\tmain.ckt\tmain.ckt__alter\n' > "$DB"/publish_journal_999999.tsv
start_server
chk "mid-swap rolled forward" "6|1|6" "$(psql $P -tA -F'|' -c 'select count(*), min(k), max(k) from main.ckt' 2>&1)"
chk "stage not registered" "" "$(psql $P -tA -c "select table_name from information_schema.tables where table_name like '%ckt__alter%'" 2>&1)"
chk "stage dir consumed" "0" "$(ls -d "$DB"/warehouse/main.db/ckt__alter 2>/dev/null | wc -l)"
kill "$SRV_PID" 2>/dev/null; wait "$SRV_PID" 2>/dev/null

# ---- scenario 8: SIGKILL DURING A STREAM OF CH INSERT … FORMAT CSV ----
# Each 1,000-row batch is one parquet file, written under a hidden
# `.part-…` name and renamed in. A kill leaves every batch whole or
# absent, every acknowledged batch present, and at most a hidden temp
# file, which boot deletes. One such stranded temp (and its checksum)
# is also planted before the reboot, so the reclaim runs every time.
start_server
psql $P -c "create user crashch with password 'crashpw'" >/dev/null 2>&1
psql $P -c 'create table main.ing (id bigint, b int)' >/dev/null 2>&1
ACK=$(mktemp /tmp/graft_crash_acks.XXXXXX)
( for b in $(seq 1 600); do
    resp=$({ echo 'INSERT INTO ing FORMAT CSV'; seq 0 999 | awk -v b="$b" '{print b * 1000 + $1 "," b}'; } \
      | curl -s -u crashch:crashpw "http://127.0.0.1:$CH/" --data-binary @-)
    [ "$resp" = "Ok." ] || break
    echo "$b" >> "$ACK"
  done ) &
LOOP_PID=$!
for i in $(seq 1 600); do
  [ "$(wc -l < "$ACK")" -ge 5 ] && break
  sleep 0.1
done
kill -9 "$SRV_PID" 2>/dev/null
wait "$SRV_PID" 2>/dev/null
wait "$LOOP_PID" 2>/dev/null
acked=$(wc -l < "$ACK")
rm -f "$ACK"
ING="$DB"/warehouse/main.db/ing
f=$(ls "$ING"/part-*.parquet 2>/dev/null | head -1)
[ -n "$f" ] && cp "$f" "$ING/.part-00000-stranded-c000.snappy.parquet" && touch "$ING/..part-00000-stranded-c000.snappy.parquet.crc"
start_server
n=$(psql $P -tA -c 'select count(*) from main.ing' 2>&1)
if [ "$acked" -ge 5 ] && [ $((n % 1000)) -eq 0 ] && [ $((n / 1000)) -ge "$acked" ]; then
  ok "ingest kill: $n rows, whole batches, >= the $acked acknowledged"
else bad "ingest kill: $n rows after $acked acknowledged batches"; fi
chk "ingest kill: no partial batch" "0" "$(psql $P -tA -c 'select count(*) from (select b from main.ing group by b having count(*) <> 1000) t' 2>&1)"
chk "ingest kill: every acknowledged batch present" "$acked" "$(psql $P -tA -c "select count(distinct b) from main.ing where b <= $acked" 2>&1)"
chk "ingest kill: no append temp left" "0" "$(ls -A "$ING" | grep -cE '^[.][.]part-|^[.]part-.*[.]parquet$')"
chk "ingest kill: table still ingests" "Ok." "$(printf 'INSERT INTO ing FORMAT CSV\n-1,0\n' | curl -s -u crashch:crashpw "http://127.0.0.1:$CH/" --data-binary @-)"
kill "$SRV_PID" 2>/dev/null; wait "$SRV_PID" 2>/dev/null

rm -rf "$DB"
echo "crash-recovery: $pass passed, $fail failed"
[ "$fail" -eq 0 ]
