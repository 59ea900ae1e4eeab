#!/usr/bin/env bash
# Bench wire contract: runs graft.Bench over the smallest fixture and
# fails unless the LAST stdout line is one JSON object with
# "metric": "total" (the line a caller keeping only a stdout tail
# parses). The BENCH_DETAIL*.json boards the bench writes into the
# repo root are restored afterwards, so a contract run never replaces
# a committed board.
#
# Usage: tools/bench_contract.sh [fixture_dir]
#   env: SPARK_GRAFT_REPS (default 1 here), SPARK_GRAFT_CPUS
set -uo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.001}"
OUT=$(mktemp -d)
trap 'rm -rf "$OUT"' EXIT

# keep the committed detail boards; remember which did not exist
for f in BENCH_DETAIL*.json; do [ -e "$f" ] && cp -p "$f" "$OUT/$f"; done

SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-1}" \
  sbt -batch "runMain graft.Bench" > "$OUT/stdout" 2> "$OUT/stderr"
rc=$?

for f in BENCH_DETAIL*.json; do
  if [ -e "$OUT/$f" ]; then cp -p "$OUT/$f" "$f"; else rm -f "$f"; fi
done

last=$(grep -v '^[[:space:]]*$' "$OUT/stdout" | tail -1)
if ! printf '%s' "$last" | python3 -c '
import json, sys
d = json.loads(sys.stdin.read())
sys.exit(0 if isinstance(d, dict) and d.get("metric") == "total" else 1)
'; then
  echo "FAIL bench contract (sbt exit $rc): last stdout line is not a total-metric JSON object:" >&2
  printf '%s\n' "$last" >&2
  tail -5 "$OUT/stderr" >&2
  exit 1
fi
echo "PASS bench contract: $last"
