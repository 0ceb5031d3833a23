#!/bin/bash
# Subset oracle check for local iteration: run Verify on a comma list
# of queries and compare just those against DuckDB.
#   tools/check_subset.sh <sfDir> <outDir> <q1,q2,...>
set -e
SF=$1; OUT=$2; QS=$3
mkdir -p "$OUT"
LOG="$OUT/verify.log"
if ! sbt -batch "runMain graft.Verify $SF $OUT $QS" >"$LOG" 2>&1; then
  echo "check_subset: Verify failed; last lines of $LOG:" >&2
  tail -n 40 "$LOG" >&2
  exit 1
fi
python3 - "$OUT" "$QS" <<'EOF'
import json, sys
out, qs = sys.argv[1], set(sys.argv[2].split(','))
o = json.load(open(f"{out}/oracle_sql.json"))
json.dump({k: v for k, v in o.items() if k in qs}, open(f"{out}/oracle_sql.json", "w"))
EOF
python3 tools/check_oracles.py "$SF" "$OUT"
