#!/bin/bash
# One sha256 over every SparkEntry.oracleSql string, comparable across
# checkouts: runs graft.Verify with a query filter that matches nothing
# (so it only writes oracle_sql.json), replaces this checkout's absolute
# path with a fixed token (the codec oracles embed
# <checkout>/target/mm_expected) and hashes the result. No query runs,
# so Verify's corpus-dir argument is never read.
#   tools/oracle_digest.sh [outDir]   (run from the checkout root)
set -e
OUT=${1:-target/oracle_digest}
mkdir -p "$OUT"
LOG="$OUT/verify.log"
if ! sbt -batch "runMain graft.Verify $OUT $OUT __no_query__" >"$LOG" 2>&1; then
  echo "oracle_digest: Verify failed; last lines of $LOG:" >&2
  tail -n 40 "$LOG" >&2
  exit 1
fi
python3 - "$OUT/oracle_sql.json" "$PWD" <<'EOF'
import hashlib, json, sys
path, root = sys.argv[1], sys.argv[2]
text = open(path, encoding="utf-8").read().replace(root, "<checkout>")
n = len(json.loads(text))
print(hashlib.sha256(text.encode("utf-8")).hexdigest(), f"{n} oracles")
EOF
