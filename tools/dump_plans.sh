#!/bin/bash
# Dump `.explain("formatted")` for a comma-separated query list, one
# file per query: tools/dump_plans.sh <repoDir> <outDir> <suffix> <q1,q2,...>
# One JVM for the whole list (graft.Profile loops names in-session);
# the combined stdout is split per query on Profile's trailing timing
# line. Plans are taken with raw scans (no warm-mode checkpoint), so
# PushedFilters / ReadSchema at the parquet scan stay auditable.
set -e
REPO=${1:?repo dir}
OUT=${2:?out dir}
SUFFIX=${3:?suffix (before|after)}
QUERIES=${4:?comma-separated query names}
SF=${5:-/root/testdata/sf0.1}
cd "$REPO"
mkdir -p "$OUT"
. tools/launch.sh
EXPLAIN=1 graft_java -Xmx16g \
  graft.Profile "$SF" 1 "$QUERIES" 2>/dev/null > "$OUT/_combined_$SUFFIX.txt"
python3 - "$OUT" "$SUFFIX" "$QUERIES" <<'EOF'
import re, sys, os
out, suffix, queries = sys.argv[1], sys.argv[2], sys.argv[3].split(',')
text = open(os.path.join(out, f"_combined_{suffix}.txt")).read().splitlines()
cur, buf = 0, []
for line in text:
    # Profile ends each query with "<name><spaces><seconds...>"
    if cur < len(queries) and re.match(rf"^{re.escape(queries[cur])}\s+[0-9 .]+$", line):
        open(os.path.join(out, f"{queries[cur]}_{suffix}.txt"), "w").write("\n".join(buf) + "\n")
        print(f"wrote {queries[cur]}_{suffix}.txt ({len(buf)} lines)")
        cur, buf = cur + 1, []
    else:
        buf.append(line)
assert cur == len(queries), f"split found {cur} of {len(queries)} sections"
EOF
rm -f "$OUT/_combined_$SUFFIX.txt"
