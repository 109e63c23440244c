#!/usr/bin/env bash
# Vector differential gate: dump every `Vectors` registry query with
# graft.Verify over one fixture, then grade each against its DuckDB
# oracle with tools/selfcheck.py.
#
# Usage: tools/vectorgate.sh <fixtureDir> <outJson> [verifyOutDir]
#   fixtureDir    parquet fixture (e.g. an sf0.01 dir or a ScaleGen tile)
#   outJson       per-query selfcheck results (selfcheck.py --json)
#   verifyOutDir  where Verify writes its parquet dumps and
#                 oracle_sql.json (default: a fresh temp dir)
#
# Heap and cores come from the usual SPARK_DRIVER_MEM / SPARK_GRAFT_CPUS.
set -euo pipefail
cd "$(dirname "$0")/.."
FIX="${1:?usage: vectorgate.sh <fixtureDir> <outJson> [verifyOutDir]}"
OUT_JSON="${2:?usage: vectorgate.sh <fixtureDir> <outJson> [verifyOutDir]}"
VOUT="${3:-$(mktemp -d -t vectorgate.XXXXXX)}"

# 1. the Vectors registry names, read from its `queries` map
VECQ=$(python3 - <<'PY'
import re
src = open('src/main/scala/graft/ops/Vectors.scala').read()
reg = src[src.index('val queries'):]
reg = reg[:reg.index('\n  )')]
print(",".join(sorted(set(re.findall(r'"(q_\w+)"\s*->', reg)))))
PY
)
NQ=$(echo "$VECQ" | tr ',' '\n' | wc -l)
echo "== $NQ Vectors queries"

# 2. Verify on only those
rm -rf "$VOUT"
sbt -batch "runMain graft.Verify $FIX $VOUT $VECQ" 2>&1 | grep "verify\]" || true
# a query that throws writes no dump, and selfcheck grades only dumps
ND=$(find "$VOUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
if [ "$ND" -ne "$NQ" ]; then
  echo "FAIL  Verify dumped $ND of $NQ queries"
  exit 1
fi

# 3. DuckDB differential
python3 tools/selfcheck.py "$FIX" "$VOUT" --json "$OUT_JSON"
echo "== verify output in $VOUT"
