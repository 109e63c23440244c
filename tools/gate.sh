#!/usr/bin/env bash
# Differential gate for any registry subset: dump the chosen queries with
# graft.Verify over one fixture, then grade each against its DuckDB
# oracle with tools/selfcheck.py.
#
# Usage: tools/gate.sh <fixtureDir> <outJson> <Module|q_a,q_b,...> [verifyOutDir]
#   fixtureDir    parquet fixture (e.g. an sf0.01 dir or a ScaleGen tile)
#   outJson       per-query selfcheck results (selfcheck.py --json)
#   Module        an ops module name (e.g. Vectors): every query in the
#                 `queries` map of src/main/scala/graft/ops/<Module>.scala
#   q_a,q_b,...   or an explicit comma-separated list of registry names
#   verifyOutDir  where Verify writes its parquet dumps and
#                 oracle_sql.json (default: a fresh temp dir)
#
# Fails if a query wrote no dump (a query that throws writes none, and
# selfcheck grades only dumps). Heap and cores come from the usual
# SPARK_DRIVER_MEM / SPARK_GRAFT_CPUS.
set -euo pipefail
cd "$(dirname "$0")/.."
USAGE="usage: gate.sh <fixtureDir> <outJson> <Module|q_a,q_b,...> [verifyOutDir]"
FIX="${1:?$USAGE}"
OUT_JSON="${2:?$USAGE}"
SEL="${3:?$USAGE}"
VOUT="${4:-$(mktemp -d -t gate.XXXXXX)}"

# 1. the query names: a module's `queries` map, or the list as given
if [[ "$SEL" == q_* ]]; then
  QS="$SEL"
else
  QS=$(python3 - "$SEL" <<'PY'
import re, sys
src = open('src/main/scala/graft/ops/%s.scala' % sys.argv[1]).read()
reg = src[src.index('val queries'):]
reg = reg[:reg.index('\n  )')]
print(",".join(sorted(set(re.findall(r'"(q_\w+)"\s*->', reg)))))
PY
)
fi
NQ=$(echo "$QS" | tr ',' '\n' | wc -l)
echo "== $NQ queries ($SEL)"

# 2. Verify on only those
rm -rf "$VOUT"
sbt -batch "runMain graft.Verify $FIX $VOUT $QS" 2>&1 | grep "verify\]" || true
ND=$(find "$VOUT" -mindepth 1 -maxdepth 1 -type d | wc -l)
if [ "$ND" -ne "$NQ" ]; then
  echo "FAIL  Verify dumped $ND of $NQ queries"
  exit 1
fi

# 3. DuckDB differential
python3 tools/selfcheck.py "$FIX" "$VOUT" --json "$OUT_JSON"
echo "== verify output in $VOUT"
