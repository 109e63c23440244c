#!/usr/bin/env bash
# Round close: full suite, full sf0.01 verify+selfcheck, idle bench
# (3-rep Diag with load quoted), ~sf1 adversarial gate, clustered
# vector gate. Writes bench_full_r<N>.json, SCALECHECK_r<N>.json and
# SCALECHECK_CLUSTERED_r<N>.json at the repo root; logs to
# /tmp/close_r<N>/.
#
# Usage: tools/close.sh <round> <fixtureRoot>
#   round        the round number N in the artifact names
#   fixtureRoot  the directory holding the sf0.01 and sf0.1 fixtures
set -uo pipefail
cd "$(dirname "$0")/.."
USAGE="usage: close.sh <round> <fixtureRoot>"
N="${1:?$USAGE}"
FIX="${2:?$USAGE}"
L=/tmp/close_r$N; mkdir -p $L

echo "== [1/5] full suite" | tee $L/status
sbt -batch test > $L/test.log 2>&1
tail -5 $L/test.log | tee -a $L/status

echo "== [2/5] full verify sf0.01" | tee -a $L/status
rm -rf /tmp/v_full
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify $FIX/sf0.01 /tmp/v_full" > $L/verify.log 2>&1
grep "verify\]" $L/verify.log | grep failed | tee -a $L/status
python3 tools/selfcheck.py $FIX/sf0.01 /tmp/v_full > $L/selfcheck.log 2>&1
tail -3 $L/selfcheck.log | tee -a $L/status

echo "== [3/5] bench: wait for idle then 3-rep Diag" | tee -a $L/status
for i in $(seq 1 60); do
  LA=$(cut -d' ' -f1 /proc/loadavg)
  ok=$(python3 -c "print(1 if $LA < 0.5 else 0)")
  [ "$ok" = "1" ] && break
  sleep 20
done
uptime | tee -a $L/status
SPARK_GRAFT_PROFILE_OUT="$PWD/bench_full_r$N.json" \
  SPARK_GRAFT_SF_DIR=$FIX/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.tools.Diag 3" > $L/diag.log 2>&1
tail -3 $L/diag.log | tee -a $L/status

echo "== [4/5] ~sf1 adversarial scalecheck" | tee -a $L/status
bash tools/scalecheck.sh $N > $L/scalecheck.log 2>&1
tail -3 $L/scalecheck.log | tee -a $L/status

echo "== [5/5] clustered vector gate" | tee -a $L/status
if [ ! -d /tmp/sf1c/embeddings.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleGen $FIX/sf0.1 /tmp/sf1c 10 clustered" > $L/scalegen_c.log 2>&1
fi
SPARK_DRIVER_MEM=48g SPARK_GRAFT_CPUS=32 bash tools/gate.sh /tmp/sf1c \
  SCALECHECK_CLUSTERED_r$N.json Vectors /tmp/sf1c_out > $L/selfcheck_c.log 2>&1
tail -3 $L/selfcheck_c.log | tee -a $L/status
echo "== close r$N done" | tee -a $L/status
