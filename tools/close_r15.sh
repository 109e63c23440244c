#!/usr/bin/env bash
# Round-15 close: full suite, full sf0.01 verify+selfcheck, idle bench
# (3-rep Profile with load quoted), ~sf1 adversarial gate, clustered
# vector gate. Logs to /tmp/close_r15/.
set -uo pipefail
cd /root/repo
L=/tmp/close_r15; mkdir -p $L

echo "== [1/5] full suite" | tee $L/status
sbt -batch test > $L/test.log 2>&1
tail -5 $L/test.log | tee -a $L/status

echo "== [2/5] full verify sf0.01" | tee -a $L/status
rm -rf /tmp/v_full
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/v_full" > $L/verify.log 2>&1
grep "verify\]" $L/verify.log | grep failed | tee -a $L/status
python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/v_full > $L/selfcheck.log 2>&1
tail -3 $L/selfcheck.log | tee -a $L/status

echo "== [3/5] bench: wait for idle then 3-rep Profile" | tee -a $L/status
for i in $(seq 1 60); do
  LA=$(cut -d' ' -f1 /proc/loadavg)
  ok=$(python3 -c "print(1 if $LA < 0.5 else 0)")
  [ "$ok" = "1" ] && break
  sleep 20
done
uptime | tee -a $L/status
SPARK_GRAFT_PROFILE_OUT=/root/repo/bench_full_r15.json \
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.tools.Profile 3" > $L/profile.log 2>&1
tail -3 $L/profile.log | tee -a $L/status

echo "== [4/5] ~sf1 adversarial scalecheck" | tee -a $L/status
bash tools/scalecheck.sh 15 > $L/scalecheck.log 2>&1
tail -3 $L/scalecheck.log | tee -a $L/status

echo "== [5/5] clustered vector gate" | tee -a $L/status
if [ ! -d /tmp/sf1c/embeddings.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleGen /root/testdata/sf0.1 /tmp/sf1c 10 clustered" > $L/scalegen_c.log 2>&1
fi
SPARK_DRIVER_MEM=48g SPARK_GRAFT_CPUS=32 bash tools/vectorgate.sh /tmp/sf1c \
  SCALECHECK_CLUSTERED_r15.json /tmp/sf1c_out > $L/selfcheck_c.log 2>&1
tail -3 $L/selfcheck_c.log | tee -a $L/status
echo "== close_r15 done" | tee -a $L/status
