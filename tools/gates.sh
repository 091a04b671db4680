#!/bin/bash
# Full scale-gate chain (run inside tmux — takes ~1h). Refreshes the
# standing CORRECTNESS_* artifacts at the current registry and logs
# one line per stage to /tmp/gates.log.
set -e
cd /root/repo
# Heavy-harness serialization (VERDICT r17 ask #2): the whole chain
# holds the shared lock; run.sh and check.py skip re-acquiring via
# GRAFT_LOCK_HELD (re-entrancy for child processes).
if [ -z "${GRAFT_LOCK_HELD:-}" ]; then
  exec env GRAFT_LOCK_HELD=1 flock /tmp/graft_heavy.lock "$0" "$@"
fi
log=/tmp/gates.log
: > "$log"
stage() { echo "=== $1 ===" | tee -a "$log"; }

# Disk-headroom pre-flight + per-stage spill reclaim (VERDICT r16
# item 4): the r16 chain filled /tmp mid-run and salted 22 spurious
# IOException failures into the committed test reports. Every stage
# now starts from a clean spill dir and a verified headroom floor.
# SPILL is ALWAYS the dedicated graft_spill subdir (r17 advice: with
# SPARK_LOCAL_DIR=/tmp the raw value would make headroom() wipe /tmp
# itself, destroying the write-once /tmp/graft_* fixture caches);
# run.sh applies the same normalization so we clean what it dirties.
SPILL=${SPARK_LOCAL_DIR:-/tmp/graft_spill}
case "$SPILL" in
  */graft_spill) : ;;
  *) SPILL="${SPILL%/}/graft_spill" ;;
esac
# The floor scales with the stage's fixture (tools/headroom.py, the same
# formula check.py applies; GRAFT_MIN_HEADROOM_GB overrides it).
headroom() {
  rm -rf "$SPILL" /root/repo/.tmp && mkdir -p "$SPILL"
  avail_gb=$(df -BG --output=avail /tmp | tail -1 | tr -dc 0-9)
  need_gb=$(python3 tools/headroom.py "$1")
  if [ "$avail_gb" -lt "$need_gb" ]; then
    echo "ABORT: only ${avail_gb}G free on /tmp (need ${need_gb}G for $1)" | tee -a "$log"
    exit 1
  fi
  echo "headroom: ${avail_gb}G free (need ${need_gb}G for $1)" >> "$log"
}

headroom /root/testdata/sf0.01
stage "sf0.01 cold"
SPARK_GRAFT_CPUS=32 tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/v_001 2>/dev/null | tail -1 | tee -a "$log"
python3 tools/check.py /root/testdata/sf0.01 /tmp/v_001 2>&1 | tail -1 | tee -a "$log"
headroom /root/testdata/sf0.01
stage "sf0.01 warm"
SPARK_GRAFT_CPUS=32 tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/v_001 2>/dev/null | tail -1 | tee -a "$log"
python3 tools/check.py /root/testdata/sf0.01 /tmp/v_001 2>&1 | tail -1 | tee -a "$log"
headroom /root/testdata/sf0.1
stage "sf0.1"
SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g tools/run.sh graft.Verify /root/testdata/sf0.1 /tmp/v_01 2>/dev/null | tail -1 | tee -a "$log"
python3 tools/check.py /root/testdata/sf0.1 /tmp/v_01 CORRECTNESS_sf0.1.json 2>&1 | tail -1 | tee -a "$log"
headroom /root/testdata/sf0.01
stage "local4"
SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEM=16g tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/v_l4 2>/dev/null | tail -1 | tee -a "$log"
python3 tools/check.py /root/testdata/sf0.01 /tmp/v_l4 CORRECTNESS_local4.json 2>&1 | tail -1 | tee -a "$log"
headroom /tmp/sf1
stage "10x"
SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g tools/run.sh graft.Verify /tmp/sf1 /tmp/v_10x 2>/dev/null | tail -1 | tee -a "$log"
python3 tools/check.py /tmp/sf1 /tmp/v_10x CORRECTNESS_10x.json 2>&1 | tail -1 | tee -a "$log"
headroom /tmp/sfskew
stage "skew"
# 60g: at 48g the r16 run hit GCLocker starvation ("Retried waiting
# for GCLocker too often") and the JVM died mid-registry — the codec
# seams' java.util.zip JNI critical regions under a nearly-full heap
SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=60g tools/run.sh graft.Verify /tmp/sfskew /tmp/v_skew 2>/dev/null | tail -1 | tee -a "$log"
python3 tools/check.py /tmp/sfskew /tmp/v_skew CORRECTNESS_skew.json 2>&1 | tail -1 | tee -a "$log"
rm -rf "$SPILL"
echo "=== ALL GATES DONE ===" | tee -a "$log"
