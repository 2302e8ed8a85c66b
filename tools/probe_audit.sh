#!/usr/bin/env bash
# Task-duration timeline audit (VERDICT r17 stretch item): StageProbe the
# costliest part-1 rows at a replica scale, hunting the next serial-wall /
# broadcast-threshold class defect (the r12 blockedNamePairs, r15
# embeddings-spread, and r17 repetitionStats precedents — each round's
# audit at the top of the curve found exactly one).
#
#   tools/probe_audit.sh <sfDir> [query ...]
#
# Defaults to the five costliest part-1 (a2..dedup_simhash) rows of the
# BENCH_SCALE 128x curve. Runs StageProbe with a cluster-shaped split
# size (SPARK_GRAFT_MAX_PARTITION_BYTES, default 4m, override via env):
# at the 128m Spark default a sub-128MB single-file replica is ONE scan
# split, and the SERIAL-WALL flag fires on that harness artifact instead
# of on real plan defects — the exact confound the knob exists to remove. Output: one PROBE block per query on stdout;
# grep for "SERIAL-WALL?" (per-stage max-task/task-time > 0.9 with >5s of
# task time) and for "partial=true" (drain deadline expired — totals
# untrustworthy, rerun).
set -uo pipefail
cd "$(dirname "$0")/.."

SF="${1:?usage: probe_audit.sh <sfDir> [query ...]}"; shift || true
export SPARK_GRAFT_MAX_PARTITION_BYTES="${SPARK_GRAFT_MAX_PARTITION_BYTES:-4m}"
QUERIES=("$@")
[ ${#QUERIES[@]} -gt 0 ] || QUERIES=(dedup_prefix_filter affinity_brand_pairs
  corpus_hard_negatives dedup_minhash_lsh dedup_simhash)

. tools/jvm.sh

rc=0
for q in "${QUERIES[@]}"; do
  echo "=== probe $q @ $SF ==="
  SPARK_GRAFT_SF_DIR="$SF" java $JO -Xmx40g -cp "$CP" graft.StageProbe "$q" \
    2>"/tmp/probe_${q}.err" || { echo "PROBE $q CRASHED (see /tmp/probe_${q}.err)"; rc=1; }
done
exit $rc
