#!/usr/bin/env bash
# Hash-level oracle sweep at a ScaleUp-replicated scale factor: build the
# replica (if absent), run the full Verify surface against it, and compare
# every query against DuckDB running the same oracle SQL on the same
# scaled parquet. The two interval-overlap joins — whose OUTPUT is
# inherently quadratic in replica count (replicas share one time axis) —
# are compared via the aggregate-fingerprint oracle (SPARK_GRAFT_FP):
# count + commutative 56-bit-hash sum, streamed through the aggregate on
# both engines, so NO query is exempt at any scale.
#
#   tools/scale_sweep.sh 8          # 8x verbatim replica of sf0.1
#   tools/scale_sweep.sh 32 --salt-keys
#
# Engine stdout lands in /tmp/graft_sweep<N>.log; the comparator's
# per-query lines in /tmp/graft_sweep<N>_oracle.log. The sweep is
# SELF-RECORDING: it ends by assembling SWEEP_<N>X[S].json in the repo
# root via sweep_to_json.py --expect (every query must carry a status)
# and exits nonzero on any FAIL or missing status — a completed run
# leaves a committable artifact with no manual assembly step.
set -uo pipefail
cd "$(dirname "$0")/.."
COPIES="${1:?usage: scale_sweep.sh <copies> [--salt-keys]}"
SALT="${2:-}"
SRC="${SPARK_GRAFT_BASE_SF:-/root/testdata/sf0.1}"
DATA="/tmp/sf0.${COPIES}${SALT:+s}"
OUT="/tmp/graft_sweep${COPIES}${SALT:+s}"
LOG="/tmp/graft_sweep${COPIES}${SALT:+s}.log"

. tools/jvm.sh

if [ ! -f "$DATA/lineitem.parquet" ]; then
  echo "=== building ${COPIES}x replica at $DATA ${SALT:+(salted keys)} ==="
  java $JO -Xmx48g -cp "$CP" graft.ScaleUp "$SRC" "$DATA" "$COPIES" $SALT \
    >"$LOG.scaleup" 2>&1 || { echo "ScaleUp failed — see $LOG.scaleup"; exit 1; }
fi

echo "=== Verify full surface at ${COPIES}x (fingerprint: interval join) ==="
rm -rf "$OUT"
vrc=0
# SWEEP_FP_MOD (default 1): >1 switches the interval fingerprint to the
# SAMPLED form (exact n_rows + 1-in-mod hashed sample) — the posture that
# retires the >=128x md5-bound SKIPs; md5 volume drops by the modulus
# while the row COUNT check stays exact. At <=64x the default exact
# fingerprint remains the recorded posture (SWEEP_64X.json precedent).
SPARK_GRAFT_FP=join_interval_overlap \
SPARK_GRAFT_FP_SAMPLE_MOD="${SWEEP_FP_MOD:-1}" \
  java $JO -Xmx48g -cp "$CP" graft.Verify "$DATA" "$OUT" >"$LOG" 2>&1 || vrc=$?
if [ $vrc -ne 0 ]; then echo "Verify crashed (exit $vrc) — see $LOG"; exit 1; fi
grep "\[verify\].*failed" "$LOG" && { echo "per-query failures above"; exit 1; }

echo "=== DuckDB oracle compare on the ${COPIES}x parquet ==="
# DUCKDB_MEMORY_LIMIT: replica-scale oracles must spill, not ride DuckDB's
# default 80%-of-RAM limit into the kernel OOM killer (which took out a
# 32x sweep at 103 GB RSS).
# SWEEP_STAGED (default corpus_retention_funnel): WITH-chain oracles whose
# MONOLITHIC evaluation DuckDB cannot hold at replica scale (the funnel's
# one-shot chain needs >=155 GB at 32x because every CTE materializes
# simultaneously) run through tools/staged_oracle.py instead — the SAME
# committed SQL, parsed and executed one disk-backed stage at a time
# (32x: 57 s in 48 GB). Their PASS/FAIL lines append to the same log.
SWEEP_STAGED="${SWEEP_STAGED-corpus_retention_funnel}"
OLOG="/tmp/graft_sweep${COPIES}${SALT:+s}_oracle.log"
# join the two skip lists, tolerating either being empty (an empty
# SWEEP_STAGED= disables staging; no stray ',' or '' may reach --skip)
ALLSKIP="$(printf '%s,%s' "$SWEEP_STAGED" "${SWEEP_SKIP:-}" \
  | sed 's/^,//; s/,$//')"
# exit codes collected, not aborted on: a FAIL in one query must not
# stop the rest of the surface from being measured and recorded — the
# artifact carries every status, and the sweep exits nonzero at the end.
orc=0
DUCKDB_MEMORY_LIMIT="${DUCKDB_MEMORY_LIMIT:-60GB}" \
python3 tools/check_oracle.py "$DATA" "$OUT" \
  ${ALLSKIP:+--skip "$ALLSKIP"} \
  | tee "$OLOG" | tail -1 || orc=$?
for q in ${SWEEP_STAGED//,/ }; do
  echo "=== staged oracle: $q ==="
  # staged_oracle.py prints its PASS/FAIL line on stdout (stderr carries
  # only per-stage progress); with pipefail a staged FAIL survives tee
  python3 tools/staged_oracle.py "$DATA" "$OUT" "$q" \
    "${DUCKDB_MEMORY_LIMIT:-48GB}" 16 2>"/tmp/graft_staged_${q}.log" \
    | tee -a "$OLOG" || orc=$?
done

echo "=== assembling committed artifact ==="
ART="SWEEP_${COPIES}X${SALT:+S}.json"
SHA="$(git rev-parse --short HEAD)"
python3 tools/sweep_to_json.py "$OLOG" "$ART" "$DATA" "$COPIES" "$SHA" \
  "self-recorded by tools/scale_sweep.sh" \
  --expect "$OUT/oracle_sql.json" || { echo "sweep INCOMPLETE: $ART has queries with no status"; exit 1; }
if [ "$orc" -ne 0 ]; then
  echo "sweep FAILED: comparator reported failures (see $OLOG and $ART)"
  exit 1
fi
echo "sweep OK: $ART"
