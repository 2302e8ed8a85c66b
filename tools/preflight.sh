#!/usr/bin/env bash
# One-command round pre-flight: everything the driver's gates will check,
# in the order they fail fastest. Exit code 0 = ship-ready.
#
#   tools/preflight.sh            # full: test + verify/oracle + crime check
#                                 # + bench diff + smoke
#   tools/preflight.sh --quick    # skip sbt test (just gates + smoke)
#   tools/preflight.sh --full     # everything + the 207-query inventory bench
#                                 # vs BENCH_FULL_ANCHOR.json (~10 min extra)
#
# Individual pieces are documented in .claude/skills/verify/SKILL.md.
set -u
cd "$(dirname "$0")/.."
rc=0
step() { echo; echo "=== $1 ==="; }

step "comparator-tooling selftest (<1 s)"
python3 tools/selftest.py || rc=1

step "crime CSV generator tests (<1 s)"
python3 perfbench/test_gen_crime.py || rc=1

if [ "${1:-}" != "--quick" ]; then
  step "sbt test (~6 min)"
  sbt -batch test 2>&1 | tail -4 | grep -E "Tests:|All tests" || rc=1
fi

step "Verify + DuckDB oracle at sf0.01 (driver t2 mirror, ~3 min)"
rm -rf /tmp/preflight_verify
# gate scratch must not outlive the run: any graft_* entry in /tmp or
# /dev/shm that appears during Verify and is still there after it exits
# is a leak
scratch() { ls -d /tmp/graft_* /dev/shm/graft_* 2>/dev/null | sort; }
scratch_before=$(scratch)
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/preflight_verify" \
  2>&1 | grep "\[verify\].*failed" && rc=1
leaked=$(comm -13 <(echo "$scratch_before") <(scratch))
if [ -n "$leaked" ]; then echo "Verify left scratch behind:"; echo "$leaked"; rc=1; fi
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/preflight_verify \
  | tail -1 | tee /dev/stderr | grep -q " 0 fail" || rc=1

step "Crime pipeline vs DuckDB: one crime_etl benchmark run (~1 min)"
# the only DuckDB check of CrimePipeline.runAll's star output and its
# dictionaries (Verify covers weeklyCounts and badRecords)
python3 perfbench/run.py --workload crime_etl --seed 1 --seconds 1 --trace 0 \
  | tail -1 | tee /dev/stderr | python3 -c '
import json, sys
r = json.loads(sys.stdin.read())
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)' || rc=1

step "Entry smoke (driver t1)"
sbt -batch "runMain graft.EntrySmoke" 2>&1 | grep ENTRY_SMOKE | grep PASS || rc=1

step "Headline bench vs quiet-machine anchor (sf0.1, ~2 min)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  2>&1 | grep -q '"metric":"total"' || rc=1
# 3x, not the verdict 2x: a single non-quiet run shouldn't fail pre-flight
# (see BASELINE.md on co-tenant noise); re-time flagged queries isolated
# with SPARK_GRAFT_BENCH_ONLY=<q> SPARK_GRAFT_BENCH_REPS=5 before acting.
python3 tools/bench_diff.py BENCH_ANCHOR.json bench_out.json 3.0 || rc=1

if [ "${1:-}" = "--full" ]; then
  step "Full-inventory bench vs full anchor (sf0.1, ~10 min)"
  SPARK_GRAFT_BENCH_ALL=1 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    sbt -batch "runMain graft.Bench" 2>&1 | grep -q '"metric":"total"' || rc=1
  # factor 2.0 (the verdict threshold), NOT the headline step's noise-
  # tolerant 3.0. No allowlist: the round-13 anchors record the two
  # rank-based order-statistics queries AT their distributed-plan cost
  # (BASELINE.md "Permanent trade"), so a >2x move on any row is a real
  # regression
  python3 tools/bench_diff.py BENCH_FULL_ANCHOR.json bench_out.json 2.0 || rc=1
fi

echo
[ $rc -eq 0 ] && echo "PREFLIGHT PASS" || echo "PREFLIGHT FAIL"
exit $rc
