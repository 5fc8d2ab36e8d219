#!/usr/bin/env bash
# One-command round close (VERDICT r17 #6): the whole end-of-round
# cadence — schema canary, full spec suite, cross-SF oracle gate
# (x3 SFs), SHUFFLE_AUDIT regen + growth rule, WindowScan, PLANS.md
# regen, BPE-golden drift gate, COVERAGE totals gate, the sf0.1 bench,
# and the bench_diff --gate adjudication — as ONE invocation writing
# ONE ledger stamp (docs/probes/round_close_r{N}.txt). r17 ran all of
# these as five manual steps the ledger then had to narrate.
#
# Usage: tools/round_close.sh <round> [prev-round] [--skip-bench]
#   e.g. tools/round_close.sh 18         # gates + bench, diffs vs r17
#        tools/round_close.sh 18 --skip-bench   # gates only (iterating)
set -uo pipefail
ROUND="${1:?usage: round_close.sh <round> [prev-round] [--skip-bench]}"
shift
PREV=$((ROUND - 1))
SKIP_BENCH=0
for a in "$@"; do
  case "$a" in
    --skip-bench) SKIP_BENCH=1 ;;
    *) PREV="$a" ;;
  esac
done
cd "$(dirname "$0")/.."
LEDGER="docs/probes/round_close_r${ROUND}.txt"
: > "$LEDGER"
FAILED=()

note() { echo "$*" | tee -a "$LEDGER"; }
run() { # run <name> <cmd...>: full output to the ledger, verdict to both
  local name="$1"; shift
  note "== $name"
  if "$@" >> "$LEDGER" 2>&1; then
    note "== $name: OK"
  else
    note "== $name: FAIL (exit $?)"
    FAILED+=("$name")
  fi
}

note "ROUND-CLOSE r${ROUND} (diff vs r${PREV})  $(git rev-parse --short HEAD)  $(date -u +%FT%TZ)"

# 0. testdata schema canary — the driver regenerates /root/testdata
run schema_canary python3 tools/check_schemas.py

# 1. full spec suite (log kept for the coverage gate)
# NOTE every bash -c below sets pipefail itself: run() spawns a FRESH
# bash whose pipelines otherwise report the LAST command's status —
# r18 run-1 recorded bench_gate: OK while bench_diff exited 1 behind a
# tee
run spec_suite bash -c "set -o pipefail; sbt -batch test 2>&1 | tee /tmp/sbt_test.log | tail -4"

# 2. cross-SF oracle gate: Verify x3 SFs in ONE sbt JVM, then DuckDB
#    compare per SF (the driver's gate runs sf0.01; sf0.001 catches
#    empty-branch assumptions, sf0.1 catches SF-scaling ones)
run verify_x3 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.001 /tmp/graft_verify_sf0.001" \
  "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify_sf0.01" \
  "runMain graft.Verify /root/testdata/sf0.1 /tmp/graft_verify_sf0.1"
for sf in 0.001 0.01 0.1; do
  run "oracle_sf${sf}" bash -c \
    "python3 tools/check.py /root/testdata/sf${sf} /tmp/graft_verify_sf${sf} 2>&1 | tee /tmp/check_sf${sf}.log | tail -2 | grep -q ' 0 fail'"
done
cp -f /tmp/check_sf0.01.log /tmp/check.log   # the coverage gate reads this

# 3. plan-grade audits: SHUFFLE_AUDIT.json regen (growth rule checked by
#    the coverage gate below), WindowScan (unpartitioned windows),
#    PLANS.md regen — one sbt JVM. SPARK_GRAFT_CPUS is unset for this
#    step only: the committed artifacts are generated at each tool's own
#    default core count (ShuffleAudit 32, PlanDump 8), and a caller's
#    value (e.g. the spec suite's nproc) would rewrite every partition
#    count with the box's core count instead of the code's plan.
run plan_audits env -u SPARK_GRAFT_CPUS sbt -batch \
  "runMain graft.tools.ShuffleAudit" \
  "runMain graft.tools.WindowScan" \
  "runMain graft.tools.PlanDump"

# 4. BPE golden drift gate
run bpe_goldens bash -c "python3 tools/gen_bpe_goldens.py > /dev/null"

# 5. COVERAGE totals + operator-map gate (regenerates on drift — commit
#    the regenerated COVERAGE.md with the round-close change)
run coverage_gate bash -c \
  "python3 tools/update_coverage.py --check /tmp/sbt_test.log /tmp/graft_verify_sf0.01 /tmp/check.log \
   || { python3 tools/update_coverage.py /tmp/sbt_test.log /tmp/graft_verify_sf0.01 /tmp/check.log && echo 'COVERAGE.md REGENERATED — commit it'; }"

# 6. the sf0.1 bench + cross-round gate (self-flagged drift excused,
#    stored-reference creep fatal) + the per-round benchdiff ledger
if [[ "$SKIP_BENCH" == 0 ]]; then
  run bench bash -c \
    "set -o pipefail; SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
     sbt -batch 'runMain graft.Bench' 2>&1 | tee /tmp/bench_round.log | grep -E '^\{\"metric\"' > /tmp/bench_compact.json"
  run windowexec_grep bash -c "! grep -q 'WindowExec: No Partition Defined' /tmp/bench_round.log"
  if [[ -f "BENCH_r$(printf '%02d' "$PREV").json" ]]; then
    run bench_gate bash -c \
      "set -o pipefail; python3 tools/bench_diff.py --gate bench_latest.json BENCH_r$(printf '%02d' "$PREV").json 2>&1 | tee docs/probes/benchdiff_r${ROUND}.txt"
  else
    note "== bench_gate: SKIP (no BENCH_r$(printf '%02d' "$PREV").json)"
  fi
  note "compact line: $(wc -c < /tmp/bench_compact.json 2>/dev/null || echo '?') bytes (budget 1800)"
fi

note ""
if [[ ${#FAILED[@]} -eq 0 ]]; then
  note "ROUND-CLOSE r${ROUND}: ALL GATES GREEN — ledger $LEDGER"
else
  note "ROUND-CLOSE r${ROUND}: FAILED GATES: ${FAILED[*]} — ledger $LEDGER"
  exit 1
fi
