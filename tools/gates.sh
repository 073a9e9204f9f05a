#!/usr/bin/env bash
# Round-end gate runner — one command for the MANDATORY pre-commit
# sequence (ROUND_NOTES workflow section):
#
#   1. tools/smoke.sh                       (env canary, ~2 min)
#   2. sbt test                             (full suite, ~11 min)
#   3. full corpus oracle gate at sf0.01    (Verify + strict check.py)
#   4. full corpus oracle gate at sf0.1     (10x headroom)
#   5. TPC-DS x10 rehearsal (103 stmts)     (oracle-checked)
#   6. TPC-DS x100 rehearsal (103 stmts)    (standing gate since r9)
#   7. pipeline-tier x20 rehearsal          (PipeScale; standing since r9)
#
# Usage: tools/gates.sh [--skip-test] [--skip-x100]
#   --skip-test   when `sbt test` already ran green on this exact tree
#   --skip-x100   for mid-session iteration (the round-end run MUST
#                 include it)
#   Skipping ANY stage makes the run end "GATES PARTIAL" (exit 2) —
#   the "ALL GATES GREEN" line only prints when all seven stages ran
#   in the same invocation (r10 verdict #5).
#
# Each stage appends PASS/FAIL to target/gates.log and the script exits
# non-zero at the first failure. TPC-DS stages reuse warm generated dirs
# (target/tpcds-x10 / -x100) when present.
set -uo pipefail
cd "$(dirname "$0")/.."
LOG=target/gates.log
# Defaults sized to this box: every core, and half the RAM clamped to
# 2..24 GB (the Tier-1 test command's SPARK_DRIVER_MEM rule, with the
# ceiling of the old fixed 24g default). Override via the environment.
: "${SPARK_GRAFT_CPUS:=$(env -u OMP_NUM_THREADS nproc)}"
: "${JVM_MEM:=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
export SPARK_GRAFT_CPUS JVM_MEM
echo "== gates run $(date -u +%FT%TZ) ==" | tee -a "$LOG"

fail() { echo "GATE FAIL: $1" | tee -a "$LOG"; exit 1; }
PASSED=()
ok()   { echo "GATE PASS: $1" | tee -a "$LOG"; PASSED+=("$1"); }

run_corpus() { # $1 = sf dir, $2 = out dir
  tools/run_jvm.sh graft.Verify "$1" "$2" >"$2.log" 2>&1 \
    || fail "Verify crashed at $1 (see $2.log)"
  python3 tools/check.py "$1" "$2" >"$2.check" 2>&1 \
    || { tail -15 "$2.check"; fail "oracle compare at $1"; }
  tail -1 "$2.check"
}

run_tpcds() { # $1 = scale
  local out="target/tpcds_gate_x$1"
  SPARK_GRAFT_TPCDS_SCALE="$1" SPARK_GRAFT_ONLY="$(python3 - <<'EOF'
names = [f"tpcds_q{n:02d}" for n in range(1, 100)]
two = {14, 23, 24, 39}
print(",".join(n + s for n in names
               for s in (("a", "b") if int(n[-2:]) in two else ("",))))
EOF
)" tools/run_jvm.sh graft.Verify /root/testdata/sf0.001 "$out" \
    >"$out.log" 2>&1 || fail "tpcds x$1 Verify crashed (see $out.log)"
  python3 tools/check.py /root/testdata/sf0.001 "$out" --present-only \
    >"$out.check" 2>&1 || { tail -15 "$out.check"; fail "tpcds x$1 oracle"; }
  tail -1 "$out.check"
}

tools/smoke.sh >/dev/null || fail "smoke"
ok "smoke"

if [[ " $* " != *" --skip-test "* ]]; then
  sbt -batch test >target/gates_sbt_test.log 2>&1 \
    || { tail -30 target/gates_sbt_test.log; fail "sbt test"; }
  grep -E "Tests: succeeded" target/gates_sbt_test.log | tail -1 \
    || fail "sbt test (no 'Tests: succeeded' line)"
  ok "sbt test"
fi

run_corpus /root/testdata/sf0.01 /tmp/gate_sf001; ok "corpus sf0.01"
run_corpus /root/testdata/sf0.1  /tmp/gate_sf01;  ok "corpus sf0.1"
run_tpcds 10; ok "tpcds x10"
if [[ " $* " != *" --skip-x100 "* ]]; then
  run_tpcds 100; ok "tpcds x100"
fi
SPARK_GRAFT_PIPE_SCALE=20 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  tools/run_jvm.sh graft.tools.PipeScale >target/pipescale.log 2>&1 \
  || { tail -15 target/pipescale.log; fail "pipescale x20"; }
grep "ALL PASS" target/pipescale.log || fail "pipescale x20 (no ALL PASS)"
ok "pipescale x20"

# ALL GATES GREEN requires every stage to have run IN THIS INVOCATION
# (r10 verdict #5: a --skip-test run once printed the green line with no
# sbt-test stage on record). Skipped stages yield GATES PARTIAL + a
# non-zero exit — fine for mid-session iteration, never for round end.
REQUIRED=("smoke" "sbt test" "corpus sf0.01" "corpus sf0.1" \
          "tpcds x10" "tpcds x100" "pipescale x20")
for s in "${REQUIRED[@]}"; do
  if [[ " ${PASSED[*]} " != *" $s "* ]]; then
    echo "== GATES PARTIAL (stage not run: $s) ==" | tee -a "$LOG"
    exit 2
  fi
done
echo "== ALL GATES GREEN ==" | tee -a "$LOG"
