#!/usr/bin/env bash
# Round-close gate: ONE command, four gates, one summary block.
# Refuses to exit 0 unless every gate passes AND the counts it prints
# are internally consistent (pass count == declared oracle count).
# Mechanizes the checklist that r12 fumbled between manual steps; the
# round log should quote this script's single summary block verbatim.
#
# Gates:
#   1. sbt -batch test                      (full ScalaTest suite)
#   2. GRAFT_CATALOG_SF=sf0.01 CatalogSpec  (boundary sweep at gate SF)
#   3. Verify @ sf0.01 + check_oracle       (the driver's t2 replica;
#                                            Verify itself exits nonzero
#                                            on a boundary violation, and
#                                            must leave no directory in
#                                            target/run/)
#   4. Smoke                                (the driver's t1 replica)
set -u
cd "$(dirname "$0")/.."
LOG=target/round_close
mkdir -p "$LOG"
SF_DIR=/root/testdata/sf0.01
FAIL=0

note() { printf '%s\n' "$*"; }

# ---- gate 1: full test suite --------------------------------------
sbt -batch test >"$LOG/test.log" 2>&1
G1=$?
T_LINE=$(grep -E '^\[info\] Tests: ' "$LOG/test.log" | tail -1)
T_OK=$(sed -nE 's/.*succeeded ([0-9]+).*/\1/p' <<<"$T_LINE")
T_FAIL=$(sed -nE 's/.*failed ([0-9]+).*/\1/p' <<<"$T_LINE")
[ "$G1" -eq 0 ] && [ "${T_FAIL:-1}" = "0" ] || FAIL=1

# ---- gate 2: catalog boundary sweep at the driver's gate SF -------
GRAFT_CATALOG_SF=sf0.01 sbt -batch "testOnly graft.CatalogSpec" \
  >"$LOG/catalog.log" 2>&1
G2=$?
C_LINE=$(grep -E '^\[info\] Tests: ' "$LOG/catalog.log" | tail -1)
C_OK=$(sed -nE 's/.*succeeded ([0-9]+).*/\1/p' <<<"$C_LINE")
C_FAIL=$(sed -nE 's/.*failed ([0-9]+).*/\1/p' <<<"$C_LINE")
[ "$G2" -eq 0 ] && [ "${C_FAIL:-1}" = "0" ] || FAIL=1

# ---- gate 3: Verify dump + DuckDB oracle compare ------------------
rm -rf "$LOG/verify"
sbt -batch "runMain graft.Verify $SF_DIR $LOG/verify" \
  >"$LOG/verify.log" 2>&1
G3V=$?
# every graft JVM removes its run root (target/run/<applicationId>)
# at exit; a directory still there after Verify has exited leaked
RUN_LEFT=$(find target/run -mindepth 1 -maxdepth 1 -type d 2>/dev/null | wc -l)
python3 tools/check_oracle.py "$SF_DIR" "$LOG/verify" \
  >"$LOG/oracle.log" 2>&1
G3O=$?
O_LINE=$(grep -E '[0-9]+ pass / [0-9]+ fail' "$LOG/oracle.log" | tail -1)
O_PASS=$(sed -nE 's/^([0-9]+) pass.*/\1/p' <<<"$O_LINE")
O_FAIL=$(sed -nE 's/.* ([0-9]+) fail.*/\1/p' <<<"$O_LINE")
N_ORACLE=$(python3 -c "import json; \
  print(len(json.load(open('$LOG/verify/oracle_sql.json'))))" \
  2>/dev/null || echo "?")
# consistency: every declared oracle must be a PASS — a pass count
# below the declared count means an entry errored or hash-failed
if [ "$G3V" -ne 0 ] || [ "$G3O" -ne 0 ] || [ "${O_FAIL:-1}" != "0" ] \
   || [ "${O_PASS:-x}" != "$N_ORACLE" ] || [ "$RUN_LEFT" -ne 0 ]; then FAIL=1; fi

# ---- gate 4: flagship smoke ---------------------------------------
sbt -batch "runMain graft.Smoke" >"$LOG/smoke.log" 2>&1
G4=$?
S_LINE=$(grep -E '^\[smoke\] entry rows = ' "$LOG/smoke.log" | tail -1)
S_ROWS=$(sed -nE 's/.*rows = ([0-9]+).*/\1/p' <<<"$S_LINE")
[ "$G4" -eq 0 ] && [ "${S_ROWS:-0}" -gt 0 ] || FAIL=1

# ---- the single summary block -------------------------------------
note "==================== round_close summary ===================="
note "gate 1 sbt test:      exit=$G1 succeeded=${T_OK:-?} failed=${T_FAIL:-?}"
note "gate 2 CatalogSpec:   exit=$G2 succeeded=${C_OK:-?} failed=${C_FAIL:-?} (GRAFT_CATALOG_SF=sf0.01)"
note "gate 3 Verify+oracle: verify_exit=$G3V oracle_exit=$G3O pass=${O_PASS:-?}/${N_ORACLE} fail=${O_FAIL:-?} run_dirs_left=$RUN_LEFT"
note "gate 4 Smoke:         exit=$G4 entry_rows=${S_ROWS:-?}"
if [ "$FAIL" -eq 0 ]; then
  note "VERDICT: ALL GATES GREEN"
else
  note "VERDICT: FAILED — see $LOG/*.log"
fi
note "============================================================="
exit $FAIL
