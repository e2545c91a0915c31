#!/usr/bin/env bash
# End-of-round gate (VERDICT r11 #5): run BEFORE the snapshot commit and
# paste the summary into the commit message. Rounds 10 and 11 both
# shipped last-hours work unverified (uncast oracles; a non-compiling
# spec) — every check below existed to catch both.
#
#   bash scripts/gate.sh [sfDir] [outDir]
#
# 1. session factory lint  — SparkSession.builder() only in core/Sessions.scala
# 2. view owner lint       — createOrReplaceTempView only in core/Materialize.scala
#                            and Tables.registerAll
# 3. sbt test              — full suite must compile AND run green
# 4. graft.Verify          — dump every oracle entry at sf0.01 (fails on
#                            Verify's exit: any entry that did not dump)
# 5. scripts/check.py      — value-compare vs the DuckDB oracle
# 6. scripts/oracle_types.py — no HUGEINT/DECIMAL leaks in oracle types
# 7. git status --porcelain  — no untracked/modified round artifacts
#
# pipefail is load-bearing: every check below is piped through
# tail/tee, and without it the gate tests the PIPE's exit status, not
# sbt's or python's — exactly the silent-green failure this script
# exists to prevent.
set -u -o pipefail
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/verify_gate}"
cd "$(dirname "$0")/.."
SUMMARY=""

echo "== gate 1/7: one session factory"
# Every main builds its session through graft.core.Sessions, so the
# session Verify checks against the oracle is the one Bench times and
# Runner ships. A second builder under src/main lets them drift apart.
BUILDERS="$(grep -rn 'SparkSession\.builder\b' src/main \
  | grep -v '^src/main/scala/graft/core/Sessions\.scala:' || true)"
if [ -n "$BUILDERS" ]; then
  echo "$BUILDERS"
  echo "GATE FAIL: SparkSession.builder() outside src/main/scala/graft/core/Sessions.scala"
  exit 1
fi
SUMMARY+="session factory: one SparkSession.builder() (core/Sessions.scala)\n"

echo "== gate 2/7: one owner for engine view names"
# graft.core.Materialize names, memoizes and lands every engine
# relation, so no two dirs or calls can share a view by accident. The
# one other registration is Tables.registerAll: its bare table names
# are the SQL the DuckDB oracle shares verbatim.
VIEWS="$(grep -rn 'createOrReplaceTempView' src/main \
  | grep -v '^src/main/scala/graft/core/Materialize\.scala:' \
  | grep -v '^src/main/scala/graft/core/Tables\.scala:[0-9]*:      load(spark, dir, n, parallelize)\.createOrReplaceTempView(n)$' \
  || true)"
if [ -n "$VIEWS" ]; then
  echo "$VIEWS"
  echo "GATE FAIL: createOrReplaceTempView outside core/Materialize.scala and Tables.registerAll"
  exit 1
fi
SUMMARY+="view owner: createOrReplaceTempView only in core/Materialize.scala + Tables.registerAll\n"

echo "== gate 3/7: sbt test"
if sbt -batch test 2>&1 | tail -5 | tee /tmp/gate_sbt.txt; then
  SUMMARY+="sbt test: $(grep -Eo 'Tests: succeeded [0-9]+, failed [0-9]+' /tmp/gate_sbt.txt | tail -1)\n"
else
  echo "GATE FAIL: sbt test"; exit 1
fi

echo "== gate 4/7: graft.Verify at $SF_DIR"
CP="$(ls /opt/spark/jars/*.jar | tr '\n' ':')target/scala-2.13/classes"
SPARK_GRAFT_CPUS=8 java -Xmx12g \
  $(for m in java.lang java.lang.invoke java.lang.reflect java.io java.net \
             java.nio java.util java.util.concurrent java.util.concurrent.atomic; do \
      echo "--add-opens=java.base/$m=ALL-UNNAMED"; done) \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" graft.Verify "$SF_DIR" "$OUT_DIR" 2>/dev/null > /tmp/gate_verify.txt
VERIFY_RC=$?
# the grep only shows the failed entries; Verify's own exit decides
grep -i fail /tmp/gate_verify.txt || true
if [ "$VERIFY_RC" -ne 0 ]; then
  echo "GATE FAIL: graft.Verify exited $VERIFY_RC"; exit 1
fi
SUMMARY+="verify: $(tail -1 /tmp/gate_verify.txt)\n"

echo "== gate 5/7: oracle value compare (persists CORRECTNESS_local.json)"
# --json writes the per-query verdicts in the driver artifact's shape;
# r13's driver artifact came back empty, so the repo commits its own
# (VERDICT r13 #1). Commit the refreshed file with the closing docs.
if python3 scripts/check.py --json CORRECTNESS_local.json "$SF_DIR" "$OUT_DIR" 2>&1 | tail -3 | tee /tmp/gate_check.txt; then
  SUMMARY+="oracle compare: $(grep -E '^== ' /tmp/gate_check.txt | tail -1)\n"
else
  echo "GATE FAIL: oracle compare"; exit 1
fi

echo "== gate 6/7: oracle result-type sweep"
if python3 scripts/oracle_types.py "$SF_DIR" "$OUT_DIR" 2>&1 | tail -2 | tee /tmp/gate_types.txt; then
  SUMMARY+="oracle types: $(tail -1 /tmp/gate_types.txt)\n"
else
  echo "GATE FAIL: oracle types"; exit 1
fi

echo "== gate 7/7: working tree clean (round artifacts committed)"
# CORRECTNESS_local.json is exempt: gate 5 just regenerated it from THIS
# tree, so it is never stale last-minute work — it is the artifact the
# closing commit must include. Everything else dirty still fails.
DIRTY="$(git status --porcelain | grep -v ' CORRECTNESS_local\.json$' || true)"
if [ -n "$DIRTY" ]; then
  echo "$DIRTY"
  echo "GATE FAIL: untracked/modified files — commit round artifacts first"
  exit 1
fi
if [ -n "$(git status --porcelain CORRECTNESS_local.json)" ]; then
  echo "NOTE: commit the regenerated CORRECTNESS_local.json with the closing docs."
fi
SUMMARY+="working tree: clean (CORRECTNESS_local.json regenerated — commit it)\n"

echo
echo "== GATE GREEN — paste into the snapshot commit message:"
printf "$SUMMARY"
# One-line correctness JSON as the VERY LAST stdout line (VERDICT r14 #1):
# the driver's ~2 KB stdout tail capture parses this; CORRECTNESS_r{13,14}
# came back {} because nothing machine-readable survived the tail.
grep -h '"n_correct"' /tmp/gate_check.txt | tail -1
