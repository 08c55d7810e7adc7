#!/usr/bin/env bash
# Round-close protocol (VERDICT r12 item 1): ONE FULL `sbt test` run
# must be green before any bench artifact is pinned. The r12 lesson:
# re-running only "affected suites" let a full-suite-only AQE flake
# reach the judge. The suite count is committed next to the bench pins
# so the invariant is auditable.
#
# usage: dev/round_close.sh rNN
set -euo pipefail
tag=${1:?usage: dev/round_close.sh rNN}
[[ "$tag" =~ ^r[0-9]+$ ]] || { echo "tag must look like r13"; exit 1; }

log=/tmp/round_close_tests_${tag}.log
echo "[round_close] full test suite..."
sbt -batch test 2>&1 | tee "$log" | tail -4

grep -q 'All tests passed' "$log" || {
  echo "[round_close] FULL SUITE NOT GREEN — refusing to bench"; exit 1; }

# The value path must not assume a UTC JVM: the suites that encode and
# migrate or stream dates run again with the JVM's default zone set to
# +08:00.
zlog=/tmp/round_close_zone_${tag}.log
echo "[round_close] value-path suites under -Duser.timezone=Asia/Shanghai..."
SPARK_GRAFT_EXTRA_JAVA_OPTS=-Duser.timezone=Asia/Shanghai sbt -batch \
  "testOnly graft.io.PgCopyTextSpec graft.io.JdbcReadSpec graft.transform.ValueTransformsSpec graft.cli.MigrationEndToEndSpec graft.streaming.CopyStreamSpec" \
  2>&1 | tee "$zlog" | tail -4
grep -q 'All tests passed' "$zlog" || {
  echo "[round_close] ZONE PASS NOT GREEN — refusing to bench"; exit 1; }

counts=$(grep -E 'Tests: succeeded' "$log" | tail -1 | sed 's/^\[info\] //')
suites=$(grep -E 'Suites: completed' "$log" | tail -1 | sed 's/^\[info\] //')
mkdir -p bench
printf '{"tag":"%s","suites":"%s","tests":"%s"}\n' \
  "$tag" "$suites" "$counts" > "bench/${tag}_suite.json"
echo "[round_close] suite green: $counts — wrote bench/${tag}_suite.json"

echo "[round_close] bench close (calibration + battery + parity)..."
sbt -batch "runMain graft.BenchClose $tag"
