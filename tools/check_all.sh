#!/usr/bin/env bash
# Dev-only full validation: every main named in README, clean build, tests,
# oracle cross-check at two scales, flagship smoke, bench and the
# benchmark's smoke run.
set -euo pipefail
cd "$(dirname "$0")/.."
status_before=$(git status --porcelain)

# every main under src/main is named in README.md: a main that no
# documented workflow runs is deleted, not kept
for m in $(awk '/^object [A-Za-z0-9_]+/ {o = $2} /def main\(/ {print o}' \
    $(grep -rl 'def main(' src/main/scala)); do
  grep -qw "$m" README.md || { echo "main $m is not named in README.md" >&2; exit 1; }
done
# library code does not change its caller's session settings
! grep -rn 'conf\.set(' src/main \
  || { echo "src/main calls conf.set( on a caller's session" >&2; exit 1; }
# a schema is read from a footer, not learned by a Spark inference job
! grep -rnE 'read\.parquet\([^)]*\)\.schema' src/main \
  || { echo "src/main runs a Spark job only to learn a parquet schema" >&2; exit 1; }
# a query pins a shared frame only through SessionMemo.frames
! grep -rn '\.persist(' src/main/scala/graft/queries --exclude=SessionMemo.scala \
  || { echo "a query persists a frame outside SessionMemo.frames" >&2; exit 1; }
# a swap-managed snapshot is read only through Artifacts.readSnapshot
! grep -rn 'emptyRDD' src/main --exclude=Artifacts.scala \
  || { echo "src/main builds an empty snapshot outside Artifacts.readSnapshot" >&2; exit 1; }
# every main builds its session through SparkEntry.localSession
! grep -rn 'SparkSession\.builder' src/main --exclude=SparkEntry.scala \
  || { echo "src/main builds a SparkSession outside SparkEntry.scala" >&2; exit 1; }

sbt -batch clean test

sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/vout_ca"
python3 tools/xcheck.py /root/testdata/sf0.01 /tmp/vout_ca

sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/vout_ca001"
python3 tools/xcheck.py /root/testdata/sf0.001 /tmp/vout_ca001

sbt -batch "runMain graft.Demo" | grep -a "rows=799"
sbt -batch "runMain graft.Bench" | grep -a '"metric"'
# every perfbench workload at a tiny size with its output checks on: relay
# rows against the generator's own, lake outputs through xcheck.py
python3 perfbench/run.py --smoke
# the checks leave the working tree as they found it
if [ "$(git status --porcelain)" != "$status_before" ]; then
  echo "check_all.sh changed the working tree:" >&2
  git status --porcelain >&2
  exit 1
fi
echo "ALL CHECKS PASSED"
