#!/usr/bin/env bash
# One full round drive: unit suite -> oracle gate -> 10x scale soak ->
# bench. Run from the repo root on an otherwise-idle box (concurrent
# compiles pollute bench medians; loadavg is stamped in the record so a
# polluted run self-identifies).
#
#   tools/round.sh [sf_dir_verify] [sf_dir_bench]
#
# The soak (SoakSpec, tag graft.Soak) is opt-in in build.sbt; this script
# is what makes it once-per-round instead of adjudication-only — paste its
# wall times into SCALE.md's soak table.
set -euo pipefail
VERIFY_SF="${1:-/root/testdata/sf0.01}"
BENCH_SF="${2:-/root/testdata/sf0.1}"

echo "== unit/property suite =="
sbt -batch test

# Twice against one fresh artifact store: the cold pass builds every
# artifact and serves its committed read-back, the warm pass faults every
# artifact in. Both must pass the diff, and the warm pass must commit no
# new entry (one would mean a content key differs from JVM to JVM).
echo "== oracle gate (Verify + DuckDB diff at $VERIFY_SF, cold then warm store) =="
STORE="$(mktemp -d -t graft_verify_store.XXXXXX)"
for pass in cold warm; do
  GRAFT_ARTIFACT_DIR="$STORE" sbt -batch "runMain graft.Verify $VERIFY_SF /tmp/graft_verify_$pass"
  python3 tools/diffcheck.py "$VERIFY_SF" "/tmp/graft_verify_$pass"
  entries="$(find "$STORE" -maxdepth 1 \( -name 'df_*' -o -name 'model_*' \) | wc -l)"
  echo "$pass pass: $entries stored artifacts"
  if [ "$pass" = cold ]; then cold_entries="$entries"
  elif [ "$entries" != "$cold_entries" ]; then
    echo "warm pass committed $((entries - cold_entries)) new artifacts: a key drifted" >&2
    exit 1
  fi
done
rm -rf "$STORE"

echo "== 10x scale soak (SoakSpec) =="
sbt -batch 'set Test/testOptions := Seq(); testOnly graft.SoakSpec -- -n graft.Soak'

echo "== bench ($BENCH_SF) =="
SPARK_GRAFT_SF_DIR="$BENCH_SF" SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench"
echo "bench record: BENCH_LAST.json"
