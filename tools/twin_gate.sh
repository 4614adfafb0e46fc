#!/usr/bin/env bash
# The oracle gate twice: graft.Verify + tools/check_oracle.py as
# bin/geoq-spark runs them, then again with every two-path operator (kNN
# rounds, intersects filter, DedupPipeline, connected components) forced
# onto its distributed path by the JVM property
# -Dspark.sql.autoBroadcastJoinThreshold=-1 (Spark copies spark.* system
# properties into the session conf, so Verify and the oracle texts are the
# same in both runs).
#
#   tools/twin_gate.sh <sfDir> <outDir>
#
# Writes <outDir>/default and <outDir>/distributed (one Verify dump each)
# and exits non-zero if either run fails a query. Compile first with
# `sbt -batch compile`.
set -uo pipefail
if [ $# -ne 2 ]; then
  echo "usage: tools/twin_gate.sh <sfDir> <outDir>" >&2
  exit 2
fi
DIR="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SF="$1"
OUT="$2"
status=0
for run in default distributed; do
  rm -rf "${OUT:?}/$run"
  mkdir -p "$OUT/$run"
  # the JVM reads JAVA_TOOL_OPTIONS itself, so bin/geoq-spark's java line
  # gets the property without a change to the launcher
  [ "$run" = distributed ] &&
    export JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:-} -Dspark.sql.autoBroadcastJoinThreshold=-1"
  if ! GEOQ_MAIN=graft.Verify "$DIR/bin/geoq-spark" "$SF" "$OUT/$run" >"$OUT/$run.verify.log" 2>&1; then
    echo "$run: graft.Verify failed, see $OUT/$run.verify.log"
    status=1
    continue
  fi
  python3 "$DIR/tools/check_oracle.py" "$SF" "$OUT/$run" >"$OUT/$run.oracle.log" 2>&1 || status=1
  grep '^FAIL' "$OUT/$run.oracle.log"
  echo "$run: $(tail -n 1 "$OUT/$run.oracle.log")"
done
exit $status
