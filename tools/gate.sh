#!/bin/bash
# Correctness gate: dump every SparkEntry query with graft.Verify at
# sf0.001 and sf0.01 and compare each dump with the DuckDB oracle
# (tools/compare.py). Exits non-zero on any mismatch, missing query or
# failed step. Writes only under target/gate/: dumps, compare reports,
# Spark's scratch space and the temp stores some queries write.
# Usage: tools/gate.sh <testdata dir holding sf0.001/ and sf0.01/>
set -euo pipefail
if [ $# -ne 1 ]; then
  echo "usage: $0 <testdata dir holding sf0.001/ and sf0.01/>" >&2
  exit 2
fi
data=$(cd "$1" && pwd)
cd "$(dirname "$0")/.."
out=$PWD/target/gate
scales=(sf0.001 sf0.01)
mkdir -p "$out/spark-local" "$out/tmp"
runs=("set javaOptions += \"-Djava.io.tmpdir=$out/tmp\"")
for sf in "${scales[@]}"; do
  runs+=("runMain graft.Verify $data/$sf $out/$sf")
done
# one sbt session builds once and runs both dumps
SPARK_LOCAL_DIRS="$out/spark-local" sbt --batch "${runs[@]}"
status=0
for sf in "${scales[@]}"; do
  if python3 tools/compare.py "$data/$sf" "$out/$sf" > "$out/$sf.txt"; then
    echo "$sf: $(tail -1 "$out/$sf.txt")"
  else
    status=1
    echo "$sf: FAILED (report: $out/$sf.txt)"
    grep -v ': OK (' "$out/$sf.txt" || true
  fi
done
exit $status
