#!/bin/bash
# Correctness gate: dump every SparkEntry query with graft.Verify at
# sf0.001 and sf0.01, and on the hostile corpus built from each of them
# (tools/make_advdata.py), and compare each dump with the DuckDB oracle
# (tools/compare.py), and print the digests of the oracle SQL
# (tools/oracle_digest.py). The measuring tools' own tests
# (tools/test_bench_diff.py, tools/test_oracle_digest.py) run first, before
# the sbt session. Exits non-zero on any mismatch, missing query, failed
# tool test or failed step. Writes only under target/gate/: the hostile corpora,
# dumps, compare reports, Spark's scratch space and the temp stores some
# queries write. The testdata dir is only read.
# Usage: tools/gate.sh <testdata dir holding sf0.001/ and sf0.01/>
set -euo pipefail
if [ $# -ne 1 ]; then
  echo "usage: $0 <testdata dir holding sf0.001/ and sf0.01/>" >&2
  exit 2
fi
data=$(cd "$1" && pwd)
cd "$(dirname "$0")/.."
# each tool test prints one "ok" line per passing case, then a summary
python3 tools/test_bench_diff.py | grep -v '^ok '
python3 tools/test_oracle_digest.py | grep -v '^ok '
out=$PWD/target/gate
scales=(sf0.001 sf0.01)
mkdir -p "$out/spark-local" "$out/tmp"
# each run: a report name and the data dir it reads
names=() dirs=()
for sf in "${scales[@]}"; do
  names+=("$sf") dirs+=("$data/$sf")
done
for sf in "${scales[@]}"; do
  python3 tools/make_advdata.py "$data/$sf" "$out/data/adv-$sf" > /dev/null
  names+=("adv-$sf") dirs+=("$out/data/adv-$sf")
done
runs=("set javaOptions += \"-Djava.io.tmpdir=$out/tmp\"")
for i in "${!names[@]}"; do
  runs+=("runMain graft.Verify ${dirs[$i]} $out/${names[$i]}")
done
# one sbt session builds once and runs every dump
SPARK_LOCAL_DIRS="$out/spark-local" sbt --batch "${runs[@]}"
# the oracle's identity: raw and whitespace-normalized digests of the dump
python3 tools/oracle_digest.py "$out/${names[0]}/oracle_sql.json"
status=0
for i in "${!names[@]}"; do
  name=${names[$i]}
  if python3 tools/compare.py "${dirs[$i]}" "$out/$name" > "$out/$name.txt"; then
    echo "$name: $(tail -1 "$out/$name.txt")"
  else
    status=1
    echo "$name: FAILED (report: $out/$name.txt)"
    grep -v ': OK (' "$out/$name.txt" || true
  fi
done
exit $status
