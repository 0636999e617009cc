#!/bin/bash
# Artifact chain over one or more corpus dirs (a driver sf dir, or one
# written by graft.ScaleData).
#
#   tools/chain.sh <sfDir> [<sfDir> ...]
#
# Correctness legs first, for each dir in order: graft.Verify dumps every
# registered query, then tools/check_oracle.py compares the dump against
# DuckDB. A leg fails the chain when a query EXHAUSTED its retry, when
# the dump does not hold REG query dirs + oracle_sql.json, or when the
# compare reports an error other than no_oracle or any hash mismatch.
#
# Timed legs next, for each dir: graft.Bench, strictly serial, each
# behind two gates — quiet() refuses a leg while another JVM or a DuckDB
# compare is alive, and fresh() drops the page cache and refuses the leg
# unless the drop took (a cache-churned box inflates the many-small-file
# query families 2-13x at an unremarkable load1). fresh() writes
# /proc/sys/vm/drop_caches, so timed legs need root. Bench itself only
# RECORDS load1/other_jvms/cached_mb; these gates are what refuse.
#
# With two or more dirs, tools/scaling_report.py compares the first two
# Bench dumps (the second dir 10 times the first) plus the third when
# given.
#
# Env: OUT (artifact dir, default /tmp/graft_chain); SPARK_GRAFT_CPUS,
# SPARK_DRIVER_MEM and GRAFT_DUCKDB_* pass through to the JVMs and the
# compare.
set -o pipefail
[ $# -ge 1 ] || { echo "usage: $0 <sfDir> [<sfDir> ...]"; exit 2; }
cd "$(dirname "$0")/.." || exit 1
# registered query count (SparkEntry.queries): update with the registry
REG=139
OUT=${OUT:-/tmp/graft_chain}
step() { echo "=== $(date +%H:%M:%S) $1 ==="; }
mkdir -p "$OUT" .duckspill

vlog() {
  grep '\[verify\]' "$1" || true
  tail -1 "$1"
  ! grep -q 'EXHAUSTED retries' "$1"
}
quiet() {
  local n
  while pgrep -f check_oracle.py >/dev/null; do
    echo "waiting for a running DuckDB compare before the timed leg..."
    sleep 60
  done
  n=$(pgrep -c java || true)
  [ "${n:-0}" -le 1 ] || { echo "BOX CONTENDED: $n java processes"; exit 1; }
}
fresh() {
  sync && echo 3 > /proc/sys/vm/drop_caches
  local mb
  mb=$(awk '/^Cached:/{print int($2/1024)}' /proc/meminfo)
  [ "${mb:-0}" -le 4096 ] || {
    echo "CACHE GATE: Cached=${mb} MB after drop_caches (>4096) — timed leg refused"
    exit 1
  }
  echo "cache gate ok: Cached=${mb} MB"
}
# gate <artifact>: no errors besides no_oracle, no hash mismatches
gate() {
  python3 - "$1" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
bad = [k for k, v in d.items() if not k.startswith('_') and v.get('err') not in (None, 'no_oracle')]
fail = [k for k, v in d.items() if not k.startswith('_') and v.get('hash_match') is False]
print(sys.argv[1], 'errors:', bad, 'hash fails:', fail)
assert not bad and not fail
EOF
}
# tag <index> <dir>: artifact name stem, unique even for equal basenames
tag() { echo "$1_$(basename "$2")"; }

i=0
for dir in "$@"; do
  t=$(tag $i "$dir"); i=$((i+1))
  step "verify @ $dir"
  rm -rf "$OUT/vout_$t"
  sbt -batch "runMain graft.Verify $dir $OUT/vout_$t" > "$OUT/verify_$t.log" 2>&1 || exit 1
  vlog "$OUT/verify_$t.log" || exit 1
  [ "$(ls "$OUT/vout_$t" | wc -l)" -eq $((REG+1)) ] || { echo "INCOMPLETE DUMP $dir"; exit 1; }
  step "compare @ $dir"
  rm -f "$OUT/correctness_$t.json"
  GRAFT_DUCKDB_TEMPDIR=${GRAFT_DUCKDB_TEMPDIR:-$PWD/.duckspill} \
    python3 tools/check_oracle.py "$dir" "$OUT/vout_$t" "$OUT/correctness_$t.json" \
    > "$OUT/compare_$t.log" 2>&1
  gate "$OUT/correctness_$t.json" || exit 1
done

i=0
benches=()
for dir in "$@"; do
  t=$(tag $i "$dir"); i=$((i+1))
  step "bench @ $dir — quiet box + fresh cache"
  quiet; fresh
  SPARK_GRAFT_SF_DIR=$dir SPARK_GRAFT_BENCH_OUT=$OUT/bench_$t.json \
    sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1 || exit 1
  benches+=("$OUT/bench_$t.json")
done

if [ ${#benches[@]} -ge 2 ]; then
  step "scaling report"
  python3 tools/scaling_report.py "${benches[0]}" "${benches[1]}" 10 \
    ${benches[2]:+"${benches[2]}"} > "$OUT/BENCH_SCALING.json" || exit 1
  grep -c "HEAVY-UNANNOTATED" "$OUT/BENCH_SCALING.json" || true
fi

step "chain complete: artifacts in $OUT"
