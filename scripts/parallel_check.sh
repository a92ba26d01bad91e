#!/bin/bash
# Parallel full-board oracle compare: splits the declared queries into N
# chunks and runs N check_oracle.py processes concurrently (DuckDB holds no
# lock), each with 1/N of the cpus and memory (CHECK_ORACLE_PROCS). On a
# 4-core host the serial compare takes about 16 s at sf0.01 and 4.5 min at
# sf0.1, so this mainly helps on hosts with many cores.
# Chunk lists and per-chunk logs go to a fresh directory per run (printed
# first), so concurrent runs do not clobber each other.
# usage: scripts/parallel_check.sh <verify_out_dir> <sf_dir> [nchunks]
set -u
OUT=$1; SF=$2; N=${3:-6}
NAMES=$(python3 -c "
import json
print(' '.join(sorted(json.load(open('$OUT/oracle_sql.json')).keys())))")
WORK=$(mktemp -d "${TMPDIR:-/tmp}/gpc.XXXXXX") || exit 1
echo "chunk lists and logs: $WORK"
i=0
for name in $NAMES; do echo $name >> $WORK/chunk_$((i % N)).txt; i=$((i+1)); done
pids=()
for c in $(seq 0 $((N-1))); do
  [ -f $WORK/chunk_$c.txt ] || continue
  (CHECK_ORACLE_PROCS=$N python3 "$(dirname "$0")/check_oracle.py" $OUT $SF $(tr '\n' ' ' < $WORK/chunk_$c.txt) \
     > $WORK/out_$c.log 2>&1) &
  pids+=($!)
done
for p in "${pids[@]}"; do wait $p; done
grep -hE "^(PASS|FAIL)" $WORK/out_*.log | sort > $WORK/summary.txt
NPASS=$(grep -c '^PASS' $WORK/summary.txt); NFAIL=$(grep -c '^FAIL' $WORK/summary.txt)
NDISPATCHED=$(echo $NAMES | wc -w)
echo "PASS: $NPASS  FAIL: $NFAIL  (dispatched: $NDISPATCHED)"
grep '^FAIL' $WORK/summary.txt || true
# A chunk whose python process died (OOM, import error) silently drops its
# queries from the summary — reconcile against the dispatch list and fail
# loudly, naming the missing queries, rather than understating coverage.
if [ $((NPASS + NFAIL)) -ne $NDISPATCHED ]; then
  echo "ERROR: $((NDISPATCHED - NPASS - NFAIL)) dispatched queries missing from summary:"
  for name in $NAMES; do
    grep -q "^PASS $name \|^FAIL $name[: ]" $WORK/summary.txt \
      || echo "  MISSING: $name"
  done
  exit 1
fi
[ $NFAIL -eq 0 ] || exit 2
