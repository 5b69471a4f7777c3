#!/bin/bash
# Run one workload once per seed and append one line per run to OUT, in the
# format crawlbench/spread.py reads.  Run from the repository root:
#
#   bash crawlbench/repeat.sh runs.jsonl parse-wide 101 102 103
#
set -u
out=$1; workload=$2; shift 2
log=$(mktemp -p . .crawlbench_repeat.XXXXXX)
for seed in "$@"; do
  start=$(date +%s.%N)
  python3 crawlbench/run.py --workload "$workload" --seed "$seed" --seconds 30 --trace 0 > "$log" 2>&1
  rc=$?
  end=$(date +%s.%N)
  total=$(python3 -c "print($end - $start)")
  digest=$(sed -n 's/^digest=//p' "$log")
  echo "{\"w\": \"$workload\", \"seed\": $seed, \"rc\": $rc, \"total\": $total, \"digest\": \"$digest\", \"res\": $(tail -n 1 "$log")}" >> "$out"
done
rm -f "$log"
