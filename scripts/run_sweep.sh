#!/bin/bash
# Isolated end-of-round evidence sweep: 3-scale bench + correctness gates on
# the checked-out HEAD in a clean host window. Usage:
#
#   scripts/run_sweep.sh <round>        # e.g. r14; run inside tmux
#
# The round tag only names the /tmp outputs (/tmp/<round>_b01a.json, ...).
# Every scale runs 2 bench legs, min-merged by build_bench_scale.py; each
# leg waits for foreign bench/gate JVMs to exit and for the load average to
# drop (tmux keeps the sequence alive and serialized — a killed wrapper
# shell would orphan the JVM). The sf1 oracle gate skips the quadratic
# queries; the sf10 gate runs the hash-friendly subset. A final
# SPARK_GRAFT_CPUS=8 sf0.1 leg records the low-core scaling evidence.
set -x
round=${1:?usage: run_sweep.sh <round>}
cd "$(dirname "$0")/.."
git rev-parse HEAD > "/tmp/${round}_sweep_head.txt"

drain_jvms() {
  for _ in $(seq 1 30); do
    pgrep -f "mdf-spark-bench|mdf-oracle-gate|mdf-diag" > /dev/null || return 0
    sleep 2
  done
  echo "FOREIGN JVM still alive after 60s — abort"
  return 1
}

wait_idle() {
  for _ in $(seq 1 40); do
    l=$(cut -d' ' -f1 /proc/loadavg)
    awk -v l="$l" 'BEGIN{exit !(l <= 2.0)}' && return 0
    sleep 15
  done
  echo "load stayed > 2 for 10m — proceeding anyway (recorded in host_state)"
}

for leg in 01a 01b 1a 1b 10a 10b; do
  drain_jvms || exit 1
  wait_idle
  case $leg in
    01*) sf=0.1 ;;
    1?)  sf="$PWD/.localdata/sf1" ;;
    10*) sf="$PWD/.localdata/sf10" ;;
  esac
  python bench.py --sf "$sf" > "/tmp/${round}_b${leg}.json" 2> "/tmp/${round}_b${leg}.err"
  echo "leg $leg done"
done
python scripts/build_bench_scale.py "/tmp/${round}_b01a.json,/tmp/${round}_b01b.json" \
  "/tmp/${round}_b1a.json,/tmp/${round}_b1b.json" "/tmp/${round}_b10a.json,/tmp/${round}_b10b.json"
drain_jvms || exit 1
python scripts/oracle_gate.py --sf "$PWD/.localdata/sf1" --skip-quadratic \
  --json-out "/tmp/${round}_gate10x.json" > "/tmp/${round}_gate10x.log" 2>&1
drain_jvms || exit 1
python scripts/oracle_gate.py --sf "$PWD/.localdata/sf10" \
  --only q1_pricing_summary,cube_status_priority,grouping_sets_orders,events_salted_user_totals,dataset_split_mix,epoch_mix,c4_clean,gopher_quality,url_canonicalize,stratified_quota \
  --json-out "/tmp/${round}_gate100x.json" > "/tmp/${round}_gate100x.log" 2>&1
python scripts/patch_bench_scale_notes.py "/tmp/${round}_gate10x.json" "/tmp/${round}_gate100x.json"
drain_jvms || exit 1
wait_idle
SPARK_GRAFT_CPUS=8 python bench.py --sf 0.1 > "/tmp/${round}_bench_c8.json" 2> "/tmp/${round}_bench_c8.err"
echo SWEEP_COMPLETE
