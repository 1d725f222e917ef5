#!/bin/bash
# Paired A/B sizing probe — the round-11 methodology that overturned the
# AQE ×16 tune, as one command. This host shows multi-minute 2-4× CPU-steal
# windows, so any SINGLE-arm comparison across sessions can be off by 2× in
# either direction; a sizing decision needs interleaved same-window arms
# (A/B/A/B), each stamped with its own calib_s, before it drives a conf
# change (SURVEY §15 "probe methodology note").
#
# Usage:
#   tools/paired_probe.sh <sfdir> <queries> <confA> <confB> [pairs]
# Each arm is ';'-separated k=v confs, passed as SPARK_GRAFT_EXTRA_CONF
# (applied after the shipped confs; '' = exactly the shipped confs).
# Example (re-running the r11 ×16 vs ×32 initial-partition decision on a
# 32-core host):
#   tools/paired_probe.sh /tmp/sf10 q101_dup_spans \
#     spark.sql.adaptive.coalescePartitions.initialPartitionNum=512 \
#     spark.sql.adaptive.coalescePartitions.initialPartitionNum=1024 2
#
# Each arm is one run_bench.sh pass (REPS=1, SPARK_GRAFT_ONLY=<queries>);
# results land in /tmp/paired_probe/<n>_<arm>.json and a per-query summary
# table (wall + calib per arm) prints at the end. Read walls AGAINST each
# arm's calib before believing a difference.
set -e
cd "$(dirname "$0")/.."
SF=${1:?sfdir}; QUERIES=${2:?queries}
VALA=${3?conf A}; VALB=${4?conf B}; PAIRS=${5:-2}
OUT=/tmp/paired_probe
mkdir -p "$OUT"
for i in $(seq 1 "$PAIRS"); do
  for arm in A B; do
    v=$VALA; [ "$arm" = B ] && v=$VALB
    f="$OUT/${i}_${arm}.json"
    echo "== pair $i arm $arm: SPARK_GRAFT_EXTRA_CONF='$v' =="
    SPARK_GRAFT_EXTRA_CONF="$v" SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_ONLY="$QUERIES" \
      tools/run_bench.sh "$SF" "$f" >/dev/null
  done
done
python3 - "$OUT" "$VALA" "$VALB" "$PAIRS" <<'EOF'
import json, sys
out, va, vb, pairs = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
arms = {}
for i in range(1, pairs + 1):
    for arm in "AB":
        arms[(i, arm)] = json.load(open(f"{out}/{i}_{arm}.json"))
qs = sorted(next(iter(arms.values()))["queries"])
print(f"\nA: '{va}'\nB: '{vb}'")
print(f"{'query':<36}" + "".join(f"{i}{a}".rjust(22)
                                 for i in range(1, pairs + 1) for a in "AB"))
print(f"{'calib_s':<36}" + "".join(f"{arms[(i,a)]['calib_s']:>22.2f}"
                                   for i in range(1, pairs + 1) for a in "AB"))
for q in qs:
    print(f"{q:<36}" + "".join(f"{arms[(i,a)]['queries'].get(q, -1):>22.1f}"
                               for i in range(1, pairs + 1) for a in "AB"))
wins = sum(1 for i in range(1, pairs + 1)
           if arms[(i,"A")]["value"] < arms[(i,"B")]["value"])
print(f"\npairwise total wins: A={wins} B={pairs-wins} "
      f"(read against calib before concluding)")
EOF
