#!/bin/bash
# Round gate: full warm bench draw + spread-aware regression check
# against the last archived draw. A tight-spread (plan-suspect) mover
# whose median AND min both exceed the bar blocks the round (the
# round-10 lesson: median drift was left to the judge to classify;
# this makes the classification mechanical at gate time).
#
# Usage: tools/gate.sh [baseline.json]   (default: newest full-suite
#        warm draw, docs/bench/r*_final*.json or r*_full*.json — scale16/
#        scale64/cold/isolated-subset draws are at a different SF or
#        query set, so gating against them would be meaningless)
set -e
cd /root/repo
BASE=${1:-$(ls -t docs/bench/r*_final*.json docs/bench/r*_full*.json 2>/dev/null | grep -v scale | grep -v cold | head -1)}
# the ls|grep|head pipeline's exit status is head's, so set -e never
# trips on "no baseline found" — guard explicitly instead of letting
# bench_compare die on an empty path with an unrelated error
[ -n "$BASE" ] || { echo "gate.sh: no full-suite baseline found under docs/bench/ (r*_final*.json or r*_full*.json)"; exit 1; }
sbt -batch compile -warn
. tools/launch.sh
# ReservedCodeCacheSize raised from the 240m default: a 377-query
# suite compiles ~750 codegen classes; a full cache silently leaves
# late compilations interpreted (the leading suspect for the
# q12-class tight-spread in-suite flags — bench_last.json's jvm
# block records the occupancy either way).
graft_java -XX:ReservedCodeCacheSize=512m -Xmx100g graft.Bench 2>/dev/null | tail -1
echo "-- spread-aware compare vs $BASE:"
python3 tools/bench_compare.py --gate "$BASE" target/bench_last.json
