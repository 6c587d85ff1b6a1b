#!/bin/bash
# Prove the bench taint machinery fires OUTSIDE unit tests (round-17
# verdict item 6: every committed record has `tainted: []`, so nothing
# showed the rerun-then-taint path working end-to-end). Plants a
# saturating external co-load (one busy-loop per CPU), runs a small
# Bench subset against it, and asserts the emitted record carries a
# non-empty `tainted` list. Artifact: history/TAINT_r17.json.
#
# usage: tools/taint_exercise.sh [outFile]
set -u
OUT="${1:-TAINT_exercise.json}"
NPROC=$(nproc)

# external co-load: pure-CPU busy loops, one per core, NOT a child of
# the bench JVM — exactly the "other processes ate the machine" case
# the external-CPU tripwire (machine busy jiffies minus process CPU)
# exists to catch
for i in $(seq "$NPROC"); do (while :; do :; done) & done
LOADPIDS=$(jobs -p)
trap 'kill $LOADPIDS 2>/dev/null' EXIT

SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}" \
SPARK_GRAFT_BENCH_ONLY="${SPARK_GRAFT_BENCH_ONLY:-q01,q05,t07,t15}" \
SPARK_GRAFT_BENCH_REPEAT=1 \
SPARK_GRAFT_BENCH_OUT="$OUT" \
  tools/runmain.sh graft.Bench > /dev/null 2>&1

kill $LOADPIDS 2>/dev/null
trap - EXIT

python3 - "$OUT" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
assert d["fresh_jvm"] is True, "bench did not run in the fresh child JVM"
assert d["tainted"], f"co-loaded run was NOT tainted: ext_cpu={d['ext_cpu_total']}"
print(f"taint exercise PASSED: tainted={d['tainted']} "
      f"ext_cpu_total={d['ext_cpu_total']}s over {len(d['queries'])} queries")
EOF
