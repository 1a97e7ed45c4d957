#!/bin/bash
# CPU-pinned N-vs-4N scaling evidence (the faithful "N and 4N cores"
# emulation), and the only local N-vs-4N protocol: each level is one
# `graft.Scaling once` JVM (one discarded run at the measured scale, then
# min of SCALING_RUNS runs, a fresh session each) pinned with taskset to exactly its cores, so CPU,
# GC, JIT, and memory bandwidth all scale with the emulated cluster size.
# Both levels unpinned in one JVM would let the low level borrow the
# host's idle cores for GC/JIT and memory traffic, deflating T_lo and
# understating efficiency. The triple counts of the two levels must match.
#
# Usage: tools/scaling_pinned.sh [nFiles] [nLo]
# Appends a row to BENCH/BASELINE.md and prints the JSON verdict.
set -euo pipefail
cd "$(dirname "$0")/.."

NFILES=${1:-2000000}
NLO=${2:-4}
NHI=$((4 * NLO))
RUNS=${SCALING_RUNS:-2}
mkdir -p target # the per-level logs go here; a fresh checkout has none yet

run_once() { # cores -> prints seconds (min of RUNS, warm JVM)
  local cores=$1
  local last=$((cores - 1))
  # tee the raw sbt output to a per-level log: a command-substituted
  # pipeline swallows the JVM's dying words (an OOM-killed level used to
  # surface only as a bare json.loads traceback with no cause on disk)
  local log="target/scaling_pinned_${NFILES}_${cores}.log"
  SCALING_RUNS=$RUNS taskset -c 0-$last \
    sbt -batch "runMain graft.Scaling once $cores $NFILES" > "$log" 2>&1 ||
    { echo "level $cores failed — tail of $log:" >&2; tail -20 "$log" >&2; exit 1; }
  grep -o '{"mode":"once".*}' "$log" ||
    { echo "level $cores produced no JSON — tail of $log:" >&2; tail -20 "$log" >&2; exit 1; }
}

LO_JSON=$(run_once $NLO)
HI_JSON=$(run_once $NHI)
python3 - "$LO_JSON" "$HI_JSON" "$NFILES" "$NLO" "$NHI" <<'EOF'
import json, sys
lo, hi = json.loads(sys.argv[1]), json.loads(sys.argv[2])
nfiles, nlo, nhi = sys.argv[3], int(sys.argv[4]), int(sys.argv[5])
assert lo["n_triples"] == hi["n_triples"], "nondeterministic across parallelism"
eff = (lo["sec"] / hi["sec"]) / 4.0
row = (f'| {nfiles} files / {hi["n_triples"]} triples, CPU-PINNED (taskset {nlo} vs {nhi} cores) '
       f'| {lo["sec"]:.1f} s | {hi["sec"]:.1f} s ({hi["n_triples"]/hi["sec"]:.0f} triples/s) '
       f'| **{eff:.2f}** |')
with open("BENCH/BASELINE.md", "a") as f:
    f.write(row + "\n")
print(json.dumps({"metric": "scaling_efficiency_pinned", "value": round(eff, 3),
                  "t_lo": lo["sec"], "t_hi": hi["sec"], "n_lo": nlo, "n_hi": nhi,
                  "n_files": int(nfiles), "n_triples": hi["n_triples"]}))
EOF
