#!/usr/bin/env bash
# Per-wave gate (VERDICT r12 items 2+4): run the full check stack on the
# queries added/changed in a wave, BEFORE they land in a commit:
#   1. Verify + DuckDB selfcheck at sf0.01  (oracle correctness)
#   2. InvarianceSweep subset               (partition determinism, widths 3 vs 32)
#   3. WindowSweep subset                   (global-window scale contract,
#                                            sf0.001 vs sf0.01 growth gate)
#   4. PairMassSweep                        (only when a name contains
#                                            "semdedup")
# Usage: scripts/wavegate.sh q_name [q_name ...]
set -euo pipefail
cd "$(dirname "$0")/.."
[ $# -ge 1 ] || { echo "usage: scripts/wavegate.sh q_name [q_name ...]" >&2; exit 2; }
names="$*"
out=/tmp/wavegate_out
steps=3
if echo " $names " | grep -q "semdedup"; then steps=4; fi

echo "== wavegate 1/$steps: Verify + selfcheck (sf0.01) =="
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out $names"
python3 scripts/selfcheck.py /root/testdata/sf0.01 "$out" $names

echo "== wavegate 2/$steps: InvarianceSweep (widths 3 vs 32) =="
sbt -batch "runMain graft.InvarianceSweep /root/testdata/sf0.001 3 32 $names"

echo "== wavegate 3/$steps: WindowSweep (sf0.001 vs sf0.01) =="
sbt -batch "runMain graft.WindowSweep /root/testdata/sf0.001 /root/testdata/sf0.01 $names"

# Pair-mass growth gate (VERDICT r13 item 1): whenever a wave touches the
# semdedup family, the registered gate's candidate-pair mass must stay
# ~linear across a 4x corpus step. Also run unconditionally at round wrap.
if [ "$steps" = 4 ]; then
  echo "== wavegate 4/4: PairMassSweep (sf0.01 vs sf0.1) =="
  sbt -batch "runMain graft.PairMassSweep /root/testdata/sf0.01 /root/testdata/sf0.1"
fi

echo "== wavegate: ALL GREEN for: $names =="
