#!/usr/bin/env bash
# Forced-distributed sf1 coverage bench (VERDICT r16 item 2): at dev
# scale every SmallGraph/DetKMeans/PqDet-gated operator routes to its
# bounded single-task kernel, so the DISTRIBUTED formulations — the
# 100 TB plans — would otherwise have zero benchmark coverage and a
# regression in one would be invisible until someone runs at scale.
# This run forces the distributed path for every gated operator over a
# generated ~sf1 dataset and appends a `"mode":"distributed"`-tagged
# entry to bench_history.jsonl; diff distributed entries round over
# round with scripts/benchdiff.py (it reads the last two entries — keep
# kernel-mode runs and distributed runs from interleaving, or diff by
# hand on the tagged lines).
#
# Usage: scripts/distbench.sh [sf1dir]   (default /tmp/graft-sf1)
set -euo pipefail
cd "$(dirname "$0")/.."
SF1DIR="${1:-/tmp/graft-sf1}"
if [ -e "$SF1DIR/lineitem.parquet" ] && [ ! -f "$SF1DIR/lineitem.parquet/_SUCCESS" ]; then
  # A half-written generation would bench a partial sf1 and append it to
  # bench_history.jsonl as if it were whole. Leave the directory alone.
  echo "[distbench] $SF1DIR/lineitem.parquet has no _SUCCESS marker:" \
    "an interrupted SfGen run. Remove $SF1DIR or pass another dir." >&2
  exit 1
fi
if [ ! -e "$SF1DIR/lineitem.parquet" ]; then
  echo "[distbench] generating ~sf1 at $SF1DIR (SfGen x10 from sf0.1)"
  scripts/runmain.sh graft.SfGen "$SF1DIR" 10
fi
echo "[distbench] forced-distributed bench over $SF1DIR"
SPARK_GRAFT_SF_DIR="$SF1DIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_GRAFT_SMALL_KERNEL=false SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-12g}" \
  scripts/runmain.sh graft.Bench
