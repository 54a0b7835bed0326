#!/usr/bin/env bash
# Count the chmod, ls, stat and bash processes one perfbench run forks.
#
#     scripts/forkcount.sh [WORKLOAD] [SEED] [SECONDS]    # ingest 1 16
#
# Builds the benchmark first (perfbench/build.py, cached), then puts
# logging wrappers for chmod, ls, stat and bash first on PATH (in a temp
# dir; perfbench/ is not touched) and runs
#
#     python3 perfbench/run.py --workload W --seed S --seconds T --trace 0
#
# Prints each command's forks, the run's timed operations ("attempted" in
# its last JSON line) and the forks per timed op. The count covers the whole
# run, its untimed warm-up and set-up uploads too, so per timed op it is an
# upper bound. Not counted: the JVM's one-time `bash -c echo $$` (Hadoop's
# `Shell` setsid check). Exit code is the run's.
set -euo pipefail

workload=${1:-ingest}
seed=${2:-1}
seconds=${3:-16}
root=$(cd "$(dirname "$0")/.." && pwd)

# the interpreter itself, not a shim that would fork through the wrappers
py=$(python3 -c 'import sys; print(sys.executable)')
"$py" "$root/perfbench/build.py" >/dev/null

wrap=$(mktemp -d)
trap 'rm -rf "$wrap"' EXIT
log="$wrap/forks.log"
: >"$log"
for cmd in chmod ls stat bash; do
  real=$(command -v "$cmd")
  cat >"$wrap/$cmd" <<EOF
#!/bin/sh
printf '%s\n' "$cmd \$*" >>"$log"
exec "$real" "\$@"
EOF
  chmod +x "$wrap/$cmd"
done

set +e
out=$(cd "$root" && PATH="$wrap:$PATH" "$py" perfbench/run.py \
  --workload "$workload" --seed "$seed" --seconds "$seconds" --trace 0)
code=$?
set -e

printf '%s\n' "$out" | tail -n 1 | "$py" -c '
import json, sys
log, workload = sys.argv[1], sys.argv[2]
res = json.loads(sys.stdin.read())
lines = [l.rstrip("\n") for l in open(log)]
forks = {c: 0 for c in ("chmod", "ls", "stat", "bash")}
for l in lines:
    if l == "bash -c echo $$":
        continue
    forks[l.split(" ", 1)[0]] += 1
ops = res["attempted"]
print(json.dumps({"workload": workload, "timed_ops": ops,
                  "correct": res["correct"], "failed": res["failed"],
                  "forks": forks,
                  "forks_per_timed_op": {c: round(n / ops, 2) if ops else None
                                         for c, n in forks.items()}}))
' "$log" "$workload"
exit $code
