#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload, with the claim
and regression verdicts.

    scripts/benchpairs.py PARENT_DIR CHANGE_DIR --workload serve \\
        --pairs 10 --seeds 2-11 [--claim op_s_p50] [--out DIR]

PARENT_DIR and CHANGE_DIR are two checkouts (for example a `git worktree` of
the parent commit and the working tree). Each pair runs

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0

once in each checkout, T being BENCHMARK.json's run_seconds. The side that
runs first alternates from pair to pair, and pair i takes the i-th seed of
the range A-B (wrapping when there are more pairs than seeds). For every
end-to-end metric of CHANGE_DIR's BENCHMARK.json it prints each side's
median, q1 and q3 and how many pairs the change won (ties count for neither
side). Then:

- the claim verdict for --claim: met when at least 10 pairs were run, the
  change wins at least 9 of every 10 of them (a pair dropped for a failed
  or incorrect run counts as a loss) and the medians differ by more than
  the parent's IQR (q3 - q1);
- the regression verdict for every other metric, against its bound (a share
  of the parent's median): `regressed` when the change's median is worse by
  more than the bound; `unresolved` when either side's IQR is wider than the
  bound and not every change run beats every parent run; `ok` otherwise.

Each run's stdout is kept under --out as <side>-<pair>-s<seed>.out, which
`scripts/benchdiff.py --perfbench` reads. Exit code 0 when every run was
correct with no failed operation and no metric regressed; the claim verdict
does not change the exit code.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

CLAIM_WIN_SHARE = 0.9
CLAIM_MIN_PAIRS = 10


def parse_seeds(text):
    """'A-B' (or a single 'A') to the inclusive list of seeds."""
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise ValueError(f"empty seed range: {text}")
    return list(range(lo, hi + 1))


def schedule(pairs, seeds):
    """(seed, sides in run order) for each pair: the parent runs first in
    even pairs, the change in odd ones."""
    return [(seeds[i % len(seeds)],
             ("parent", "change") if i % 2 == 0 else ("change", "parent"))
            for i in range(pairs)]


def quartiles(values):
    """(q1, median, q3), inclusive method; a single value is all three."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def better(a, b, direction):
    """True when a reads strictly better than b."""
    return a < b if direction == "lower" else a > b


def wins(parent, change, direction):
    """Pairs the change won; parent[i] and change[i] are one pair."""
    return sum(better(c, p, direction) for p, c in zip(parent, change))


def claim_verdict(parent, change, direction, pairs):
    """(met, wins, gap, parent IQR) over the complete pairs `parent[i]`,
    `change[i]` out of `pairs` run: at least CLAIM_MIN_PAIRS run, wins in at
    least CLAIM_WIN_SHARE of them (a dropped pair is no win) and a median gap
    in the change's favour wider than the parent's IQR."""
    q1, pmed, q3 = quartiles(parent)
    cmed = quartiles(change)[1]
    w = wins(parent, change, direction)
    gap = pmed - cmed if direction == "lower" else cmed - pmed
    met = (pairs >= CLAIM_MIN_PAIRS and w >= CLAIM_WIN_SHARE * pairs
           and gap > q3 - q1)
    return met, w, gap, q3 - q1


def regression_verdict(parent, change, direction, bound):
    """'regressed', 'unresolved' or 'ok' (see the module docstring)."""
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    worse = cmed - pmed if direction == "lower" else pmed - cmed
    if worse > bound * abs(pmed):
        return "regressed"
    spread = max(pq3 - pq1, cq3 - cq1)
    if spread > bound * abs(pmed):
        every = all(better(c, p, direction) for c in change for p in parent)
        if not every:
            return "unresolved"
    return "ok"


def report(runs, spec, claim):
    """Lines of the summary and whether it passes. `runs` is one
    {"parent": result, "change": result} per pair, a result being the JSON
    object on the last line of a run.py output (None when the run printed
    none). `spec` is BENCHMARK.json."""
    lines, ok = [], True
    complete = []
    for i, pair in enumerate(runs):
        bad = [side for side, r in pair.items()
               if r is None or not r.get("correct") or r.get("failed")]
        for side in bad:
            lines.append(f"pair {i}: {side} run not correct or has failed operations")
        ok = ok and not bad
        if not bad:
            complete.append(pair)
    lines.append(f"{len(complete)} of {len(runs)} pairs complete")
    if not complete:
        return lines, False
    lines.append(f"{'metric':<12} {'parent med [q1, q3]':>28} "
                 f"{'change med [q1, q3]':>28} {'wins':>6}  verdict")
    for m in spec["end_to_end"]:
        name, direction = m["name"], m["better"]
        p, c = ([pair[side]["metrics"][name]["value"] for pair in complete]
                for side in ("parent", "change"))
        pq, cq, of = quartiles(p), quartiles(c), len(p)
        if name == claim:
            met, w, gap, iqr = claim_verdict(p, c, direction, len(runs))
            of = len(runs)
            verdict = (f"claim {'MET' if met else 'NOT MET'}: gap {gap:.4g} "
                       f"vs parent IQR {iqr:.4g}, need {CLAIM_WIN_SHARE:.0%} "
                       f"wins of at least {CLAIM_MIN_PAIRS} pairs")
        else:
            w = wins(p, c, direction)
            verdict = regression_verdict(p, c, direction, m["bound"])
            if verdict == "regressed":
                ok = False
            verdict += f" (bound {m['bound']:.0%} of the parent median)"
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        lines.append(f"{name:<12} {fmt(pq):>28} {fmt(cq):>28} "
                     f"{w:>3}/{of:<2}  {verdict}")
    return lines, ok


def last_json(text):
    for line in reversed(text.strip().splitlines()):
        try:
            return json.loads(line)
        except ValueError:
            continue
    return None


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[0]
    except OSError:
        return "?"


def run_one(checkout, workload, seed, seconds, out_file):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    out_file.write_text(proc.stdout + proc.stderr[-4000:])
    res = last_json(proc.stdout)
    return res if res and "metrics" in res else None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--claim", help="end-to-end metric the change claims")
    ap.add_argument("--out", default="benchpairs-out")
    a = ap.parse_args(argv)
    dirs = {"parent": Path(a.parent_dir).resolve(),
            "change": Path(a.change_dir).resolve()}
    spec = json.loads((dirs["change"] / "BENCHMARK.json").read_text())
    out = Path(a.out)
    out.mkdir(parents=True, exist_ok=True)
    runs = []
    for i, (seed, order) in enumerate(schedule(a.pairs, parse_seeds(a.seeds))):
        pair = {}
        for side in order:
            start_load, t0 = loadavg(), time.monotonic()
            pair[side] = run_one(dirs[side], a.workload, seed,
                                 spec["run_seconds"],
                                 out / f"{side}-{i}-s{seed}.out")
            got = pair[side]["metrics"] if pair[side] else "no result"
            if isinstance(got, dict):
                got = " ".join(f"{k}={v['value']:.4g}" for k, v in got.items())
            print(f"pair {i} seed {seed} {side:<6} load {start_load} "
                  f"{time.monotonic() - t0:5.0f}s  {got}", flush=True)
        runs.append(pair)
    lines, ok = report(runs, spec, a.claim)
    print("\n".join(lines))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
