#!/usr/bin/env python3
"""Per-query bench regression alarm (round-over-round).

Compares the last two entries of bench_history.jsonl (each appended by
graft.Bench), or two explicit bench_full.json-style files, and flags every
query whose time grew more than THRESHOLD x (default 2.0) plus queries that
appeared/disappeared. Loadavg of both runs is printed so a host-load-
inflated artifact self-describes (the r13 driver bench recorded semdedup at
6.5x its quiet-host cost under loadavg 6.6 and nobody noticed until judge
review - this script is the mechanical version of that review).

Only entries at the SAME scale factor are comparable: by default the last
two history entries with matching "sf" dirs are diffed (a skewed-sf1 run
appended between two sf0.1 rounds no longer poisons the diff); pass
--sf <substring> to pick the series (e.g. --sf sf1).

Anchor entries (graft.AnchorBench, fresh-JVM pinned subset, tagged
"anchor":true) form their OWN series: they are excluded from full-bench
comparisons and selected exclusively via --anchor, so the fresh-JVM numbers
are only ever compared against other fresh-JVM numbers.

The --perfbench mode diffs two `perfbench/run.py` outputs instead: it reads
the JSON object on the last line of each and prints every metric with its
old value, new value and new/old ratio (the per-layer diff of a --trace 1
run, or the end-to-end figures of a --trace 0 run).

Usage:
  benchdiff.py                     # last two same-sf entries of bench_history.jsonl
  benchdiff.py --sf sf1            # last two entries whose sf dir contains "sf1"
  benchdiff.py --anchor            # last two same-sf ANCHOR entries
  benchdiff.py OLD.json NEW.json   # explicit files (one JSON object each)
  benchdiff.py --threshold 3.0
  benchdiff.py --perfbench OLD.out NEW.out   # two perfbench/run.py outputs

Exit code: 0 always (the bench is load-sensitive; the output is an alarm to
investigate, not a hard gate - wavegate/TimeOne are the re-check tools).
"""
import json
import sys
from pathlib import Path

THRESHOLD = 2.0
SF = None
ANCHOR = False
args = [a for a in sys.argv[1:]]


def last_json(path):
    return json.loads(Path(path).read_text().strip().splitlines()[-1])


def perfbench_diff(old_path, new_path):
    """Every metric of two perfbench runs: old, new, new/old."""
    old, new = last_json(old_path), last_json(new_path)
    om, nm = old.get("metrics", {}), new.get("metrics", {})
    for tag, run in (("old", old), ("new", new)):
        print(f"[benchdiff] {tag}: correct={run.get('correct')} "
              f"attempted={run.get('attempted')} failed={run.get('failed')}")
    width = max((len(k) for k in list(om) + list(nm)), default=0)
    print(f"  {'metric':<{width}}  {'old':>12}  {'new':>12}  {'new/old':>8}  unit")
    for name in list(om) + [k for k in nm if k not in om]:
        a = om.get(name, {}).get("value")
        b = nm.get(name, {}).get("value")
        unit = (nm.get(name) or om.get(name)).get("unit", "")
        ratio = f"{b / a:.3f}" if a and b is not None else "-"
        fmt = lambda v: "-" if v is None else f"{v:.4g}"
        print(f"  {name:<{width}}  {fmt(a):>12}  {fmt(b):>12}  {ratio:>8}  {unit}")


if "--perfbench" in args:
    i = args.index("--perfbench")
    if len(args) != i + 3:
        sys.exit("usage: benchdiff.py --perfbench OLD.out NEW.out")
    perfbench_diff(args[i + 1], args[i + 2])
    sys.exit(0)
if "--anchor" in args:
    ANCHOR = True
    args.remove("--anchor")
if "--threshold" in args:
    i = args.index("--threshold")
    THRESHOLD = float(args[i + 1])
    del args[i:i + 2]
if "--sf" in args:
    i = args.index("--sf")
    SF = args[i + 1]
    del args[i:i + 2]

if len(args) == 2:
    old, new = last_json(args[0]), last_json(args[1])
else:
    hist = Path(__file__).resolve().parent.parent / "bench_history.jsonl"
    if not hist.exists():
        print(f"[benchdiff] no {hist}; run graft.Bench twice first")
        sys.exit(0)
    entries = [json.loads(ln) for ln in hist.read_text().splitlines()
               if ln.strip()]
    entries = [e for e in entries if bool(e.get("anchor")) == ANCHOR]
    if ANCHOR and len(entries) < 2:
        print(f"[benchdiff] only {len(entries)} anchor entries; need 2")
        sys.exit(0)
    if SF is not None:
        entries = [e for e in entries if SF in str(e.get("sf", ""))]
        if len(entries) < 2:
            print(f"[benchdiff] only {len(entries)} entries match --sf {SF}")
            sys.exit(0)
        old, new = entries[-2], entries[-1]
    else:
        if len(entries) < 2:
            print(f"[benchdiff] only {len(entries)} bench entries; need 2")
            sys.exit(0)
        # newest entry vs the most recent EARLIER entry at the same sf
        new = entries[-1]
        prior = [e for e in entries[:-1]
                 if e.get("sf") == new.get("sf")]
        if not prior:
            print(f"[benchdiff] no earlier entry at sf={new.get('sf')}; "
                  "nothing comparable")
            sys.exit(0)
        old = prior[-1]

oq, nq = old["queries"], new["queries"]
print(f"[benchdiff] old: total={old['value']:.1f}s n={len(oq)} "
      f"loadavg={old.get('loadavg')} sf={old.get('sf')}")
print(f"[benchdiff] new: total={new['value']:.1f}s n={len(nq)} "
      f"loadavg={new.get('loadavg')} sf={new.get('sf')}")

alarms = []
for name in sorted(nq):
    a, b = oq.get(name), nq[name]
    if a is None:
        continue
    if b < 0 and a >= 0:
        alarms.append((float("inf"), name, a, b, "FAILED (was passing)"))
    elif a > 0.2 and b > a * THRESHOLD:  # ignore sub-200ms jitter
        alarms.append((b / a, name, a, b, f"x{b / a:.2f}"))

added = sorted(set(nq) - set(oq))
removed = sorted(set(oq) - set(nq))
if added:
    print(f"[benchdiff] new queries ({len(added)}): {', '.join(added)}")
if removed:
    print(f"[benchdiff] REMOVED queries ({len(removed)}): {', '.join(removed)}")

if not alarms:
    print(f"[benchdiff] OK: no query grew >{THRESHOLD}x "
          f"(of {len(set(nq) & set(oq))} comparable)")
else:
    print(f"[benchdiff] {len(alarms)} ALARM(S) (>{THRESHOLD}x, re-check "
          f"with TimeOne on a quiet host before calling it a regression):")
    for ratio, name, a, b, tag in sorted(alarms, reverse=True):
        print(f"  {tag:>18}  {name}: {a:.2f}s -> {b:.2f}s")
sys.exit(0)
