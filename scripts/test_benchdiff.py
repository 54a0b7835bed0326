"""Tests of benchdiff.py's series selection on a canned bench history. Runs
no benchmark.

    python3 -m unittest scripts/test_benchdiff.py
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent / "benchdiff.py"


def entry(value, sf, queries, anchor=False):
    e = {"metric": "anchor" if anchor else "total", "value": value,
         "unit": "sec", "queries": queries, "failed": 0,
         "loadavg": [1.0, 1.0, 1.0], "tainted": False, "sf": sf, "ts": 0}
    if anchor:
        e["anchor"] = True
    return e


# Oldest first: the two full sf0.1 entries are not adjacent, and the newest
# entry is an anchor, so every series has to be picked out of the others.
HISTORY = [
    entry(100.0, "/d/sf0.1", {"q_a": 1.0, "q_b": 2.0}),
    entry(10.0, "/d/sf0.1", {"q_a": 0.5}, anchor=True),
    entry(1000.0, "/d/sf1", {"q_a": 9.0, "q_c": 3.0}),
    entry(110.0, "/d/sf0.1", {"q_a": 1.1, "q_b": 2.1}),
    entry(11.0, "/d/sf0.1", {"q_a": 0.6}, anchor=True),
]


class SeriesSelection(unittest.TestCase):
    """benchdiff.py reads bench_history.jsonl from its checkout root, so
    each test runs a copy of it under a temporary root."""

    def setUp(self):
        self.root = Path(tempfile.mkdtemp(prefix="benchdiff-test"))
        (self.root / "scripts").mkdir()
        shutil.copy(SCRIPT, self.root / "scripts" / "benchdiff.py")
        (self.root / "bench_history.jsonl").write_text(
            "".join(json.dumps(e) + "\n" for e in HISTORY))

    def tearDown(self):
        shutil.rmtree(self.root)

    def diff(self, *args):
        out = subprocess.run(
            [sys.executable, str(self.root / "scripts" / "benchdiff.py"), *args],
            capture_output=True, text=True, check=True).stdout
        return [ln for ln in out.splitlines() if ln.startswith("[benchdiff]")]

    def test_default_diffs_the_two_full_entries_at_one_sf(self):
        lines = self.diff()
        self.assertIn("old: total=100.0s n=2", lines[0])
        self.assertIn("new: total=110.0s n=2", lines[1])
        self.assertFalse(any("queries (" in ln for ln in lines), lines)

    def test_anchor_diffs_only_the_anchor_entries(self):
        lines = self.diff("--anchor")
        self.assertIn("old: total=10.0s n=1", lines[0])
        self.assertIn("new: total=11.0s n=1", lines[1])
        self.assertFalse(any("queries (" in ln for ln in lines), lines)

    def test_sf_series_is_not_mixed_with_others(self):
        lines = self.diff("--sf", "sf1")
        self.assertEqual(lines, ["[benchdiff] only 1 entries match --sf sf1"])


if __name__ == "__main__":
    unittest.main()
