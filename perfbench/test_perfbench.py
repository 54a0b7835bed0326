"""Tests of the benchmark's own logic: the statistics it reports and the
inputs it generates. Needs no JVM.

    python3 -m unittest perfbench/test_perfbench.py
"""
import csv
import hashlib
import os
import sys
import tempfile
import unittest
import zipfile
import xml.etree.ElementTree as ET
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*")):
        if p.is_file():
            h.update(p.name.encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def xlsx_rows(path):
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for r in root.iter(ns + "row"):
        cells = {}
        for c in r.iter(ns + "c"):
            col = "".join(ch for ch in c.get("r") if ch.isalpha())
            idx = 0
            for ch in col:
                idx = idx * 26 + ord(ch) - 64
            text = c.find(f"{ns}is/{ns}t")
            v = c.find(ns + "v")
            cells[idx - 1] = (text if text is not None else v).text
        rows.append([cells.get(i, "") for i in range(max(cells, default=-1) + 1)])
    return rows


def recount(rows, header_row, key_cols, ncols):
    """The counts an ingest must report, recomputed from the file alone."""
    body = [r + [""] * (ncols - len(r)) for r in rows[header_row + 1:]]
    nonempty = [r for r in body if any(c.strip() for c in r)]
    invalid = [r for r in nonempty
               if any(r[k].strip().upper() in ("", "NULL", "N/A")
                      for k in key_cols)]
    seen, dups = set(), 0
    for r in nonempty:
        if r in invalid:
            continue
        key = tuple(r[k].strip().upper() for k in key_cols)
        dups += key in seen
        seen.add(key)
    return {"data_rows": len(body), "processed": len(nonempty),
            "invalid": len(invalid), "duplicates": dups,
            "inserted": len(seen)}


class Statistics(unittest.TestCase):

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(19))
        self.assertEqual(run.tail_percentile(20), 50)
        self.assertEqual(run.tail_percentile(39), 50)
        self.assertEqual(run.tail_percentile(40), 75)
        self.assertEqual(run.tail_percentile(99), 75)
        self.assertEqual(run.tail_percentile(100), 90)
        self.assertEqual(run.tail_percentile(1000), 99)

    def test_tail_falls_back_to_max(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), ("max", 3.0))
        vals = [float(i) for i in range(1, 101)]
        self.assertEqual(run.tail(vals), ("p90", 90.0))

    def test_nearest_rank_percentile(self):
        vals = [float(i) for i in range(1, 41)]
        self.assertEqual(run.percentile(vals, 75), 30.0)
        self.assertEqual(run.percentile(vals, 50), 20.0)
        self.assertEqual(run.percentile([5.0], 90), 5.0)

    def test_failed_share(self):
        self.assertEqual(run.failed_share(40, 0), 0.0)
        self.assertEqual(run.failed_share(40, 10), 0.25)
        self.assertEqual(run.failed_share(0, 0), 1.0)

    def test_failed_ops_are_counted_and_never_timed(self):
        res = {"ops": [{"kind": "query", "name": "a", "s": 1.0, "ok": True,
                        "traced": False},
                       {"kind": "query", "name": "b", "s": 0.001, "ok": False,
                        "traced": False},
                       {"kind": "query", "name": "c", "s": 3.0, "ok": True,
                        "traced": False}],
               "rounds": [{"s": 1.0, "traced": False},
                          {"s": 0.001, "traced": False},
                          {"s": 3.0, "traced": False}],
               "setup_s": [2.0, 1.0, 1.5], "errors": ["b: wrong"],
               "extra": {}, "layers": {}, "jvm": "17", "spark": "4"}
        out = run.summarize("registry", res, res["errors"], 0, 0.0)
        self.assertEqual((out["attempted"], out["failed"]), (3, 1))
        self.assertFalse(out["correct"])
        self.assertAlmostEqual(out["failed_share"], 1 / 3)
        self.assertEqual(out["metrics"]["op_s_p50"], 2.0)
        self.assertEqual(out["metrics"]["setup_s"], 1.5)


class Inputs(unittest.TestCase):

    def generate(self, seed, d):
        gen.ingest_release(seed, d, ptp_parts=2, ptp_rows=800, rvu_rows=400)
        gen.serve_plan(seed, d, quarters=2, rvu_codes=200, ptp_rows=300,
                       mue_rows=100, requests=50)
        gen.probe(seed, d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.generate(5, a)
            self.generate(5, b)
            self.generate(6, c)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_registry_tables_are_seeded(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.registry_tables(3, a, sf=0.001)
            gen.registry_tables(3, b, sf=0.001)
            gen.registry_tables(4, c, sf=0.001)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))
            self.assertEqual(sorted(os.listdir(a)),
                             sorted(t + ".parquet" for t in run.TABLES))

    def test_planted_counts_match_the_files(self):
        with tempfile.TemporaryDirectory() as d:
            rel = gen.ingest_release(9, d, ptp_parts=2, ptp_rows=1000,
                                     rvu_rows=500)
            for f in rel["files"]:
                if f["path"].endswith(".csv"):
                    with open(f["path"], newline="") as fh:
                        rows = list(csv.reader(fh))
                    ncols = len(gen.PTP_HEADER)
                else:
                    rows = xlsx_rows(f["path"])
                    ncols = len(gen.RVU_HEADER)
                self.assertEqual(rows[f["header_row"]][:2],
                                 (gen.PTP_HEADER if ncols == 7
                                  else gen.RVU_HEADER)[:2])
                got = recount(rows, f["header_row"], [0, 1], ncols)
                want = {k: f[k] for k in got}
                self.assertEqual(got, want, f["path"])
                self.assertEqual(f["processed"],
                                 f["inserted"] + f["invalid"] +
                                 f["duplicates"])
                self.assertGreater(f["duplicates"], 0)
                self.assertGreater(f["invalid"], 0)
                self.assertGreater(f["data_rows"], f["processed"])

    def test_fee_matches_the_decimal_formula(self):
        rvu = {"work_rvu": "1.30", "non_fac_pe_rvu": "1.26",
               "facility_pe_rvu": "0.55", "mp_rvu": "0.10"}
        gpci = {"work_gpci": "1.060", "pe_gpci": "1.298", "mp_gpci": "0.604"}
        # The program's flagship fee for 99213/26 in 05102 at CF 32.7442.
        self.assertEqual(gen.fee(rvu, gpci), 100.65)
        # (1.30*1.060 + 0.55*1.298 + 0.10*0.604) * 32.7442 = 70.4753...
        self.assertEqual(gen.fee(rvu, gpci, facility=True), 70.48)

    def test_serve_expectations_follow_updates(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.serve_plan(2, d, quarters=2, rvu_codes=100,
                                  ptp_rows=100, mue_rows=50, requests=40,
                                  update_every=8)
            kinds = [r["kind"] for r in plan["requests"]]
            self.assertEqual(kinds.count("update"), 5)
            self.assertTrue(all(kinds[i] == "update" for i in range(7, 40, 8)))
            self.assertTrue(all(r["expect"] is not None for r in
                                plan["requests"] if r["kind"] in
                                ("fee", "mue")))


if __name__ == "__main__":
    unittest.main()
