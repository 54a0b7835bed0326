"""Seeded input generators for the benchmark workloads.

Every file a workload feeds the program is written here, from the workload
seed alone, so the inputs do not depend on the program's own synthetic
writers. Each generator also returns what the program must answer for those
inputs: the planted counts of an upload, the rows of every store version,
and so on. The same seed always gives byte-identical files.
"""
import io
import json
import os
import random
import zipfile
from decimal import Decimal, ROUND_HALF_UP
from xml.sax.saxutils import escape

# ---------------------------------------------------------------------------
# CMS-shaped upload files
# ---------------------------------------------------------------------------

PTP_HEADER = ["Column 1", "Column 2", "*=in existence prior to 1996",
              "Effective Date", "Deletion Date",
              "Modifier 0=not allowed 1=allowed 9=not applicable",
              "PTP Edit Rationale"]
RVU_HEADER = ["HCPCS", "MOD", "DESCRIPTION", "STATUS CODE", "WORK RVU",
              "NON-FAC PE RVU", "FAC PE RVU", "MP RVU", "NON-FAC TOTAL",
              "FAC TOTAL", "PCTC IND", "GLOB DAYS", "CONV FACTOR"]
GPCI_HEADER = ["MAC LOCALITY", "LOCALITY NAME", "WORK GPCI", "PE GPCI",
               "MP GPCI"]
MUE_HEADER = ["HCPCS/CPT Code", "Practitioner Services MUE Values",
              "MUE Adjudication Indicator", "MUE Rationale"]

RATIONALES = ["Standard preparation/monitoring services",
              "Mutually exclusive procedures", "CPT Manual or CMS manual",
              "Misuse of column two code with column one code",
              "Anesthesia service included in surgical procedure",
              "More extensive procedure, separate site"]
MAI = ["1 Line Edit", "2 Date of Service Edit: Policy",
       "3 Date of Service Edit: Clinical"]
MUE_RATIONALE = ["Anatomic Consideration", "Clinical Data",
                 "Code Descriptor / CPT Instruction", "Nature of Service"]
MODIFIERS = ["26", "TC", "53", "59"]
# Values the program treats as a missing key (clean_code sentinels).
KEY_SENTINELS = ["", "NULL", "N/A"]

CONVERSION_FACTOR = "32.7442"


def _code(i):
    """5-character HCPCS-like code; leading zeros are part of the code."""
    assert 0 <= i < 100000
    return f"{i:05d}"


def _csv_cell(v):
    if any(ch in v for ch in ",\"\n"):
        return '"' + v.replace('"', '""') + '"'
    return v


def _csv_bytes(rows):
    return ("\n".join(",".join(_csv_cell(c) for c in r) for r in rows)
            + "\n").encode("utf-8")


def _xlsx_bytes(rows, numeric_cols):
    """Minimal XLSX workbook (one sheet). Cells of `numeric_cols` that
    parse as numbers are number cells, other cells are inline strings (so
    codes keep their leading zeros), and empty cells are omitted. Zip entry
    times are fixed so the bytes depend only on the arguments."""
    out = []
    for ri, r in enumerate(rows, start=1):
        cells = []
        for ci, v in enumerate(r):
            if v == "":
                continue
            ref = _col_letter(ci) + str(ri)
            if ci in numeric_cols and _is_number(v):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>'
                             f'{escape(v)}</t></is></c>')
        out.append(f'<row r="{ri}">{"".join(cells)}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>' + "".join(out) +
             '</sheetData></worksheet>')
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://'
            'schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.'
            'openxmlformats-package.relationships+xml"/><Default '
            'Extension="xml" ContentType="application/xml"/><Override '
            'PartName="/xl/workbook.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/></Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns='
            '"http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org'
            '/officeDocument/2006/relationships/officeDocument" Target='
            '"xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://'
            'schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r='
            '"http://schemas.openxmlformats.org/officeDocument/2006/'
            'relationships"><sheets><sheet name="Sheet1" sheetId="1" '
            'r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns='
            '"http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org'
            '/officeDocument/2006/relationships/worksheet" Target='
            '"worksheets/sheet1.xml"/></Relationships>',
        "xl/worksheets/sheet1.xml": sheet,
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text)
    return buf.getvalue()


def _col_letter(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _is_number(v):
    try:
        float(v)
    except ValueError:
        return False
    return v.strip() == v and v.lower() not in ("nan", "inf", "-inf",
                                                "infinity", "-infinity")


def _plant(rng, rows, ncols, key_cols, dup_share, missing_share,
           empty_share, fresh_key_row):
    """Turn clean data rows into an upload body with planted dirt.

    `rows` have distinct keys. Returns (body_rows, counts) where counts are
    what the ingest must report: rows it processes (non-empty), rows it
    rejects for a missing key, later duplicates of an earlier key, and rows
    it inserts."""
    n = len(rows)
    n_dup = max(1, round(n * dup_share))
    n_missing = max(1, round(n * missing_share))
    n_empty = max(1, round(n * empty_share))
    # Planted rows go in front of original row `at` (n = at the end), in
    # the order they are drawn.
    extra = [[] for _ in range(n + 1)]
    # Duplicates repeat an earlier row's key with other values changed, and
    # are placed after it, so first-wins keeps the original.
    for _ in range(n_dup):
        src = rng.randrange(n)
        dup = list(fresh_key_row())
        for k in key_cols:
            dup[k] = rows[src][k]
        extra[rng.randrange(src + 1, n + 1)].append(dup)
    # Missing keys: one key cell becomes blank or a null sentinel.
    for _ in range(n_missing):
        bad = list(fresh_key_row())
        bad[rng.choice(key_cols)] = rng.choice(KEY_SENTINELS)
        extra[rng.randrange(n + 1)].append(bad)
    for _ in range(n_empty):
        extra[rng.randrange(n + 1)].append([""] * ncols)
    body = []
    for i in range(n + 1):
        body += extra[i]
        if i < n:
            body.append(list(rows[i]))
    counts = {"data_rows": len(body), "processed": n + n_dup + n_missing,
              "inserted": n,
              "invalid": n_missing, "duplicates": n_dup}
    return body, counts


def _title_rows(ncols, *titles):
    return [[t] + [""] * (ncols - 1) for t in titles]


class _Keys:
    """Unique key source shared by the rows of one upload, so planted
    duplicates are the only repeated keys."""

    def __init__(self, rng, space):
        self.rng, self.space, self.used = rng, space, set()

    def take(self):
        while True:
            k = self.rng.randrange(self.space)
            if k not in self.used:
                self.used.add(k)
                return k


def _ptp_row(rng, keys, width=4000):
    """A PTP edit whose code pair is key `k` of a `width` × `width` grid."""
    k = keys.take()
    col1, col2 = divmod(k, width)
    eff = f"{rng.randrange(1996, 2025)}{rng.randrange(1, 13):02d}01"
    deleted = rng.random() < 0.1
    return [_code(col1), _code(50000 + col2),
            "*" if rng.random() < 0.2 else "",
            eff, f"{int(eff[:4]) + 1}0101" if deleted else "*",
            rng.choice(["0", "1", "9"]), rng.choice(RATIONALES)]


def _num(rng, lo, hi, places):
    v = rng.uniform(lo, hi)
    return f"{v:.{places}f}"


def _rvu_row(rng, keys, code_space):
    k = keys.take()
    code, mod = divmod(k, len(MODIFIERS))
    w, nf, f, mp = (_num(rng, 0, 20, 2), _num(rng, 0, 15, 2),
                    _num(rng, 0, 10, 2), _num(rng, 0, 3, 2))
    return [_code(code % code_space), MODIFIERS[mod],
            f"Procedure {code} desc, {MODIFIERS[mod]}", rng.choice("ABCEIJ"),
            w, nf, f, mp,
            f"{float(w) + float(nf) + float(mp):.2f}",
            f"{float(w) + float(f) + float(mp):.2f}",
            rng.choice("0129"), rng.choice(["000", "010", "090", "XXX"]),
            CONVERSION_FACTOR]


def _gpci_rows(rng, n):
    rows = []
    for i in range(n):
        rows.append([f"{1000 + i * 37 % 9000:05d}",
                     f"Locality {i}, State {i % 50}",
                     _num(rng, 0.8, 1.2, 3), _num(rng, 0.7, 1.5, 3),
                     _num(rng, 0.3, 1.5, 3)])
    return rows


def _mue_row(rng, keys):
    k = keys.take()
    return [_code(k), str(rng.choice([0, 1, 1, 2, 3, 4, 6, 10, 999])),
            rng.choice(MAI), rng.choice(MUE_RATIONALE)]


def ingest_release(seed, out_dir, ptp_parts=3, ptp_rows=25000,
                   rvu_rows=6000, tag="release"):
    """One quarterly release: an NCCI_PTP CSV in `ptp_parts` parts (appended
    under one version label) and a PFS_RVU-shaped XLSX. Returns the upload
    list with planted counts. `tag` keeps differently sized releases of one
    seed apart."""
    rng = random.Random(f"ingest:{tag}:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    files = []
    ptp_keys = _Keys(rng, 4000 * 4000)
    for p in range(ptp_parts):
        rows = [_ptp_row(rng, ptp_keys) for _ in range(ptp_rows)]
        body, counts = _plant(rng, rows, len(PTP_HEADER), [0, 1], 0.01,
                              0.005, 0.003, lambda: _ptp_row(rng, ptp_keys))
        data = _title_rows(len(PTP_HEADER),
                           "NCCI Practitioner PTP Edits",
                           f"Release 2026-Q1 part {p + 1} of {ptp_parts}")
        data += [PTP_HEADER] + body
        path = os.path.join(out_dir, f"{tag}_ptp_p{p + 1}.csv")
        with open(path, "wb") as f:
            f.write(_csv_bytes(data))
        files.append({"source": "NCCI_PTP", "path": path,
                      "variant": "PRACTITIONER", "header_row": 2, **counts})
    if rvu_rows:
        files.append(rvu_upload(rng, os.path.join(out_dir,
                                                  f"{tag}_pfs_rvu.xlsx"),
                                rvu_rows))
    return {"label": "2026-Q1", "effective_date": "2026-01-01",
            "files": files}


def rvu_upload(rng, path, n):
    """A PFS_RVU XLSX of `n` distinct keys plus planted dirt."""
    keys = _Keys(rng, 20000 * len(MODIFIERS))
    rows = [_rvu_row(rng, keys, 20000) for _ in range(n)]
    body, counts = _plant(rng, rows, len(RVU_HEADER), [0, 1], 0.01, 0.005,
                          0.003, lambda: _rvu_row(rng, keys, 20000))
    data = _title_rows(len(RVU_HEADER), "PFS Relative Value File",
                       "Addenda B, 2026")
    data += [[""] * len(RVU_HEADER), RVU_HEADER] + body
    with open(path, "wb") as f:
        f.write(_xlsx_bytes(data, numeric_cols={4, 5, 6, 7, 8, 9, 12}))
    return {"source": "PFS_RVU", "path": path, "variant": None,
            "header_row": 3, **counts}


def probe(seed, out_dir):
    """The small upload the traced run pushes through every layer."""
    rng = random.Random(f"probe:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    f = rvu_upload(rng, os.path.join(out_dir, "probe_pfs_rvu.xlsx"), 300)
    return {"path": f["path"], "source": "PFS_RVU",
            "release": {"label": "2026-Q1", "effective_date": "2026-01-01",
                        "files": [f]}}


# ---------------------------------------------------------------------------
# serve: a store history plus a request stream
# ---------------------------------------------------------------------------

def fee(rvu, gpci, cf=CONVERSION_FACTOR, facility=False):
    """The program's fee formula, with its decimal semantics: each factor
    as decimal(20,6), the product sum at full precision, times the
    conversion factor rounded half-up to 6 places, then to 2."""
    d = Decimal
    pe = rvu["facility_pe_rvu" if facility else "non_fac_pe_rvu"]
    s = (d(rvu["work_rvu"]) * d(gpci["work_gpci"]) + d(pe) * d(gpci["pe_gpci"])
         + d(rvu["mp_rvu"]) * d(gpci["mp_gpci"]))
    six = (s * d(cf)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    return float(six.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def serve_plan(seed, out_dir, quarters=4, rvu_codes=3000, ptp_rows=6000,
               mue_rows=2000, localities=110, requests=400, update_every=8):
    """A version history (typed parquet, one file per source and quarter,
    loaded into the store at set-up), and a request stream of lookups with
    a GPCI update upload every `update_every`-th request. Each request
    carries its expected answer, computed from the generated rows of
    whichever version is current when the request runs."""
    rng = random.Random(f"serve:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    history = []
    cur = {}

    def write(name, rows, header, titles):
        path = os.path.join(out_dir, name)
        data = _title_rows(len(header), *titles) + [header] + rows
        with open(path, "wb") as f:
            f.write(_csv_bytes(data))
        return path

    for q in range(quarters):
        label = f"{2024 + q // 4}-Q{q % 4 + 1}"
        eff = f"{2024 + q // 4}-{(q % 4) * 3 + 1:02d}-01"
        keys = _Keys(rng, rvu_codes * len(MODIFIERS))
        rvu = [_rvu_row(rng, keys, rvu_codes) for _ in range(rvu_codes)]
        gpci = _gpci_rows(rng, localities)
        pkeys = _Keys(rng, 400 * 400)
        ptp = [_ptp_row(rng, pkeys, width=400) for _ in range(ptp_rows)]
        mkeys = _Keys(rng, mue_rows * 3)
        mue = [_mue_row(rng, mkeys) for _ in range(mue_rows)]
        for src, rows, header, var in (("PFS_RVU", rvu, RVU_HEADER, None),
                                       ("PFS_GPCI", gpci, GPCI_HEADER, None),
                                       ("NCCI_PTP", ptp, PTP_HEADER,
                                        "PRACTITIONER"),
                                       ("NCCI_MUE_PRAC", mue, MUE_HEADER,
                                        None)):
            path = os.path.join(out_dir, f"{src.lower()}_{q}.parquet")
            _typed_parquet(src, rows, path)
            history.append({"source": src, "path": path, "label": label,
                            "effective_date": eff, "variant": var,
                            "rows": len(rows)})
        cur = {"rvu": rvu, "gpci": gpci, "ptp": ptp, "mue": mue}

    rvu_by_key = {(r[0], r[1]): r for r in cur["rvu"]}
    rvu_keys = sorted(rvu_by_key)
    ptp_active = {}
    for r in cur["ptp"]:
        if r[4] == "*":
            ptp_active[(r[0], r[1])] = int(r[5])
    ptp_keys = sorted((r[0], r[1]) for r in cur["ptp"])
    mue_by = {r[0]: int(r[1]) for r in cur["mue"]}
    mue_keys = sorted(mue_by)
    gpci = {r[0]: r for r in cur["gpci"]}
    reqs = []
    n_updates = 0
    # Every block of `update_every` requests has the same mix of kinds, so
    # seeds differ only in the keys they look up: mostly fee lookups, one
    # PTP pair check and one MUE lookup, then the update.
    mix = ["ptp", "mue"] + ["fee"] * (update_every - 3)
    for i in range(requests):
        if (i + 1) % update_every == 0:
            n_updates += 1
            rows = _gpci_rows(rng, localities)
            label = f"2026-U{n_updates}"
            path = write(f"gpci_update_{n_updates}.csv", rows, GPCI_HEADER,
                         [f"GPCI correction {label}"])
            gpci = {r[0]: r for r in rows}
            reqs.append({"kind": "update", "source": "PFS_GPCI",
                         "path": path, "label": label,
                         "effective_date": "2026-01-01",
                         "inserted": len(rows)})
            continue
        kind = mix[i % update_every]
        if kind == "fee":
            code, mod = rvu_keys[rng.randrange(len(rvu_keys))]
            loc = sorted(gpci)[rng.randrange(len(gpci))]
            r, g = rvu_by_key[(code, mod)], gpci[loc]
            rv = dict(work_rvu=r[4], non_fac_pe_rvu=r[5],
                      facility_pe_rvu=r[6], mp_rvu=r[7])
            gp = dict(work_gpci=g[2], pe_gpci=g[3], mp_gpci=g[4])
            reqs.append({"kind": "fee", "hcpcs": code, "modifier": mod,
                         "locality": loc,
                         "expect": [fee(rv, gp), fee(rv, gp, facility=True)]})
        elif kind == "ptp":
            c1, c2 = ptp_keys[rng.randrange(len(ptp_keys))]
            if rng.random() < 0.3:  # a pair with no edit
                c2 = _code(59999)
            reqs.append({"kind": "ptp", "col1": c1, "col2": c2,
                         "expect": ptp_active.get((c1, c2))})
        else:
            code = mue_keys[rng.randrange(len(mue_keys))]
            reqs.append({"kind": "mue", "hcpcs": code,
                         "expect": mue_by[code]})
    rows = _gpci_rows(rng, localities)
    path = write("gpci_warmup.csv", rows, GPCI_HEADER, ["GPCI warm-up"])
    warmup = {"label": "2023-Q4", "effective_date": "2023-10-01",
              "files": [{"source": "PFS_GPCI", "path": path, "variant": None,
                         "header_row": 1, "data_rows": len(rows),
                         "processed": len(rows), "inserted": len(rows),
                         "invalid": 0, "duplicates": 0}]}
    return {"conversion_factor": float(CONVERSION_FACTOR),
            "history": history, "requests": reqs, "warmup": warmup,
            "update_every": update_every}


def _typed_parquet(source, rows, path):
    """Rows of a clean upload as the typed relation the ingest would land:
    the store-side schema of `source`, ready for a direct version write."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import date

    def num(c):
        return pa.array([float(r[c]) for r in rows], pa.float64())

    def txt(c):
        return pa.array([r[c] for r in rows], pa.string())

    def day(v):
        return None if v == "*" else date(int(v[:4]), int(v[4:6]), int(v[6:]))

    if source == "PFS_RVU":
        cols = {"hcpcs_code": txt(0), "modifier": txt(1),
                "description": txt(2), "status_code": txt(3),
                "work_rvu": num(4), "non_fac_pe_rvu": num(5),
                "facility_pe_rvu": num(6), "mp_rvu": num(7),
                "non_fac_total": num(8), "facility_total": num(9),
                "pctc_indicator": txt(10), "global_days": txt(11),
                "conversion_factor": num(12)}
    elif source == "PFS_GPCI":
        cols = {"mac_locality": txt(0), "locality_name": txt(1),
                "work_gpci": num(2), "pe_gpci": num(3), "mp_gpci": num(4)}
    elif source == "NCCI_PTP":
        cols = {"comprehensive_code": txt(0), "component_code": txt(1),
                "modifier_indicator": pa.array([int(r[5]) for r in rows],
                                               pa.int64()),
                "effective_date": pa.array([day(r[3]) for r in rows],
                                           pa.date32()),
                "deletion_date": pa.array([day(r[4]) for r in rows],
                                          pa.date32()),
                "rationale": txt(6),
                "prior_1996_flag": pa.array([r[2] == "*" for r in rows])}
    else:
        cols = {"hcpcs_code": txt(0),
                "mue_value": pa.array([int(r[1]) for r in rows], pa.int64()),
                "mai_id": pa.array([int(r[2][0]) for r in rows], pa.int64()),
                "mai_description": txt(2), "mue_rationale": txt(3)}
    pq.write_table(pa.table(cols), path)


# ---------------------------------------------------------------------------
# registry: the analytics tables
# ---------------------------------------------------------------------------

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
ADJ = ["small", "red", "blue", "hot", "old", "new", "big", "green"]
NOUN = ["ring", "widget", "bolt", "plate", "rod", "anvil", "gear", "pipe"]


def registry_tables(seed, out_dir, sf=0.01):
    """TPC-H-shaped star schema plus events, documents and embeddings, one
    parquet file per table, with the driver dataset's schemas and value
    distributions. Documents and embeddings are sized as at sf 0.01."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rs = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), \
        int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), \
        int(1000000 * sf)
    n_users = max(10, int(15000 * sf))
    n_doc, n_emb = 500, 500
    day = np.datetime64("1995-01-01")

    def money(lo, hi, n):
        return np.round(rs.uniform(lo, hi, n), 2)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir,
                                                    f"{name}.parquet"))

    def pick(vals, n):
        return pa.array([vals[i] for i in rs.integers(0, len(vals), n)])

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rs.integers(0, 8, n_part), rs.integers(0, 8, n_part))]),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "STANDARD", "MEDIUM", "LARGE", "PROMO",
                        "SMALL"], n_part),
        "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    odays = rs.integers(0, 2404, n_ord)
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array((day + odays).astype("datetime64[us]")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    sdays = rs.integers(1, 2499, n_li)
    put("lineitem", {
        "l_orderkey": pa.array(rs.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rs.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rs.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rs.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rs.integers(0, 11, n_li) / 100.0,
        "l_tax": rs.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array((day + sdays).astype("datetime64[us]"))})
    us = np.sort(rs.integers(0, 30 * 86400 * 10**6, n_ev))
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us),
        "user_id": pa.array(rs.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "view", "purchase", "signup", "error"],
                           n_ev),
        "value": np.maximum(np.round(rs.exponential(50.0, n_ev), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rs.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        r = rs.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rs.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rs.integers(0, i))])
        else:
            n = int(rs.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rs.integers(0, len(WORDS),
                                                                 n)))
    langs = ["en", "en", "de", "es", "fr", "zh"]
    lang_idx = rs.choice(len(langs), n_doc, p=[0.2, 0.2, 0.15, 0.15, 0.15,
                                               0.15])
    put("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in lang_idx],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rs.integers(0, 10, n_emb)
    cents = rs.normal(0, 1, (10, 64))
    vecs = cents[labels] * 0.3 + rs.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=None, sort_keys=True)
