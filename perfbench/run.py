#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 16 --trace 0

Builds the program and the benchmark (see build.py), writes the workload's
inputs from the seed (gen.py), runs the workload in one JVM (a local[4]
Spark session) for `--seconds`, checks every answer, and prints a context
line and then, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. `--workload all` runs every
workload in turn. The exit code is 0 only when every answer was right.
"""
import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest", "serve", "registry")
# Hard ceiling for one run, set-up and checks included.
RUN_LIMIT_S = 170
REGISTRY_SAMPLE = 12
# The registry sample is drawn once, by this seed, and is the same for every
# workload seed (which draws the tables): a per-seed draw of so few queries
# would spread the figures by which queries it drew, not by the program.
REGISTRY_SAMPLE_SEED = 1
# Registry tables are generated at this TPC-H scale factor.
REGISTRY_SF = 0.001
# Queries whose DuckDB oracle needs more than ORACLE_LIMIT_S or
# ORACLE_MEM of DuckDB even on the small tables (k-means and product
# quantisation written out as recursive SQL): their answers could not be
# checked within a run, so they are not sampled.
UNCHECKABLE = ["q_llm_ann_ivfpq", "q_llm_ann_ivfpq_rerank", "q_llm_dbscan",
               "q_llm_semdedup", "q_llm_semdedup_det", "q_llm_semdedup_eval"]
ORACLE_LIMIT_S = 20
ORACLE_MEM = "1GB"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
STANDARD_PERCENTILES = (50, 75, 90, 95, 99)

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


# --------------------------------------------------------------- statistics

def tail_percentile(n):
    """The highest standard percentile with at least ten samples beyond it,
    or None when even the median has fewer."""
    best = None
    for p in STANDARD_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(1, -(-p * len(s) // 100))
    return s[int(k) - 1]


def tail(values):
    """(label, value): the tail by the percentile rule, or the slowest
    sample when there are too few samples for any percentile."""
    p = tail_percentile(len(values))
    if p is None or p == 50:
        return "max", max(values)
    return f"p{p}", percentile(values, p)


def failed_share(attempted, failed):
    return failed / attempted if attempted else 1.0


# ------------------------------------------------------------------ context

def host_context():
    def loadavg():
        try:
            return float(Path("/proc/loadavg").read_text().split()[0])
        except OSError:
            return None
    mem = None
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemAvailable:"):
                mem = int(line.split()[1]) // 1024
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "loadavg": loadavg(),
            "mem_available_mb": mem, "python": platform.python_version()}


# ------------------------------------------------------------------- inputs

def make_plan(workload, seed, work, out):
    inp = work / "in"
    plan = {"layers": str(out / "layers.tsv"),
            "probe": gen.probe(seed, str(inp))}
    if workload == "ingest":
        plan["release"] = gen.ingest_release(seed, str(inp), ptp_parts=2,
                                             ptp_rows=80000, rvu_rows=10000)
        plan["warmup"] = gen.ingest_release(seed, str(inp), ptp_parts=1,
                                            ptp_rows=20000, rvu_rows=2000,
                                            tag="warmup")
        plan["setup"] = gen.ingest_release(seed, str(inp), ptp_parts=1,
                                           ptp_rows=200, rvu_rows=0,
                                           tag="setup")
    elif workload == "serve":
        plan.update(gen.serve_plan(seed, str(inp), quarters=2))
    elif workload == "registry":
        gen.registry_tables(seed, str(inp / "tables"), sf=REGISTRY_SF)
        plan.update(tables=str(inp / "tables"), sample_seed=REGISTRY_SAMPLE_SEED,
                    sample_size=REGISTRY_SAMPLE, exclude=UNCHECKABLE)
    return plan


# -------------------------------------------------------------- correctness

def oracle_failures(tables, results, oracle_sql):
    """Names whose Spark result differs from the DuckDB oracle, compared the
    way scripts/selfcheck.py does: columns by name, types, row count, and
    rows sorted by all values."""
    import duckdb
    import math
    import threading

    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    def key(r):
        return tuple((x is None, str(type(x)), str(x)) for x in r)

    def connect():
        con = duckdb.connect()
        con.execute("SET threads=2")
        con.execute(f"SET memory_limit='{ORACLE_MEM}'")
        con.execute(f"SET temp_directory='{Path(results).parent / 'duckdb'}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{Path(tables) / (t + '.parquet')}'")
        return con

    con = connect()
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        res = Path(results) / name
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            if not res.exists():
                raise ValueError("no result written")
            got = con.execute(f"SELECT * FROM '{res}/*.parquet'") \
                .fetch_arrow_table()
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # a failed comparison is a failed query
            bad[name] = f"error: {e}"[:300]
            con = connect()
            continue
        finally:
            timer.cancel()
        gcols, wcols = sorted(got.column_names), sorted(want.column_names)
        gtypes = {f.name: str(f.type) for f in got.schema}
        wtypes = {f.name: str(f.type) for f in want.schema}
        if gcols != wcols or gtypes != wtypes:
            bad[name] = f"schema {gtypes} vs {wtypes}"[:300]
            continue
        g = sorted((tuple(norm(v) for v in row) for row in
                    zip(*[got.column(c).to_pylist() for c in gcols])),
                   key=key)
        w = sorted((tuple(norm(v) for v in row) for row in
                    zip(*[want.column(c).to_pylist() for c in wcols])),
                   key=key)
        if g != w:
            bad[name] = f"values differ ({len(g)} vs {len(w)} rows)"
    return bad


# ---------------------------------------------------------------------- run

def jvm_command(out, work, args):
    jars = build.spark_jars()
    cmd = ["java", "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd += ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", f"{out / 'bench-classes'}:{out / 'classes'}:{jars}/*",
            "perfbench.PerfBench"] + [str(a) for a in args]
    return cmd


def run_workload(workload, seed, seconds, trace, out, deadline):
    work = out / "work" / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.monotonic()
        plan = make_plan(workload, seed, work, out)
        gen_s = time.monotonic() - t0
        plan_path, res_path = work / "plan.json", work / "result.json"
        gen.write_json(plan_path, plan)
        log = work / "jvm.log"
        env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_PARTITIONS="4")
        env.pop("SPARK_GRAFT_SMALL_KERNEL", None)
        with open(log, "wb") as lf:
            proc = subprocess.Popen(
                jvm_command(out, work, [workload, plan_path, work, seconds,
                                        trace, res_path]),
                stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
            try:
                code = proc.wait(timeout=max(10, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0 or not res_path.exists():
            tail_lines = log.read_text(errors="replace").splitlines()[-30:]
            sys.stderr.write("\n".join(tail_lines) + "\n")
            raise SystemExit(f"{workload}: benchmark JVM failed ({code})")
        res = json.loads(res_path.read_text())
        errors = list(res["errors"])
        if workload == "registry":
            oracle = json.loads((work / "results.oracle.json").read_text())
            bad = oracle_failures(plan["tables"], work / "results", oracle)
            for op in res["ops"]:
                if op["name"] in bad:
                    op["ok"] = False
            errors += [f"{k}: {v}" for k, v in bad.items()]
        return summarize(workload, res, errors, trace, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize(workload, res, errors, trace, gen_s):
    ops = res["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    good = [o for o in ops if o["ok"] and not o["traced"]]
    reads = [o["s"] for o in good if o["kind"] in ("file", "lookup", "query")]
    updates = [o["s"] for o in good if o["kind"] == "update"]
    rounds = [r["s"] for r in res["rounds"] if not r["traced"]]
    context = {"workload": workload, "jvm": res["jvm"], "spark": res["spark"],
               "gen_s": round(gen_s, 3), "ops": len(reads), **res["extra"],
               "setup_samples": res["setup_s"], "errors": errors[:5]}
    metrics = {}
    if reads and rounds:
        label, tail_v = tail(reads)
        wall = statistics.median(rounds)
        metrics = {"setup_s": statistics.median(res["setup_s"]),
                   "wall_s": wall,
                   "op_s_p50": statistics.median(reads)}
        context[f"op_s_{label}"] = tail_v
        if workload == "ingest":
            context["rows_per_s"] = res["extra"]["rows_per_round"] / wall
        if updates:
            context["update_s_p50"] = statistics.median(updates)
    if trace:
        metrics = res["layers"]
    return {"correct": failed == 0 and not errors, "attempted": attempted,
            "failed": failed, "metrics": metrics,
            "failed_share": failed_share(attempted, failed),
            "context": context}


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    units = declared_metrics(a.trace)
    host = host_context()
    out = build.build()
    lines = []
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        r = run_workload(w, a.seed, a.seconds, a.trace, out,
                         time.monotonic() + RUN_LIMIT_S - 15)
        missing = sorted(set(units) - set(r["metrics"]))
        if missing and r["correct"]:
            raise SystemExit(f"{w}: metrics not measured: {missing}")
        r["metrics"] = {k: {"value": r["metrics"][k], "unit": u}
                        for k, u in units.items() if k in r["metrics"]}
        r["context"].update(host, seed=a.seed,
                            loadavg_end=host_context()["loadavg"])
        print(json.dumps({"context": r.pop("context"),
                          "failed_share": r.pop("failed_share")}))
        lines.append((w, r))
    if len(lines) == 1:
        final = lines[0][1]
    else:
        for w, r in lines:
            print(json.dumps({"workload": w, **r}))
        final = {"correct": all(r["correct"] for _, r in lines),
                 "attempted": sum(r["attempted"] for _, r in lines),
                 "failed": sum(r["failed"] for _, r in lines),
                 "metrics": {f"{w}.{k}": v for w, r in lines
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
