"""Build the program and the benchmark from source, without sbt.

The program's `src/main/scala` compiles with the Scala compiler that ships
in the Spark jars directory, into `<out>/classes`; the benchmark's own
`perfbench/src` compiles against it into `<out>/bench-classes`. A content
hash of both source trees is kept, so an unchanged tree is not rebuilt.
Also writes `<out>/layers.tsv`: each program source file with its layer
(the package directory it sits in), for the tracer's call-site split.

Usage: python3 perfbench/build.py [out_dir]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BUILD_SBT_JARS = Path("/opt/spark/jars")


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt takes
    them from (its `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    return Path(home) / "jars" if home else BUILD_SBT_JARS


def out_dir():
    """Build outputs: $CARGO_TARGET_DIR when set (relative to the checkout),
    else `.bench_build`."""
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(base):
    return sorted(p for p in base.rglob("*") if p.suffix in (".scala", ".java"))


def scalac(files, dest, extra_cp=None):
    dest.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(dest)]
    if extra_cp:
        cmd += ["-classpath", str(extra_cp)]
    subprocess.run(cmd + [str(f) for f in files], check=True,
                   stdout=sys.stderr)


def digest(files, seed=""):
    h = hashlib.sha256(seed.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def compiled(dest, stamp, compile_):
    """Run `compile_` into `dest` unless `dest` was built from `stamp`."""
    mark = dest.parent / (dest.name + ".stamp")
    if mark.exists() and mark.read_text() == stamp:
        return
    mark.unlink(missing_ok=True)
    shutil.rmtree(dest, ignore_errors=True)
    compile_()
    mark.write_text(stamp)


def build(out=None):
    out = Path(out) if out else out_dir()
    prog, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    if not prog:
        raise SystemExit(f"no program sources under {PROGRAM_SRC}")
    if not bench:
        raise SystemExit(f"no benchmark sources under {BENCH_SRC}")
    out.mkdir(parents=True, exist_ok=True)
    prog_stamp = digest(prog)
    compiled(out / "classes", prog_stamp,
             lambda: scalac(prog, out / "classes"))
    compiled(out / "bench-classes", digest(bench, prog_stamp),
             lambda: scalac(bench, out / "bench-classes",
                            extra_cp=out / "classes"))
    graft = PROGRAM_SRC / "graft"
    lines = []
    for f in prog:
        rel = f.relative_to(graft).parts if graft in f.parents else ()
        lines.append(f"{f.name}\t{rel[0] if len(rel) > 1 else 'graft'}")
    (out / "layers.tsv").write_text("\n".join(lines) + "\n")
    return out


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else None)
