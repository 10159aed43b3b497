#!/usr/bin/env python3
"""Builds the program and the benchmark into .bench_build/ of the checkout.

The program (src/main) is compiled with the Scala 2.13 compiler that ships
with Spark in the jar directory build.sbt names (`unmanagedBase`), then its
Java sources with javac (the Panama kernels need --add-modules
jdk.incubator.vector), the same split sbt makes.
The benchmark's own sources (perfbench/src) are compiled against the
program's classes. Each step is skipped when a stamp of its inputs is
unchanged, so only the first run in a checkout pays for the build.

Usage: python3 perfbench/build.py   (prints the classpath of the two builds)
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
COMPILER = ["scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"]


def sources(d, exts):
    return sorted(p for p in d.rglob("*") if p.is_file() and p.suffix in exts)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run(cmd, log):
    with open(log, "w") as lf:
        r = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        raise SystemExit(f"build step failed: {cmd[0]} ... (log {log})")


def scalac(jars, dest, srcs, classpath, log):
    compiler_cp = ":".join(str(jars / j) for j in COMPILER)
    run(["java", "-Xmx2g", "-Xss8m", "-cp", compiler_cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(dest), "-cp", classpath] + [str(s) for s in srcs], log)


def build_step(name, srcs, key, compile_fn):
    dest = OUT / name
    stamp_file = OUT / f"{name}.stamp"
    if stamp_file.exists() and stamp_file.read_text() == key and dest.is_dir():
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    compile_fn(dest, srcs)
    stamp_file.write_text(key)
    return dest


def spark_jars():
    """The Spark jar directory, as build.sbt's `unmanagedBase` names it."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit(f"no unmanagedBase in {sbt}")
    return Path(m.group(1))


def build():
    main = ROOT / "src" / "main"
    if not main.is_dir():
        raise SystemExit(f"no program sources at {main}")
    jars = spark_jars()
    for j in COMPILER:
        if not (jars / j).is_file():
            raise SystemExit(f"missing compiler jar {jars / j}")
    OUT.mkdir(exist_ok=True)
    spark_cp = str(jars / "*")

    prog_srcs = sources(main, {".scala", ".java"})
    if not prog_srcs:
        raise SystemExit(f"no program sources under {main}")

    def compile_program(dest, srcs):
        scalac(jars, dest, srcs, spark_cp, OUT / "program-scalac.log")
        java = [str(s) for s in srcs if s.suffix == ".java"]
        if java:
            run(["javac", "--add-modules", "jdk.incubator.vector", "-encoding", "UTF-8", "-nowarn",
                 "-d", str(dest), "-cp", f"{dest}:{spark_cp}"] + java, OUT / "program-javac.log")

    prog = build_step("program", prog_srcs, stamp(prog_srcs), compile_program)

    bench_srcs = sources(ROOT / "perfbench" / "src", {".scala"})
    bench = build_step("bench", bench_srcs, stamp(bench_srcs, (OUT / "program.stamp").read_text()),
                       lambda dest, srcs: scalac(jars, dest, srcs, f"{prog}:{spark_cp}",
                                                 OUT / "bench-scalac.log"))
    return [str(bench), str(prog), spark_cp]


if __name__ == "__main__":
    print(":".join(build()))
