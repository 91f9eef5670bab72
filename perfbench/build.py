#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) with the Scala compiler
that ships in the Spark distribution's jars directory.

The Spark jars are found through SPARK_HOME, else through `spark-submit`
on PATH. Output goes to <build_dir>/perfbench/classes; a stamp of every
source's content skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars directory at {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "scala", "*.scala")))
    if not engine or not bench:
        raise SystemExit("perfbench: engine sources (src/main/scala) or benchmark "
                         "sources (perfbench/scala) not found")
    return engine + bench


def build(build_dir):
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(jars.encode())
    stamp = h.hexdigest()
    out = os.path.join(build_dir, "perfbench", "classes")
    stamp_file = os.path.join(build_dir, "perfbench", "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    def jar(prefix):
        found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13*.jar")))
        if not found:
            raise SystemExit(f"perfbench: {prefix} jar not found in {jars}")
        return found[-1]

    compiler_cp = os.pathsep.join(jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", out] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, jars


if __name__ == "__main__":
    bd = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(os.path.abspath(bd))[0])
