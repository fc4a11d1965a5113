#!/usr/bin/env python3
"""Builds the benchmark: compiles the engine (src/main/scala) together with
the benchmark sources (e2ebench/src) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/classes-<source hash>/. No build
tool and no network are needed. Run from anywhere:

    python3 e2ebench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found; set JAVA_HOME")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under {jars}; set SPARK_HOME")
    return jars


def fail(msg):
    print(f"[e2ebench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}; "
             "run from the root of a checkout")
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile engine + benchmark once per source state; returns classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes-" + stamp)
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))[0]
                        for p in ("compiler", "library", "reflect"))
    argfile = tmp + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    print(f"[e2ebench] compiling {len(srcs)} sources into {classes}", file=sys.stderr)
    r = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={BUILD}", "-cp", compiler,
                        "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", os.path.join(jars, "*"), "-d", tmp,
                        "@" + argfile])
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    if os.path.isdir(PROGRAM_RES):
        shutil.copytree(PROGRAM_RES, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".ok"), "w").close()
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build(spark_jars()))
