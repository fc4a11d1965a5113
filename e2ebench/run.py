#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: market back-data, live tail and
corpus drops, driven through the shipped public entry points.

Run from the repository root:

    python3 e2ebench/run.py --workload market_batch --seed 1 --seconds 30 --trace 0

The first run compiles the engine (src/main/scala) together with the
benchmark (e2ebench/src) into .bench_build/ with the Scala compiler that
ships in Spark's jar directory; later runs reuse the classes while the
sources are unchanged. Each run works in its own directory under
.bench_build/work and removes it afterwards. The last line of standard
output is the JSON result; progress and the named per-workload figures go
to standard error. Traced runs (--trace 1) also write their spans to
.bench_build/traces/. A run is killed after 170 s.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
from build import BUILD, ROOT, build, fail, java, spark_jars  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
HEAP = "4g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# project's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java(), f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            "-cp", classes + ":" + os.path.join(jars, "*"),
            "e2ebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(work, "run"),
            "--spec", os.path.join(ROOT, "BENCHMARK.json"),
            "--manifest", os.path.join(HERE, "manifest.json"),
            "--traces", os.path.join(BUILD, "traces")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"benchmark exited with {proc.returncode} and no result")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
