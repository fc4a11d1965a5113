#!/usr/bin/env python3
"""Run the benchmark on several seeds per workload and report, per end-to-end
metric, the median and the spread (interquartile range as a share of the
median) next to the metric's bound from BENCHMARK.json.

    python3 e2ebench/spread.py                     # 10 seeds, every workload
    python3 e2ebench/spread.py --runs 5 --workloads market

Raw result lines are appended to .bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
from build import BUILD, HERE, ROOT  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    expected = {m["name"]: m["unit"]
                for m in bench["per_layer" if a.trace else "end_to_end"]}
    log = os.path.join(BUILD, "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    ok = True
    for w in a.workloads:
        vals, walls = {}, []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
            walls.append(time.time() - t0)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}")
                ok = False
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            # the per-workload figures run.py prints as "[e2ebench] name value unit"
            named = {}
            for line in r.stderr.splitlines():
                f = line.split()
                if len(f) == 4 and f[0] == "[e2ebench]":
                    try:
                        named[f[1]] = float(f[2])
                    except ValueError:
                        pass
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1],
                                     "named": named, **res}) + "\n")
            print(f"{w} seed {seed}: {walls[-1]:.1f} s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            if got != expected:
                ok = False
                print(f"  metrics differ from BENCHMARK.json: missing "
                      f"{sorted(set(expected) - set(got))}, extra "
                      f"{sorted(set(got) - set(expected))}, units "
                      f"{sorted(k for k in got if k in expected and got[k] != expected[k])}")
            for k, m in res["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
        print(f"{w}: run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for k, v in vals.items():
            med = statistics.median(v)
            if len(v) >= 2:
                q = statistics.quantiles(v, n=4)
                spread = (q[2] - q[0]) / med if med else float("nan")
            else:
                spread = float("nan")
            b = bounds.get(k)
            flag = ""
            if b is not None and not spread < b / 3:
                flag = "  <-- spread not below a third of the bound"
            print(f"  {k:22s} median {med:14.4f}  spread {spread:7.4f}  "
                  f"bound {b}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
