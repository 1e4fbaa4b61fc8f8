#!/usr/bin/env python3
"""Run a workload with several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload fx_batch --seeds 1-10

Spread is the distance between the first and third quartile of the
per-run values (statistics.quantiles, n=4) as a share of their median —
the figure a metric's `bound` in BENCHMARK.json is compared with. Run from
the root of a checkout. Every run is untraced and lasts `run_seconds` from
BENCHMARK.json, as the bounds assume; results also go to
perfbench/.work/spread_<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    secs = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                               "--seconds", str(secs), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        res = json.loads(r.stdout.strip().splitlines()[-1])
        runs.append({"seed": s, "exit": r.returncode, "wall_s": wall, "result": res})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items()))
        print(f"seed {s}: exit {r.returncode} wall {wall:.1f}s correct={res['correct']} {vals}",
              file=sys.stderr)
    names = sorted(runs[0]["result"]["metrics"])
    summary = {}
    for n in names:
        xs = [r["result"]["metrics"][n]["value"] for r in runs]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        summary[n] = {"median": med, "spread": spread, "bound": bounds.get(n)}
        b = bounds.get(n)
        flag = "" if b is None else ("ok" if spread <= b / 3 else "WIDE" if spread <= b else "OVER")
        print(f"{n:24s} median {med:12.5g} spread {spread:7.4f} bound {b} {flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    os.makedirs(os.path.join("perfbench", ".work"), exist_ok=True)
    with open(os.path.join("perfbench", ".work", f"spread_{a.workload}.json"), "w") as f:
        json.dump({"runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
