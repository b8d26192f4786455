#!/usr/bin/env python3
"""Measures a baseline of record. From the repository root:

    python3 perfbench/baseline.py --out perfbench/baseline.json

Runs the benchmark RUNS times per workload in each of SETS sets, each run
on its own seed, plus one traced run per workload. For each end-to-end
metric it reports the median, the quartiles and the spread (interquartile
distance over median) per set, and the second set's median against the
first's; the traced runs give the per-workload × per-layer table.
Workloads run in turn within a set, so slow periods of the host fall on
all of them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 10
SETS = 2


def bench(workload, seed, seconds, trace):
    t0 = time.time()
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         check=True, capture_output=True, text=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    res["run_wall_s"] = time.time() - t0
    return res


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = {w: [[] for _ in range(SETS)] for w in workloads}
    report = {"run_seconds": spec["run_seconds"], "runs_per_set": RUNS, "workloads": {}}

    def save():
        for w in workloads:
            done = [rs for rs in runs[w] if len(rs) > 1]
            sets = [{m: summary([r["metrics"][m]["value"] for r in rs]) for m in bounds}
                    for rs in done]
            walls = [r["run_wall_s"] for rs in runs[w] for r in rs]
            entry = report["workloads"].setdefault(w, {})
            entry.update({"sets": sets, "run_wall_s": walls,
                          "attempted": sum(r["attempted"] for rs in runs[w] for r in rs),
                          "failed": sum(r["failed"] for rs in runs[w] for r in rs)})
            if len(sets) > 1:
                entry["second_over_first"] = {m: sets[1][m]["median"] / sets[0][m]["median"]
                                              for m in bounds}
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")

    for s in range(SETS):
        for i in range(RUNS):
            for w in workloads:
                res = bench(w, 1000 * s + i + 1, spec["run_seconds"], 0)
                if not res["correct"]:
                    raise SystemExit(f"{w} seed {1000 * s + i + 1}: incorrect: {res}")
                runs[w][s].append(res)
                print(f"set {s + 1} run {i + 1} {w}: {res['run_wall_s']:.1f} s", file=sys.stderr)
                save()
    for w in workloads:
        res = bench(w, 1, spec["run_seconds"], 1)
        report["workloads"][w]["layers"] = {k: v["value"] for k, v in res["metrics"].items()}
        save()
    for w in workloads:
        sets = report["workloads"][w]["sets"]
        for m, b in bounds.items():
            line = " ".join(f"{st[m]['median']:.4g} (spread {st[m]['spread']:.3f})" for st in sets)
            flag = "" if all(st[m]["spread"] < b / 3 for st in sets) else " WIDE"
            print(f"{w:14} {m:12} bound {b}: {line}{flag}")
        print(f"{w:14} run wall median {statistics.median(report['workloads'][w]['run_wall_s']):.1f} s")


if __name__ == "__main__":
    main()
