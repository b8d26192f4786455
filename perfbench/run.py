#!/usr/bin/env python3
"""The repository's benchmark. From the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program (perfbench/build.py), generates the workload's inputs
from the seed, and runs one JVM in local mode (two task slots, one on a
2-core host) as a single closed-loop client: after set-up and warm-up it repeats
passes over the workload for the given seconds. It then checks the
outputs, prints a table of every metric and, as the last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`.

--trace 0 reports the end-to-end metrics; --trace 1 spends half the time
in untraced and half in traced passes, alternating, and reports the per-layer
metrics plus the tracing overhead between the two halves. Spans of the
traced half are written to .bench_work/<workload>/spans.jsonl.

Workloads:
  movie_delta    the movie ETL's steady-state batch: JSONL shards merged into
                 a parquet state snapshot; the KV store is pre-loaded with
                 the state's values
  catalog_light  short declared queries over small generated tables, where
                 fixed per-query cost dominates, and one Structured
                 Streaming drain over the events table
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("movie_delta", "catalog_light")
# the whole run must end within 180 s
JVM_TIMEOUT_S = 160
# a tail percentile needs at least this many samples beyond it
MIN_TAIL = 10

JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseG1GC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

def percentile(values, p):
    """The p-th percentile (0 < p < 100) by linear interpolation. Refuses
    when fewer than MIN_TAIL samples lie beyond it."""
    n = len(values)
    k = (n - 1) * p / 100
    lo = int(k)
    beyond = n - 1 - lo
    if n == 0 or (p > 50 and beyond < MIN_TAIL):
        raise ValueError(f"p{p} of {n} samples has {beyond} beyond it, needs {MIN_TAIL}")
    xs = sorted(values)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def load_spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(raw):
    """End-to-end metrics of an untraced run, as {name: value}."""
    return {
        "setup_s": raw["setup_s"],
        "pass_s": statistics.median(raw["pass_s"]),
        "query_p50_s": statistics.median(raw["query_s"]),
        "cpu_s": statistics.median(raw["cpu_s"]),
        "peak_live_heap_mb": raw["peak_live_heap_mb"],
    }


def per_layer(raw):
    """Per-layer metrics of a traced run, as {name: value}."""
    m = dict(raw["layers"])
    m.update(raw.get("counts") or {})
    m["trace.overhead_frac"] = (statistics.median(raw["traced_pass_s"])
                                / statistics.median(raw["pass_s"]) - 1)
    return m


def result(raw, spec, check_failures):
    traced = raw["traced"]
    defs = spec["per_layer"] if traced else spec["end_to_end"]
    values = per_layer(raw) if traced else end_to_end(raw)
    names = [d["name"] for d in defs]
    if set(values) != set(names):
        raise SystemExit(f"perfbench: measured {sorted(values)}, BENCHMARK.json names {names}")
    metrics = {d["name"]: {"value": float(values[d["name"]]), "unit": d["unit"]} for d in defs}
    failed = raw["failed"] + check_failures
    return {"correct": failed == 0, "attempted": raw["attempted"], "failed": failed,
            "metrics": metrics}


def table(raw, res):
    rows = [(k, v["value"], v["unit"]) for k, v in res["metrics"].items()]
    if not raw["traced"]:
        n = len(raw["query_s"])
        rows.append(("query_samples", n, "count"))
        try:
            rows.append(("query_p90_s", percentile(raw["query_s"], 90), "s"))
        except ValueError as e:
            rows.append(("query_p90_s", f"not reported: {e}", ""))
        rows.append(("passes", len(raw["pass_s"]), "count"))
        rows.append(("warmup_pass_compiles", raw["warmup_pass_compiles"], "count"))
        rows.append(("timed_gcs", raw["timed_gcs"], "count"))
    rows.append(("fail_frac", res["failed"] / res["attempted"], "ratio"))
    w = max(len(r[0]) for r in rows)
    return "\n".join(f"{raw['workload']:14} {k:<{w}} {v} {u}" for k, v, u in rows)


def run(workload, seed, seconds, trace):
    root = os.getcwd()
    spec = load_spec()
    build.build()
    work = os.path.join(root, ".bench_work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work]
    if workload.startswith("catalog_"):
        import gen_tables
        tables = os.path.join(work, "tables")
        gen_tables.write(tables, seed)
        args += ["--tables", tables]
    cmd = (["java"] + JAVA_OPTS
           + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", build.classpath(), "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT_S} s")
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {r.returncode}")
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    # the harness has counted the KV checker's mismatches in raw["failed"]
    check_failures = 0
    if workload.startswith("catalog_"):
        import check_catalog
        verdicts = check_catalog.check(tables, os.path.join(work, "check"), raw["calls"])
        raw["catalog_check"] = verdicts
        check_failures = sum(1 for v in verdicts.values() if v is not None)
        for q, v in verdicts.items():
            if v is not None:
                print(f"check failed: {q}: {v}", file=sys.stderr)
    for e in raw.get("errors", []) + raw.get("kv_examples", []):
        print(f"error: {e}", file=sys.stderr)
    res = result(raw, spec, check_failures)
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"raw": raw, "result": res}, f, indent=1)
    print(table(raw, res))
    print(json.dumps(res))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    run(a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    main()
