#!/usr/bin/env python3
"""Paired runs of a parent and a change, judged by the benchmark's rules.

    python3 perfbench/pair.py --parent ../parent-checkout --change . [--pairs 10]

Both arguments are checkouts holding BENCHMARK.json and the same
benchmark (perfbench/ must match file for file, or the runner refuses).
Workloads, metrics, bounds and run length come from BENCHMARK.json, and
both sides run with the same settings. For each
workload the pair runner makes `--pairs` pairs on seeds 1..N. Within a pair
the side that runs first alternates. It then runs one held-out seed on
each side. It prints one row per workload. For each end-to-end metric:

  gain        the change wins >= 9/10 of the pairs (ties count for
              neither), the median gap exceeds the parent's interquartile
              range, and the held-out seed agrees
  regression  the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  the parent's own interquartile range exceeds the bound
  same        none of the above
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

HELD_OUT_SEED = 90001
# a run's own limit: the first run in a checkout builds (run.py allows the
# build 800 s and the measuring JVM 170 s), with room for the rest
RUN_TIMEOUT_S = 1200


def run(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines else None
    if proc.returncode != 0 or not out or not out["correct"]:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed")
    return {k: v["value"] for k, v in out["metrics"].items()}


def benchmark_digest(checkout):
    """Hash of the benchmark's own files, without build and run outputs."""
    h = hashlib.sha256()
    root = checkout / "perfbench"
    skip = {".build", ".work", "target", "__pycache__"}
    for p in sorted(root.rglob("*")):
        if p.is_file() and not skip & set(p.relative_to(root).parts):
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def iqr(xs):
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def verdict(metric, parent, change, held):
    sign = 1 if metric["better"] == "lower" else -1
    pm, cm = statistics.median(parent), statistics.median(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    gap = sign * (pm - cm)  # > 0: the change is better
    if wins >= 0.9 * len(parent) and gap > iqr(parent) and sign * (held[0] - held[1]) > 0:
        v = "gain"
    elif -gap > metric["bound"] * pm:
        v = "regression"
    elif iqr(parent) > metric["bound"] * pm:
        v = "unresolved"
    else:
        v = "same"
    return f"{metric['name']}={v}({(cm - pm) / pm:+.1%},{wins}/{len(parent)})"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()
    if benchmark_digest(args.parent) != benchmark_digest(args.change):
        raise SystemExit("parent and change hold different benchmark code; "
                         "measure both with the same perfbench/")
    bench = json.loads((args.change / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    for w in bench["workloads"]:
        sides = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                sides[side].append(run(getattr(args, side), w["name"], i + 1, seconds))
        held = [run(args.parent, w["name"], HELD_OUT_SEED, seconds),
                run(args.change, w["name"], HELD_OUT_SEED, seconds)]
        cells = [verdict(m, [r[m["name"]] for r in sides["parent"]],
                         [r[m["name"]] for r in sides["change"]],
                         [h[m["name"]] for h in held])
                 for m in bench["end_to_end"]]
        print(f"{w['name']:16s} " + "  ".join(cells), flush=True)


if __name__ == "__main__":
    main()
