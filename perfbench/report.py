"""Per-layer metrics of a traced run, from its span file.

run.py calls per_layer() for --trace 1 runs. A span is one interval at a
call boundary (run.py's harness records them; see Tracing.scala):
operations (query, lookup, batch), a query's build and action, the
untimed check after an operation (verify), the Catalyst phases of each
action, Spark jobs with their task counters, streaming progress, and the
layer probes. A layer's self time is its span's duration minus the part
its child spans cover.
"""
import json
import statistics
from pathlib import Path

import metrics

PRIMARY = ("query", "batch")


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def load_spans(path):
    spans = [json.loads(line) for line in Path(path).read_text().splitlines() if line]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["dur"] = (s["t1"] - s["t0"]) / 1e6  # seconds
    ops = [s for s in spans if s["kind"] in PRIMARY]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    # every job and Catalyst phase belongs to the span it ran in: by its
    # job group when it has one, else (streaming batches run on the
    # query's own thread) by time. Only the primary operations' own jobs
    # count toward them; a check's jobs belong to its verify span
    for s in spans:
        if s["kind"] not in ("job", "catalyst"):
            continue
        owner = by_id.get(s["parent"])
        while owner is not None and owner["kind"] not in PRIMARY + ("lookup", "probe", "verify"):
            owner = by_id.get(owner["parent"])
        if owner is None:
            owner = next((o for o in ops if o["t0"] <= s["t0"] <= o["t1"]), None)
        s["op"] = owner["id"] if owner else None
    return spans, ops, children


def per_layer(result, spans_path):
    spans, ops, children = load_spans(spans_path)
    counters = result["counters"]
    cores = counters.get("cores", 1)
    out = {}

    jobs_of, catalyst_of = {}, {}
    for s in spans:
        if s["kind"] == "job" and s.get("op"):
            jobs_of.setdefault(s["op"], []).append(s)
        if s["kind"] == "catalyst" and s.get("op"):
            catalyst_of.setdefault(s["op"], []).append(s)

    # ---- per primary operation: build, Catalyst, execution, the rest
    rows = []
    for o in ops:
        kids = children.get(o["id"], [])
        build = next((k for k in kids if k["kind"] == "build"), None)
        action = next((k for k in kids if k["kind"] == "action"), None)
        jobs = jobs_of.get(o["id"], [])
        phases = [c for c in catalyst_of.get(o["id"], [])
                  if action is None or c["parent"] == action["id"]]
        b = build["dur"] if build else 0.0
        in_build = [j for j in jobs if build and build["t0"] <= j["t0"] <= build["t1"]]
        c = sum(p["dur"] for p in phases)
        lo, hi = (action["t0"], action["t1"]) if action else (o["t0"], o["t1"])
        j = covered([(x["t0"], x["t1"]) for x in jobs], lo, hi) / 1e6
        rows.append({
            "name": o["name"], "wall": o["dur"], "build": b, "catalyst": c, "exec": j,
            "other": max(0.0, o["dur"] - b - c - j), "jobs": jobs,
            "build_jobs": len(in_build),
            "phases": {ph: sum(p["dur"] for p in phases if p["name"] == ph)
                       for ph in ("analysis", "optimization", "planning")},
            "loads": max((p["attrs"].get("loads", 0) for p in phases), default=0)})

    untraced = {}
    for r in result["ops"]:
        if r["pass"] >= 0 and r["error"] is None:
            untraced.setdefault((r["name"], r["traced"]), []).append(r["seconds"])
    wall_total = sum(r["wall"] for r in rows) or 1.0
    all_jobs = [j for r in rows for j in r["jobs"]]

    out["operators.build_s"] = median([r["build"] for r in rows])
    out["operators.build_share"] = sum(r["build"] for r in rows) / wall_total
    out["operators.build_jobs"] = mean([r["build_jobs"] for r in rows])
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = median([r["phases"].get(phase, 0.0) for r in rows])
    n = max(1, len(rows))
    out["exec.jobs"] = len(all_jobs) / n
    out["exec.stages"] = sum(j["attrs"]["stages"] for j in all_jobs) / n
    out["exec.tasks"] = sum(j["attrs"]["tasks"] for j in all_jobs) / n
    task_s = sum(j["attrs"]["task_ms"] for j in all_jobs) / 1e3
    out["exec.task_s"] = task_s / n
    out["exec.core_busy_frac"] = task_s / (wall_total * cores)
    out["exec.shuffle_read_mb"] = sum(j["attrs"]["shuffle_read_b"] for j in all_jobs) / 1e6 / n
    out["exec.shuffle_write_mb"] = sum(j["attrs"]["shuffle_write_b"] for j in all_jobs) / 1e6 / n
    out["exec.spill_mb"] = sum(j["attrs"]["spill_b"] for j in all_jobs) / 1e6 / n
    out["exec.gc_s"] = sum(j["attrs"]["gc_ms"] for j in all_jobs) / 1e3 / n
    out["exec.task_skew"] = median(
        [max((j["attrs"]["skew"] for j in r["jobs"]), default=1.0) for r in rows], 1.0)

    out["self.build_s"] = median([r["build"] for r in rows])
    out["self.catalyst_s"] = median([r["catalyst"] for r in rows])
    out["self.exec_s"] = median([r["exec"] for r in rows])
    out["self.other_s"] = median([r["other"] for r in rows])
    # the attributed layers against the same operation's untraced median
    # wall; the unattributed rest (other) is left out, so time no layer
    # accounts for shows as a shortfall
    out["self.sum_vs_wall"] = median([
        (r["build"] + r["catalyst"] + r["exec"])
        / median(untraced[(r["name"], False)]) - 1
        for r in rows if untraced.get((r["name"], False))])

    # ---- layer probes
    probes = {}
    for s in spans:
        if s["kind"] == "probe":
            probes.setdefault(s["name"], []).append(s)
    loads = probes.get("tables.load", [])
    out["tables.load_ms"] = median([p["dur"] * 1e3 for p in loads])
    out["tables.load_jobs"] = mean([len(jobs_of.get(p["id"], [])) for p in loads])
    out["tables.loads_per_op"] = median(
        [r["loads"] for r in rows if not r["name"].startswith("batch")])
    for k, per in (("minhash_sigs", "rows"), ("simhash64", "rows"), ("shingle_set", "rows"),
                   ("levenshtein_bp", "pairs"), ("cosine_sim", "pairs")):
        ps = probes.get(f"functions.{k}", [])
        out[f"functions.{k}.{per}_per_s"] = (
            ps[0]["attrs"]["rows"] / median([p["dur"] for p in ps]) if ps else 0.0)
    for name, ps in probes.items():
        if name.startswith("sources."):
            out[name + "_ms"] = median([p["dur"] * 1e3 for p in ps])

    # ---- streaming (ingest)
    progress = [s for s in spans if s["kind"] == "progress"]
    out["streaming.add_batch_ms"] = median(
        [p["attrs"].get("ms.addBatch", 0) for p in progress])
    out["streaming.trigger_overhead_ms"] = median(
        [p["attrs"].get("ms.triggerExecution", 0) - p["attrs"].get("ms.addBatch", 0)
         for p in progress])
    batches = [r for r in rows if r["name"].startswith("batch")]
    out["streaming.jobs_per_batch"] = mean([len(r["jobs"]) for r in batches])
    out["streaming.core_busy_frac"] = (
        sum(j["attrs"]["task_ms"] for r in batches for j in r["jobs"]) / 1e3
        / (max(1e-9, sum(r["wall"] for r in batches)) * cores) if batches else 0.0)
    plain = untraced.get(("batch", False), []) + untraced.get(("batch_compacting", False), [])
    out["streaming.docs_per_s"] = (
        counters.get("ingest.batch_docs", 0) * len(plain) / sum(plain) if plain else 0.0)

    # ---- tracing's own cost: traced against untraced timed executions
    both = [k for (k, traced) in untraced if traced and (k, False) in untraced]
    plain_s = sum(median(untraced[(k, False)]) for k in both)
    out["trace.overhead_frac"] = (
        sum(median(untraced[(k, True)]) for k in both) / plain_s - 1 if plain_s else 0.0)

    for k, v in result["setup"].items():
        out[f"setup.{k}_s"] = v
    for k, v in counters.items():
        if k.startswith(("sources.", "mem.", "streaming.")):
            out[k] = v
    return {k: float(out.get(k, 0.0)) for k in metrics.PER_LAYER}

