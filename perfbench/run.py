#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload corpus-curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the
harness (perfbench/build.sbt) and caches the classpath under
perfbench/.build; later runs rebuild only when a source or build file
changed. Each run works in a fresh directory under perfbench/.work that is
deleted at exit. The last line of stdout is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see METRICS.md). Any failed or wrong operation makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

ROOT = HERE.parent
BUILD = HERE / ".build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads: both build definitions and all
    main sources of graft and of the harness."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for src in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """The harness's runtime classpath, building first when stale."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, args, work):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(HERE / "data"), "--work", str(work)]
    if args.plant:
        cmd += ["--plant", args.plant]
    (work / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"harness still running after {JVM_TIMEOUT_S} s; stopped it")
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def quantile(xs, q):
    """Linear-interpolated quantile; 0 when nothing succeeded to measure."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(result):
    """The user-visible metrics, from the untraced timed operations.

    Each operation counts at the median of its own timed executions, as
    often as it occurs in one pass (result["pass"]), so a run that ends
    inside a pass does not tilt a percentile toward the operations it
    repeated. A pass is its primary operations (queries or batches); the
    lookups are timed apart and reported only as lookup_*."""
    times = {}
    for o in result["ops"]:
        if o["pass"] >= 0 and not o["traced"] and o["error"] is None:
            times.setdefault((o["kind"] == "lookup", o["name"]), []).append(o["seconds"])
    one_pass = {False: [], True: []}
    for (lookup, name), xs in times.items():
        one_pass[lookup] += [quantile(xs, 0.5)] * result["pass"].get(name, 0)
    primary, lookups = one_pass[False], [t * 1e3 for t in one_pass[True]]
    return {
        "setup_s": sum(result["setup"].values()),
        "pass_s": sum(primary),
        "op_p50_s": quantile(primary, 0.5),
        "op_p75_s": quantile(primary, 0.75),
        "lookup_p50_ms": quantile(lookups, 0.5),
        "lookup_p90_ms": quantile(lookups, 0.9),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", choices=["throw", "wrong"],
                    help="plant a throwing query or a wrong answer (the harness's own test)")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no graft sources next to {HERE.name}/ (expected build.sbt and src/main/scala)")
        return 2
    cp = classpath()

    (HERE / ".work").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=HERE / ".work"))
    try:
        code = run_jvm(cp, args, work)
        if code != 0 or not (work / "result.json").exists():
            log(f"harness exited with code {code}")
            return 1
        result = json.loads((work / "result.json").read_text())
        bad = oracle.check(HERE / "data", work / "out",
                           json.loads((work / "oracle_sql.json").read_text()))
        for name, why in sorted(bad.items()):
            log(f"oracle: {name}: {why}")
        for o in result["ops"]:
            if o["error"] is None and o["name"] in bad:
                o["error"] = "oracle: " + bad[o["name"]]
        failed = [o for o in result["ops"] if o["error"] is not None]
        for o in failed[:20]:
            log(f"failed: {o['kind']} {o['name']} (pass {o['pass']}): {o['error']}")
        if args.trace:
            values = report.per_layer(result, work / "spans.jsonl")
            units = metrics.PER_LAYER
        else:
            values = end_to_end(result)
            units = metrics.END_TO_END
        out = {
            "correct": not failed,
            "attempted": len(result["ops"]),
            "failed": len(failed),
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(out), flush=True)
        return 0 if not failed else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
