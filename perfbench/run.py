#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload fixture_floor --seed 1 --seconds 5 --trace 0

The runner builds the engine and the harness from source once per
source state, prepares the workload's data, runs the harness JVM, checks
every query's output against its expected fingerprint, and prints one
JSON object as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the run also writes its spans and a
per-query attribution report under perfbench/reports/.

The exit code is 0 only when every query ran and matched.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import corpus  # noqa: E402
import layers  # noqa: E402
import outputs  # noqa: E402
import workloads  # noqa: E402

HEAP = "4g"
MIN_WARM_PASSES = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A/B and environment hooks of the engine; cleared so the default
# program is what gets measured.
CLEARED_ENV = ("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEM")
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted((BENCH / "src").rglob("*"))
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine and harness once per source state; returns the
    runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT} (need build.sbt and src/main/scala)")
    out = BENCH / ".build"
    stamp, cp_file = out / "stamp", out / "classpath"
    want = source_stamp()
    if stamp.is_file() and stamp.read_text() == want and cp_file.is_file():
        return cp_file.read_text().strip()
    out.mkdir(exist_ok=True)
    stamp.unlink(missing_ok=True)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    cp = lines[-1].strip()
    java(cp, ["perfbench.OracleSql", str(out / "oracle_sql.json"),
              ",".join(workloads.CORPUS_SCALE)], out, out / "oracle.log")
    cp_file.write_text(cp)
    stamp.write_text(want)
    return cp


def java(cp, args, cwd, log_path, extra=()):
    env = {k: v for k, v in os.environ.items() if not k.startswith(CLEARED_ENV)}
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *extra, "-cp", cp, *args]
    with open(log_path, "w") as f:
        try:
            p = subprocess.run(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            status = f"exited with {p.returncode}" if p.returncode else None
        except subprocess.TimeoutExpired:
            status = f"timed out after {JVM_TIMEOUT_S} s"
    if status:
        sys.stderr.write(Path(log_path).read_text()[-4000:])
        fail(f"JVM {status}")


def harness(cp, d, data, queries, args):
    """Runs the harness JVM with a private temp dir and Spark local dir."""
    for sub in ("tmp", "local", "out"):
        (d / sub).mkdir(parents=True)
    launch_ms = int(time.time() * 1000)
    t0 = time.monotonic()
    java(cp, ["perfbench.Harness", "--data", str(data), "--out", str(d / "out"),
              "--cpus", str(os.cpu_count()), "--launch-ms", str(launch_ms),
              "--queries", ",".join(queries), "--seconds", str(args.seconds),
              "--min-warm", str(MIN_WARM_PASSES), "--trace", str(args.trace)],
         d, d / "jvm.log",
         extra=(f"-Djava.io.tmpdir={d / 'tmp'}", f"-Dspark.local.dir={d / 'local'}"))
    res = json.loads((d / "out" / "result.json").read_text())
    timed = sum(r["build"] + r["plan"] + r["exec"] for r in res.get("timings", ()))
    log(f"JVM {time.monotonic() - t0:.1f} s: set-up {res['setup_s']:.1f} s, "
        f"timed queries {timed:.1f} s")
    return d / "out", res


def check_outputs(out, queries, expected):
    """Names of queries whose output is missing or differs from expected."""
    bad = []
    for q in sorted(set(queries)):
        path = out / "results" / q
        if q not in expected or not path.is_dir():
            bad.append(q)
            continue
        if not outputs.same(outputs.spark_output(path), expected[q]):
            bad.append(q)
    return bad


def end_to_end(res):
    """Set-up and pass costs in CPU seconds of the JVM. Wall times are
    logged: on a shared box they move with the neighbours' load."""
    cpu = {int(p): v for p, v in res["pass_cpu_s"].items()}
    wall = {}
    for r in res["timings"]:
        wall[r["pass"]] = wall.get(r["pass"], 0.0) + r["build"] + r["plan"] + r["exec"]
    log(f"wall: set-up {res['setup_s']:.2f} s, cold pass {wall[0]:.2f} s, warm pass "
        f"{statistics.median(v for p, v in wall.items() if p > 0):.2f} s "
        f"(median of {len(wall) - 1})")
    return {
        "setup_s": (res["setup_cpu_s"], "s"),
        "cold_pass_cpu_s": (cpu[0], "s"),
        "warm_pass_cpu_s": (statistics.median(v for p, v in cpu.items() if p > 0), "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    wl = workloads.WORKLOADS[args.workload]
    data, expected = wl.prepare(args.seed, BENCH)
    order = list(wl.queries)
    random.Random(args.seed).shuffle(order)

    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        out, res = harness(cp, work, data, order, args)
        errors = [r for r in res["timings"] if r["error"]]
        mismatched = check_outputs(out, order, expected)
        for r in errors[:5]:
            log(f"{r['query']} (pass {r['pass']}) threw {r['error']}")
        for q in mismatched:
            why = res["output_errors"].get(q, "output differs from its expected fingerprint")
            log(f"{q}: {why}")
        attempted = len(res["timings"])
        failed = len(errors) + len(mismatched)
        if args.trace:
            metrics = layers.per_layer(res, out, os.cpu_count())
            layers.report(out, BENCH / "reports" / f"{args.workload}-seed{args.seed}",
                          args.workload, os.cpu_count())
        else:
            metrics = end_to_end(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
