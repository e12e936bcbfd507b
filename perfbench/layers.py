"""Per-layer metrics and the per-query attribution report of a traced run.

The harness writes one record per (pass, query, phase) to phases.jsonl,
with the phase's wall time and the Spark jobs, stages and task metrics
filed under its job group. Pass 0 is the cold pass; warm passes
alternate untraced and traced, and only traced ones have records.
"""
import json
import shutil
import statistics

SUMMED = {  # metric -> (phase, record field, unit)
    "build.s": ("build", "wall_s", "s"),
    "build.jobs": ("build", "jobs", "count"),
    "build.stages": ("build", "stages", "count"),
    "build.bytes_written": ("build", "bytes_written", "bytes"),
    "build.task_run_s": ("build", "task_run_s", "s"),
    "plan.s": ("plan", "wall_s", "s"),
    "plan.exchanges": ("exec", "exchanges", "count"),
    "plan.reused_exchanges": ("exec", "reused_exchanges", "count"),
    "plan.scans": ("exec", "scans", "count"),
    "codegen.compiles": (None, "compiles", "count"),
    "codegen.compile_s": (None, "compile_s", "s"),
    "exec.s": ("exec", "wall_s", "s"),
    "exec.jobs": ("exec", "jobs", "count"),
    "exec.stages": ("exec", "stages", "count"),
    "exec.tasks": ("exec", "tasks", "count"),
    "exec.task_deser_s": ("exec", "task_deser_s", "s"),
    "exec.task_run_s": ("exec", "task_run_s", "s"),
    "exec.task_cpu_s": ("exec", "task_cpu_s", "s"),
    "exec.gc_s": ("exec", "gc_s", "s"),
    "exec.failed_tasks": ("exec", "failed_tasks", "count"),
    "scan.bytes_read": ("exec", "bytes_read", "bytes"),
    "scan.records_read": ("exec", "records_read", "count"),
    "scan.tasks": ("exec", "scan_tasks", "count"),
    "shuffle.write_bytes": ("exec", "shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("exec", "shuffle_read_bytes", "bytes"),
    "shuffle.write_s": ("exec", "shuffle_write_s", "s"),
    "shuffle.fetch_wait_s": ("exec", "fetch_wait_s", "s"),
    "shuffle.spill_bytes": ("exec", "spill_bytes", "bytes"),
}


def load(out):
    path = out / "phases.jsonl"
    return [json.loads(line) for line in path.read_text().splitlines() if line]


def gap(r):
    """Phase wall time with no stage of the phase running."""
    return max(0.0, r["wall_s"] - r["stage_cover_s"])


def layer_metrics(rows, passes, nproc):
    """Per-layer counters over `rows`, as the mean per pass."""
    n = max(1, passes)
    exe = [r for r in rows if r["phase"] == "exec"]
    m = {}
    for name, (phase, field, unit) in SUMMED.items():
        m[name] = (sum(r[field] for r in rows if phase in (None, r["phase"])) / n, unit)
    stage_wall = sum(r["stage_wall_s"] for r in exe)
    m["exec.tasks_per_stage"] = (m["exec.tasks"][0] / max(1e-9, m["exec.stages"][0]), "ratio")
    m["exec.stage_gap_s"] = (sum(gap(r) for r in exe) / n, "s")
    m["exec.slot_util"] = (sum(r["task_run_s"] for r in exe) / max(1e-9, stage_wall * nproc),
                           "ratio")
    m["exec.peak_task_mem_mb"] = (max([r["peak_task_mem_mb"] for r in exe], default=0.0), "MB")
    return m


def pass_sums(res):
    sums = {}
    for r in res["timings"]:
        sums[r["pass"]] = sums.get(r["pass"], 0.0) + r["build"] + r["plan"] + r["exec"]
    return sums


def per_layer(res, out, nproc):
    rows = load(out)
    traced = [p for p in res["traced_passes"] if p > 0]
    metrics = {
        "session.start_s": (res["session_start_s"], "s"),
        "session.warmup_s": (res["warmup_s"], "s"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    for kind, sel, n in (("cold", lambda p: p == 0, 1),
                         ("warm", lambda p: p in traced, len(traced))):
        for k, v in layer_metrics([r for r in rows if sel(r["pass"])], n, nproc).items():
            metrics[f"{k}.{kind}"] = v
    # warm pass 1 is untraced and still warming; it is left out
    sums = pass_sums(res)
    on = statistics.median(sums[p] for p in traced)
    off = statistics.median(v for p, v in sums.items() if p > 1 and p not in traced)
    metrics["trace.overhead_frac"] = (on / off - 1.0, "ratio")
    return metrics


def _p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def report(out, dest, workload, nproc):
    """Writes spans, phase records and report.md into `dest`."""
    rows = load(out)
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    for f in ("spans.jsonl", "phases.jsonl"):
        shutil.copy(out / f, dest / f)
    cold = {}
    warm = {}
    for r in rows:
        d = cold if r["pass"] == 0 else warm.setdefault(r["pass"], {})
        d.setdefault(r["query"], {})[r["phase"]] = r
    queries = sorted(cold)
    lines = [f"# Per-query attribution: {workload}", "",
             "Cold pass: the first call of each query in a fresh JVM.", "",
             "| query | build s | plan s | exec s | stages | tasks | stage gap s | compiles |",
             "|---|---:|---:|---:|---:|---:|---:|---:|"]
    for q in queries:
        ph = cold[q]
        if "exec" not in ph:
            continue
        allp = ph.values()
        lines.append(
            f"| {q} | {ph['build']['wall_s']:.3f} | {ph['plan']['wall_s']:.3f} | "
            f"{ph['exec']['wall_s']:.3f} | {sum(r['stages'] for r in allp)} | "
            f"{sum(r['tasks'] for r in allp)} | {gap(ph['exec']):.3f} | "
            f"{sum(r['compiles'] for r in allp)} |")
    n_warm = max(1, len(warm))
    lines += ["", "## Self time by layer", "",
              "Wall time of each phase, the part of it some stage of the "
              "phase covered, and the rest (self time: driver-side work "
              "and waiting). Warm figures are per traced pass.", "",
              "| pass | phase | wall s | stage-covered s | self s |",
              "|---|---|---:|---:|---:|"]
    for kind, recs, n in (("cold", [r for r in rows if r["pass"] == 0], 1),
                          ("warm", [r for r in rows if r["pass"] > 0], n_warm)):
        for ph in ("build", "plan", "exec"):
            rs = [r for r in recs if r["phase"] == ph]
            wall = sum(r["wall_s"] for r in rs) / n
            cover = sum(r["stage_cover_s"] for r in rs) / n
            lines.append(f"| {kind} | {ph} | {wall:.3f} | {cover:.3f} | "
                         f"{sum(gap(r) for r in rs) / n:.3f} |")
    # warm exec records, one per (traced pass, query)
    exe = [ph["exec"] for p in warm.values() for ph in p.values() if "exec" in ph]
    if exe:
        stages = [r["stages"] for r in exe]
        tot_stages = max(1, sum(stages))
        ms_per_stage = 1e3 * sum(r["wall_s"] for r in exe) / tot_stages
        lines += ["", "## Stage floor (warm traced passes)", "",
                  "| measure | value |", "|---|---:|",
                  f"| stages per query, median | {statistics.median(stages):g} |",
                  f"| stages per query, p90 | {_p90(stages):.1f} |",
                  f"| tasks per stage | {sum(r['tasks'] for r in exe) / tot_stages:.2f} |",
                  f"| jobs per stage | {sum(r['jobs'] for r in exe) / tot_stages:.2f} |",
                  "| Σ stage wall ÷ Σ exec | "
                  f"{sum(r['stage_wall_s'] for r in exe) / max(1e-9, sum(r['wall_s'] for r in exe)):.2f} |",
                  f"| exec ms per stage | {ms_per_stage:.1f} |",
                  f"| slots (nproc) | {nproc} |"]
        per_q = {}
        for r in exe:
            per_q.setdefault(r["query"], []).append(r)
        rank = []
        for q, rs in per_q.items():
            st = statistics.mean(r["stages"] for r in rs)
            own = 1e3 * statistics.mean(r["wall_s"] for r in rs) / max(st, 1)
            rank.append((st * ms_per_stage, q, st, own))
        lines += ["", "## Ranking by stages × ms per stage", "",
                  "Stages of the query's warm exec times the workload's exec ms "
                  "per stage: what its stage count costs at the floor price.", "",
                  "| query | stages | own ms per stage | stages × ms per stage |",
                  "|---|---:|---:|---:|"]
        for score, q, st, own in sorted(rank, reverse=True):
            lines.append(f"| {q} | {st:g} | {own:.1f} | {score:.0f} |")
    (dest / "report.md").write_text("\n".join(lines) + "\n")
