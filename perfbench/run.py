#!/usr/bin/env python3
"""Benchmark of the reference job and the registry sweep.

usage: python3 perfbench/run.py --workload {etl_large,etl_tenants,registry}
           --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and
the harness (build.py); later runs reuse the build while no source
changed. Inputs are generated from the seed and cached under
.bench_build/perfbench/inputs. The harness JVM runs whole rounds of
operations for at least S seconds, the outputs are checked in DuckDB,
and the last stdout line is one JSON object:

  {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A failed output check prints the record with
"correct": false and exits 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
from build import build, log, work_dir  # noqa: E402

WORKLOADS = ("etl_large", "etl_tenants", "registry")
# input sizes (part of each input set's cache key)
ETL_LARGE_ROWS = 280_000
TENANTS, TENANT_ROWS = 5, 10_000
REGISTRY_SF = 0.02

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_s.p50": "s",
                    "rows_per_s": "rows/s", "cpu_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "io.read_amplification": "ratio", "io.input_mb": "MB", "io.infer_s": "s", "io.csv_s": "s",
    "merge.report_s": "s", "merge.report_jobs": "count",
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.outside_jobs_s": "s", "config.parse_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "engine.task_s": "s", "engine.task_cpu_s": "s", "engine.gc_s": "s",
    "engine.slot_util": "ratio", "engine.shuffle_write_mb": "MB",
    "engine.shuffle_read_mb": "MB", "engine.spill_mb": "MB",
    "registry.build_s": "s", "registry.build_jobs": "count",
    "registry.exec_s": "s", "registry.jobs": "count",
    **{f"registry.{m}_s": "s" for m in ("merge", "pipeline", "relational", "tpch", "event",
                                         "text", "dedup", "similarity", "multimodal")}}


# ── inputs ─────────────────────────────────────────────────────────

def inputs(workload, seed):
    """Generated inputs, cached by workload, seed and size."""
    size = {"etl_large": f"{ETL_LARGE_ROWS}",
            "etl_tenants": f"{TENANTS}x{TENANT_ROWS}",
            "registry": f"sf{REGISTRY_SF}"}[workload]
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    base = os.path.join(work_dir(), "inputs")
    d = os.path.join(base, f"{workload}-seed{seed}-{size}-{version}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        return manifest
    # keep the three most recent input sets of each workload
    if os.path.isdir(base):
        old = sorted((os.path.getmtime(os.path.join(base, x)), x)
                     for x in os.listdir(base) if x.startswith(workload + "-"))
        for _, x in old[:-2]:
            shutil.rmtree(os.path.join(base, x), ignore_errors=True)
    # the manifest is written last: a directory without one is incomplete
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.time()
    if workload == "etl_large":
        m = gen.gen_etl_large(d, seed, ETL_LARGE_ROWS)
    elif workload == "etl_tenants":
        m = gen.gen_etl_tenants(d, seed, TENANTS, TENANT_ROWS)
    else:
        m = {"workload": workload, "seed": seed, "dir": d}
        gen.gen_registry_tables(d, seed, REGISTRY_SF)
    with open(manifest, "w") as f:
        json.dump(m, f)
    log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f}s")
    return manifest


# ── metrics ────────────────────────────────────────────────────────

def end_to_end(res, workload):
    ok = [o["seconds"] for o in res["ops"] if o["ok"]]
    rounds = res["rounds"]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "wall_s": statistics.median(r["wall_s"] for r in rounds),
        "op_s.p50": statistics.median(ok),
        "rows_per_s": sum(r["rows"] for r in rounds) / res["timed_wall_s"],
        "cpu_s": statistics.median(r["cpu_s"] for r in rounds),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, workload):
    cores = res["cores"]
    names = list(LAYER_UNITS)
    ops = [o for o in res["ops"] if o["ok"]]
    if workload == "registry":
        # summed over the row set in each round, median over rounds
        per_round = {}
        for o in ops:
            acc = per_round.setdefault(o["round"], {"__wall": 0.0})
            acc["__wall"] += o["seconds"]
            for k, v in o["layers"].items():
                acc[k] = acc.get(k, 0.0) + v
        samples = list(per_round.values())
    else:
        samples = [dict(o["layers"], __wall=o["seconds"]) for o in ops]
    for s in samples:
        s["engine.slot_util"] = s["engine.task_s"] / (s["__wall"] * cores)
    out = {n: statistics.median(s.get(n, 0.0) for s in samples) for n in names}
    out["config.parse_s"] = (statistics.median(r["parse_s"] for r in res["rounds"])
                             if workload == "etl_tenants" else 0.0)
    return out


# ── run ────────────────────────────────────────────────────────────

def run_jvm(cp, workload, manifest, seconds, trace, run_dir):
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    # scratch space (shuffle files, temp files) stays inside the checkout
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap: the resident high-water mark then measures the
    # program, not how far the collector chose to grow the heap this time
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, manifest, str(seconds), str(trace), out]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=150)
    if r.returncode != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: harness failed (exit {r.returncode})")
    with open(out) as f:
        return json.load(f)


def check_outputs(res, manifest, workload):
    with open(manifest) as f:
        m = json.load(f)
    if workload == "registry":
        return check.check_registry(res.get("registry_results", {}), m["dir"])
    return check.check_etl(res["ops"], m["primary_cols"], m["secondary_cols"],
                           inferred=workload == "etl_tenants")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cp = build()
    manifest = inputs(a.workload, a.seed)
    run_dir = os.path.join(work_dir(), f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        res = run_jvm(cp, a.workload, manifest, a.seconds, a.trace, run_dir)
        t1 = time.time()
        failures = check_outputs(res, manifest, a.workload)
        log(f"harness {t1 - t0:.1f}s (set-ups {[round(x, 2) for x in res['setup_s']]}, "
            f"{len(res['rounds'])} rounds, {len(res['ops'])} operations in "
            f"{res['timed_wall_s']:.1f}s, median operation "
            f"{statistics.median(o['seconds'] for o in res['ops']):.3f}s); checks {time.time() - t1:.1f}s")
        log("rounds: " + json.dumps({
            "wall": [round(r["wall_s"], 3) for r in res["rounds"]],
            "cpu": [round(r["cpu_s"], 2) for r in res["rounds"]],
            "ops": [round(o["seconds"], 3) for o in res["ops"]]}))
        if a.workload == "registry":
            per_row = {}
            for o in res["ops"]:
                per_row.setdefault(o["name"], []).append(o["seconds"])
            log("median seconds per row: " + json.dumps(
                {n: round(statistics.median(v), 3) for n, v in per_row.items()}))
        for f in failures:
            log(f"CHECK FAILED {f}")
        for o in res["ops"]:
            if not o["ok"]:
                log(f"operation failed: {o['name']} round {o['round']}: {o['check'].get('error')}")
        if a.trace:
            metrics = per_layer(res, a.workload)
            units = LAYER_UNITS
            log("by source file: " + json.dumps(res.get("by_file", {}), sort_keys=True))
        else:
            metrics = end_to_end(res, a.workload)
            units = END_TO_END_UNITS
        record = {
            "correct": not failures,
            "attempted": len(res["ops"]),
            "failed": sum(1 for o in res["ops"] if not o["ok"]),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
