#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft and the harness from
source (`build.py`), writes the seed's inputs (`fixture.py`), runs the
workload's ops in one JVM on `local[nproc]` (`harness/Harness.scala`),
checks every op's output against its DuckDB oracle (`oracle.py`) and
prints two lines on stdout:

  * a summary line (at most 2 KB): every end-to-end metric with its
    unit, plus cpus, seed and source fingerprint;
  * last, the result object: correct, attempted, failed and the metrics
    `BENCHMARK.json` lists (end-to-end with `--trace 0`, per-layer with
    `--trace 1`).

Per-op, per-pass and per-layer detail goes to the file the summary line
names, and one record per run is appended to
`.bench_build/results/runs.jsonl`, which `compare.py` reads.

End-to-end metrics (untraced runs):
  setup_s            median of three fixture builds, plus JVM launch to the
                     first timed op (session start and two warm-up passes)
  wall_s, cpu_s      median wall and process CPU seconds of one timed pass
  op_p50_s           median latency of one op, pooled over ops and passes
  op_tail_s          see op_tail(); percentile and samples are printed
  peak_rss_mb        the harness JVM's peak resident set
  error_rate         failed / attempted op executions (summary line only)
  store_bytes_ratio  opset_store's store bytes / events bytes (summary only)

Workloads, their ops and each op's owning module are in workloads.json.
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
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 150
HEAP = "2g"
# A run lives for about a minute, so C2 never reaches its steady state:
# C1 alone starts faster, keeps JIT threads off the cores the executors
# use and makes cpu_s steadier. With C1 alone the JVM reserves only a
# 48 MB code cache, which graft fills within a minute (the compiler then
# switches off and passes slow down), hence the larger cache. The serial
# collector keeps GC threads off the executors' cores too; a fixed heap
# (-Xms = -Xmx) makes the resident set repeatable from run to run. No
# perf-data file is written: it would land outside the checkout.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m", "-XX:+UseSerialGC",
             "-XX:-UsePerfData"]
FIXTURE_REPEATS = 3

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s", "cpu_s": "s",
             "peak_rss_mb": "MB", "error_rate": "ratio", "store_bytes_ratio": "ratio"}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def fingerprint() -> str:
    """Content hash of graft's sources and the benchmark (no git needed)."""
    h = hashlib.sha256()
    for d in (ROOT / "src" / "main", HERE):
        for p in sorted(d.rglob("*")):
            if p.is_file() and p.suffix in (".scala", ".py", ".json"):
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:12]


def op_tail(samples):
    """The highest latency percentile with at least 10 samples beyond it,
    but never below p90: a run holds too few op samples for the 10-sample
    rule alone to name a tail. Returns (value, percentile, samples beyond).
    """
    q = max(0.9, 1 - 10 / len(samples))
    if len(samples) < 2:
        return samples[0], 100 * q, 0
    value = statistics.quantiles(samples, n=1000, method="inclusive")[round(q * 1000) - 1]
    return value, 100 * q, sum(1 for x in samples if x > value)


def end_to_end(raw, setup_s, store_in_bytes, failed, attempted):
    passes = [p for p in raw["passes"] if not p["traced"]]
    lat = [o["s"] for p in passes for o in p["ops"]]
    tail, pct, beyond = op_tail(lat)
    m = {
        "setup_s": setup_s,
        "wall_s": median([p["wall_s"] for p in passes]),
        "op_p50_s": median(lat),
        "op_tail_s": tail,
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "error_rate": failed / attempted,
        "store_bytes_ratio": raw["store_bytes"] / store_in_bytes,
    }
    return m, {"op_tail_pct": round(pct, 1), "op_samples": len(lat), "op_tail_beyond": beyond,
               "passes": len(passes)}


def pass_layers(p, modules, cpus):
    """Per-layer metrics of one traced pass."""
    spans = {s["id"]: s for s in p["spans"]}
    kids = defaultdict(list)
    for s in p["spans"]:
        kids[s["parent"]].append(s)

    def subtree_jobs(s):
        return s["jobs"] + sum(subtree_jobs(k) for k in kids[s["id"]])

    m = {}
    for layer in modules:
        own = [s for s in spans.values() if s["layer"] == layer]
        plans = [s for s in own if s["name"] == "plan"]
        m[f"{layer}.self_s"] = sum(s["dur_s"] - sum(k["dur_s"] for k in kids[s["id"]]) for s in own)
        m[f"{layer}.plan_s"] = sum(s["dur_s"] for s in plans)
        m[f"{layer}.eager_jobs"] = sum(subtree_jobs(s) for s in plans)
        m[f"{layer}.tasks"] = sum(s["tasks"] for s in own)
        m[f"{layer}.cpu_s"] = sum(s["cpu_ns"] for s in own) / 1e9
        m[f"{layer}.shuffle_bytes"] = sum(s["shuffle_bytes"] for s in own)
        m[f"{layer}.spill_bytes"] = sum(s["spill_bytes"] for s in own)
    t = p["total"]
    m.update({
        "spark.jobs": t["jobs"], "spark.stages": t["stages"], "spark.tasks": t["tasks"],
        "spark.core_util": t["run_ms"] / 1e3 / (p["wall_s"] * cpus),
        "spark.gc_s": t["gc_ms"] / 1e3, "spark.fetch_wait_s": t["fetch_wait_ms"] / 1e3,
        "spark.shuffle_bytes": t["shuffle_bytes"], "spark.spill_bytes": t["spill_bytes"],
        "SparkEntry.plan_s": sum(s["dur_s"] for s in spans.values() if s["name"] == "plan"),
        "SparkEntry.exec_s": sum(s["dur_s"] for s in spans.values() if s["name"] == "exec"),
        "SparkEntry.cached_tables": p["cached_tables"],
        "SparkEntry.cached_bytes": p["cached_bytes"],
        "SparkEntry.cap_fires": p["cap_fires"],
    })
    return m


def per_layer(raw, modules):
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    each = [pass_layers(p, modules, raw["cpus"]) for p in traced]
    m = {k: median([e[k] for e in each]) for k in each[0]}
    m["trace.overhead_ratio"] = (median([p["wall_s"] for p in traced])
                                 / median([p["wall_s"] for p in untraced]))
    if raw["pairs"]:
        m["functions.native_s"] = sum(x["native_s"] for x in raw["pairs"])
        m["functions.hof_s"] = sum(x["hof_s"] for x in raw["pairs"])
        for x in raw["pairs"]:
            m[f"functions.{x['name']}.native_s"] = x["native_s"]
            m[f"functions.{x['name']}.hof_s"] = x["hof_s"]
    return m, {"traced_passes": len(traced), "untraced_passes": len(untraced)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "tools/localcheck.py"):
        if not (ROOT / need).exists():
            fail(f"{need} is missing: run from the root of a graft checkout")
    spec = json.loads((HERE / "workloads.json").read_text())
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    ops = list(wl["ops"])

    sys.path.insert(0, str(HERE))
    import build
    import fixture
    import oracle

    classpath = build.build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    # --- set-up: fixture (median of several builds), then the JVM
    fx_times = []
    for _ in range(FIXTURE_REPEATS):
        shutil.rmtree(work / "in", ignore_errors=True)
        t = time.perf_counter()
        fixture.build(work / "in", args.seed)
        fx_times.append(time.perf_counter() - t)
    cpus = os.cpu_count() or 1
    cmd = (["java", *build.java_module_flags(), f"-Xms{HEAP}", f"-Xmx{HEAP}", *JVM_FLAGS,
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
            "-cp", classpath, "graftbench.Harness",
            "--dir", str(work / "in"), "--out", str(work / "out"),
            "--ops", ",".join(ops), "--owners", ",".join(f"{k}={v}" for k, v in wl["ops"].items()),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
            "--pairs", ",".join(wl["pairs"])])
    launch = time.time()
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish in {JVM_TIMEOUT_S} s; see {work / 'jvm.log'}")
    if r.returncode != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        fail(f"harness exited with {r.returncode}")
    raw = json.loads((work / "out" / "raw.json").read_text())
    setup_s = median(fx_times) + (raw["main_epoch_ms"] / 1e3 - launch) + raw["main_to_timed_s"]

    # --- correctness: oracle check of the warm-up outputs, then the timed ops
    oracle_sql = json.loads((work / "out" / "oracle_sql.json").read_text())
    mism, rows = oracle.check(work / "in", work / "out" / "check", oracle_sql, ops, work / "tmp")
    errors = {op: raw["check"][op] or mism[op] for op in ops}
    for p in raw["passes"]:
        for o in p["ops"]:
            if not o["error"] and o["rows"] != rows.get(o["op"]):
                o["error"] = f"{o['rows']} rows, the checked output has {rows.get(o['op'])}"
    timed = [(o["op"], o["error"]) for p in raw["passes"] for o in p["ops"]]
    attempted = len(ops) + len(timed)
    failed = sum(1 for e in errors.values() if e) + sum(1 for _, e in timed if e)
    for op, e in timed:
        if e and not errors[op]:
            errors[op] = e
    errors = {op: e for op, e in errors.items() if e}

    store_in = (work / "in" / "events.parquet").stat().st_size
    e2e, e2e_notes = end_to_end(raw, setup_s, store_in, failed, attempted)
    layers, notes = per_layer(raw, spec["modules"]) if args.trace else ({}, {})
    values = layers if args.trace else e2e
    reported = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                for m in bench["per_layer" if args.trace else "end_to_end"]}

    commit = fingerprint()
    detail_dir = BUILD / "results"
    detail_dir.mkdir(parents=True, exist_ok=True)
    detail = detail_dir / f"{tag}.json"
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "commit": commit, "seconds": args.seconds, "ops": wl["ops"],
        "end_to_end": e2e if not args.trace else None, "end_to_end_notes": e2e_notes,
        "per_layer": layers or None, "per_layer_notes": notes or None,
        "fixture_s": fx_times, "errors": errors, "attempted": attempted, "failed": failed,
        "raw_setup": {k: raw[k] for k in ("session_s", "warm_s", "main_to_timed_s")},
        "passes": [{"traced": p["traced"], "wall_s": p["wall_s"], "cpu_s": p["cpu_s"],
                    "ops": {o["op"]: o["s"] for o in p["ops"]}} for p in raw["passes"]],
        "spans": [p["spans"] for p in raw["passes"] if p["traced"]],
        "pairs": raw["pairs"],
    }
    detail.write_text(json.dumps(record, indent=1))
    with open(detail_dir / "runs.jsonl", "a") as f:
        f.write(json.dumps({k: record[k] for k in ("workload", "seed", "trace", "cpus", "commit",
                                                   "seconds", "end_to_end", "per_layer",
                                                   "attempted", "failed")}) + "\n")

    summary = {"bench": "graft", "workload": args.workload, "seed": args.seed,
               "trace": args.trace, "cpus": cpus, "commit": commit,
               "metrics": {k: [round(v, 6), E2E_UNITS[k]] for k, v in e2e.items()},
               **e2e_notes, "errors": len(errors),
               "detail": str(detail.relative_to(ROOT))}
    if args.trace:
        summary.pop("metrics")
        summary["overhead_ratio"] = round(layers["trace.overhead_ratio"], 4)
        summary.update(notes)
    print(json.dumps(summary, separators=(",", ":")))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": reported}, separators=(",", ":")))
    for op, e in errors.items():
        print(f"perfbench: {op}: {e[:300]}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
