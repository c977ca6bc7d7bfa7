#!/usr/bin/env python3
"""graft benchmark: builds the engine and the harness from source, runs one
workload in one JVM at local[4] and prints its metrics.

    python3 perfbench/run.py --workload interval_overlap --seed 1 \
        --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import stats  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.1"
LAUNCH = BENCH / "target" / "launch.txt"
WORKLOADS = ("interval_overlap", "training_pipeline")
# a fixed heap and young generation: the heap's resident size then follows
# the live data, not GC pacing, so peak_rss_mb repeats across runs
HEAP = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
# the collector whose figures spread least from run to run on a four-core
# machine: interval_overlap's pair loops ran steadier with the parallel
# collector, which runs no concurrent GC threads beside the four task
# threads; training_pipeline's latencies were alike with either, and its
# peak_rss_mb spread less with G1, the JVM's default
GC = {"interval_overlap": ["-XX:+UseParallelGC"], "training_pipeline": []}
# the whole run, build excluded, must end well inside three minutes
RUN_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "plans.graft_nodes": "count",
    "driver.outside_jobs_s": "s", "driver.outside_jobs_frac": "frac",
    "operators.construct_s": "s", "operators.eager_jobs": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.tasks_per_stage": "count",
    "scheduler.widest_stage_tasks": "count",
    "scheduler.single_task_stages": "count", "scheduler.task_wait_s": "s",
    "scheduler.core_busy_frac": "frac",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.failed_tasks": "count",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "B",
    "plans.ij_build_s": "s", "plans.ij_build_rows": "count",
    "plans.ij_build_mem_bytes": "B", "plans.ij_probe_rows": "count",
    "plans.ij_output_rows": "count", "plans.ij_output_per_probe": "count",
    "plans.icount_pairs": "count",
    "rangejoin.build_s": "s", "rangejoin.count_s": "s",
    "rangejoin.ns_per_pair": "ns",
    "self.construct_s": "s", "self.plan_s": "s", "self.execute_s": "s",
    "self.job_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "frac",
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    for base in (ROOT / "src" / "main", BENCH / "src"):
        yield from (p for p in base.rglob("*") if p.is_file())
    for f in (ROOT / "build.sbt", BENCH / "build.sbt",
              ROOT / "project" / "build.properties",
              BENCH / "project" / "build.properties"):
        yield f


def build():
    """Compiles engine and harness with sbt unless the launch file is newer
    than every source."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        sys.exit(f"no engine sources next to {BENCH.name}/: nothing to build")
    newest = max(p.stat().st_mtime for p in sources())
    if LAUNCH.is_file() and LAUNCH.stat().st_mtime > newest:
        return
    log("building engine and harness (sbt compile)")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"]
    if subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, timeout=850).returncode:
        sys.exit("build failed")


def check_data():
    for line in (BENCH / "data" / "sf0.1.sha256").read_text().splitlines():
        digest, name = line.split()
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != digest:
            sys.exit(f"input {name} does not match its checksum")


def run_jvm(args, gc, tmp, timeout):
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jvm = LAUNCH.read_text().split("\n")
    cmd = (["java"] + [a for a in jvm if a] + HEAP + gc
           + [f"-Djava.io.tmpdir={tmp}", "perfbench.Main", "--tmp", str(tmp),
              "--data", str(DATA)] + args)
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"harness did not finish within {timeout:.0f} s")
    if code:
        sys.exit(f"harness exited with {code}")


def by_parent(spans):
    out = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def dur(s):
    return s["end"] - s["start"]


def end_to_end(raw, queries, passes):
    walls = [dur(q) for q in queries]
    tail, pct, beyond = stats.tail(walls)
    metrics = {
        "setup_s": raw["setup"]["setup_s"],
        "wall_s": stats.median([dur(p) for p in passes]),
        "query_p50_s": stats.median(walls),
        "query_tail_s": tail,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    notes = {"query_tail_percentile": pct, "query_tail_beyond": beyond,
             "query_samples": len(walls), "passes": len(passes)}
    pairs = raw["facts"].get("pairs_per_query")
    if pairs:
        ok = [dur(q) for q in queries if not q["attrs"]["error"]]
        notes["pairs_per_s"] = pairs * len(ok) / sum(ok) if ok else 0.0
    return metrics, notes


def per_layer(raw, spans, passes):
    kids = by_parent(spans)
    traced = [p for p in passes if p["attrs"]["traced"]]
    plain = [p for p in passes if not p["attrs"]["traced"]]
    n = len(traced)
    queries = [q for p in traced for q in kids.get(p["id"], [])
               if q["kind"] == "query"]
    phases = [(q, ph) for q in queries for ph in kids.get(q["id"], [])
              if ph["kind"] == "phase"]
    jobs = [(q, ph, j) for q, ph in phases for j in kids.get(ph["id"], [])]
    stages = [st for _, _, j in jobs for st in kids.get(j["id"], [])]
    self_time = stats.self_times(spans)

    def per_pass(x):
        return x / n

    def stage_sum(key):
        return sum(st["attrs"][key] for st in stages)

    m = {}
    # catalyst: plan records belong to the query whose span holds their start
    starts = sorted((q["start"], q["end"]) for q in queries)
    plans = [r for r in raw["plans"]
             if any(s - 0.002 <= r["start"] <= e for s, e in starts)]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = per_pass(
            sum(r["phases"].get(phase, 0.0) for r in plans))
    nodes = [nd for r in plans for nd in r["graft_nodes"]]
    m["plans.graft_nodes"] = per_pass(len(nodes))

    def node_sum(cls, key):
        return sum(nd["metrics"].get(key, 0) for nd in nodes if nd["node"] == cls)

    walls = sum(dur(q) for q in queries)
    in_jobs = sum(stats.union_length(
        [(j["start"], j["end"]) for qq, _, j in jobs if qq is q],
        q["start"], q["end"]) for q in queries)
    m["driver.outside_jobs_s"] = per_pass(walls - in_jobs)
    m["driver.outside_jobs_frac"] = (walls - in_jobs) / walls if walls else 0.0
    construct = [ph for _, ph in phases if ph["name"] == "construct"]
    m["operators.construct_s"] = per_pass(sum(dur(ph) for ph in construct))
    m["operators.eager_jobs"] = per_pass(
        sum(1 for _, ph, _ in jobs if ph["name"] == "construct"))

    tasks = stage_sum("tasks")
    m["scheduler.jobs"] = per_pass(len(jobs))
    m["scheduler.stages"] = per_pass(len(stages))
    m["scheduler.tasks"] = per_pass(tasks)
    m["scheduler.tasks_per_stage"] = tasks / len(stages) if stages else 0.0
    m["scheduler.widest_stage_tasks"] = max(
        (st["attrs"]["num_tasks"] for st in stages), default=0)
    m["scheduler.single_task_stages"] = per_pass(
        sum(1 for st in stages if st["attrs"]["num_tasks"] == 1))
    m["scheduler.task_wait_s"] = per_pass(stage_sum("task_wait_ms") / 1e3)
    busy = stage_sum("task_duration_ms") / 1e3
    m["scheduler.core_busy_frac"] = (
        busy / (raw["cores"] * in_jobs) if in_jobs else 0.0)

    m["executor.run_s"] = per_pass(stage_sum("run_ms") / 1e3)
    m["executor.cpu_s"] = per_pass(stage_sum("cpu_ns") / 1e9)
    m["executor.gc_s"] = per_pass(stage_sum("gc_ms") / 1e3)
    m["executor.failed_tasks"] = per_pass(stage_sum("failed_tasks"))
    m["shuffle.write_bytes"] = per_pass(stage_sum("shuffle_write_bytes"))
    m["shuffle.read_bytes"] = per_pass(stage_sum("shuffle_read_bytes"))
    m["shuffle.fetch_wait_s"] = per_pass(stage_sum("fetch_wait_ms") / 1e3)
    m["shuffle.spill_bytes"] = per_pass(stage_sum("spill_bytes"))

    probe = node_sum("IntervalJoinExec", "probeRows")
    output = node_sum("IntervalJoinExec", "numOutputRows")
    m["plans.ij_build_s"] = per_pass(node_sum("IntervalJoinExec", "buildTime") / 1e3)
    m["plans.ij_build_rows"] = per_pass(node_sum("IntervalJoinExec", "buildRows"))
    m["plans.ij_build_mem_bytes"] = per_pass(
        node_sum("IntervalJoinExec", "buildMemUsed"))
    m["plans.ij_probe_rows"] = per_pass(probe)
    m["plans.ij_output_rows"] = per_pass(output)
    m["plans.ij_output_per_probe"] = output / probe if probe else 0.0
    m["plans.icount_pairs"] = per_pass(node_sum("IntervalCountExec", "pairCount"))

    rj = raw["rangejoin"]
    m["rangejoin.build_s"] = rj["build_s"]
    m["rangejoin.count_s"] = rj["count_s"]
    m["rangejoin.ns_per_pair"] = rj["count_s"] * 1e9 / rj["pairs"]

    for name in ("construct", "plan", "execute"):
        m[f"self.{name}_s"] = per_pass(sum(
            self_time[ph["id"]] for _, ph in phases if ph["name"] == name))
    m["self.job_s"] = per_pass(sum(self_time[j["id"]] for _, _, j in jobs))

    # overhead: each query's traced time against its untraced median, so a
    # single slow query in one pass cannot swing the estimate
    plain_by_name = {}
    for p in plain:
        for q in kids.get(p["id"], []):
            if q["kind"] == "query":
                plain_by_name.setdefault(q["name"], []).append(dur(q))
    ratio = stats.median([dur(q) / stats.median(plain_by_name[q["name"]])
                          for q in queries])
    plain_wall = stats.median([dur(p) for p in plain])
    m["trace.overhead_frac"] = ratio - 1
    m["trace.overhead_s"] = (ratio - 1) * plain_wall
    notes = {"traced_passes": n, "untraced_passes": len(plain),
             "rangejoin_pairs_ok": rj["pairs"] == rj["expected_pairs"]}
    return m, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite expected_digests.json from this build")
    args = ap.parse_args()
    if not args.workload and not args.record_digests:
        ap.error("--workload is required")

    load_start = os.getloadavg()
    t0 = time.monotonic()
    build()
    check_data()
    tmp = BENCH / "target" / "run"
    timeout = RUN_TIMEOUT_S
    if args.record_digests:
        run_jvm(["--record-digests", str(BENCH / "expected_digests.json")],
                GC["training_pipeline"], tmp, timeout)
        return
    raw_path = tmp / "raw.json"
    run_jvm(["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--digests", str(BENCH / "expected_digests.json"),
             "--out", str(raw_path)], GC[args.workload], tmp, timeout)
    raw = json.loads(raw_path.read_text())
    load_end = os.getloadavg()

    spans = raw["spans"]
    passes = [s for s in spans if s["kind"] == "pass"]
    queries = [s for s in spans if s["kind"] == "query" and s["attrs"]["pass"] >= 0]
    failed = [q for q in queries if q["attrs"]["error"]]
    if args.trace:
        metrics, notes = per_layer(raw, spans, passes)
        units = PER_LAYER
        checks_ok = notes["rangejoin_pairs_ok"]
    else:
        metrics, notes = end_to_end(raw, queries, passes)
        units = END_TO_END
        checks_ok = True
    notes["failed_frac"] = len(failed) / len(queries)
    health = dict(raw["health"], loadavg_start=load_start, loadavg_end=load_end,
                  wall_clock_s=time.monotonic() - t0)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} health "
          + json.dumps(health))
    print("# setup " + json.dumps(raw["setup"]))
    for q in failed:
        print(f"# FAILED {q['name']} pass {q['attrs']['pass']}: "
              f"{q['attrs']['error']}")
    for k, v in raw["warm_errors"].items():
        print(f"# FAILED (warm pass) {k}: {v}")
    for k, v in sorted(notes.items()):
        print(f"# {k} = {v}")
    if args.trace:
        # sanity check against the re-anchor probe over all 133 registry
        # queries (ROADMAP.md), not a gate
        print(f"# outside-jobs share {metrics['driver.outside_jobs_frac']:.2f}"
              f" (probe: 0.31), tasks per stage "
              f"{metrics['scheduler.tasks_per_stage']:.2f} (probe: 1.7)")
    for k in units:
        print(f"{k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": checks_ok and not failed and not raw["warm_errors"],
        "attempted": len(queries),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
