#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload harmonize --seed 1 --seconds 20 --trace 0

It builds the engine from source (perfbench/build.py), runs the
workload in its own JVM in the Bench regime (local[4], AQE off,
graft.GraftExtensions, graft.PartitionPolicy per key) over the fixture
tables in perfbench/fixtures, checks every key's result against the
fingerprints in perfbench/expected.json, and prints one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Workloads, their keys and why they were chosen are in
perfbench/workloads.json. The full record of a run (provenance, every
execution, per-key layers, spans with self time) is written to
.bench_build/results/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent
CORES = 4
# Explicit heap, passed the way build.sbt takes it (SPARK_DRIVER_MEM):
# build.sbt's 24g default is sized for a 128 GiB host. The heap is also
# the initial size: with a growing heap, G1's sizing during the warm left
# some runs burning about 1.7x the CPU per pass for the same work
# (etl_star: 12 against 21 s per steady pass); a fixed heap removed it.
HEAP = "4g"
DEADLINE_S = 170

# setup_s: JVM start to the first timed query (session and warm).
# first_pass_s: measured wall of the first timed pass over the keys.
# pass_s: median measured wall of the later, steady passes. A pass wall
#   covers each key's build and action and the cache clear after it.
# query_p50_ms: median of build + action over every timed execution.
# peak_rss_mb: the process's VmHWM at the end of the run.
END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
    ("query_p50_ms", "ms"), ("peak_rss_mb", "MB"),
]
SETUP_LAYERS = [("session.build_ms", "ms"), ("warm.ms", "ms"), ("warm.compiles", "count")]
PASS_LAYERS = [
    ("build.ms", "ms"), ("build.jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("plan.operators", "count"), ("plan.exchanges", "count"),
    ("codegen.compiles", "count"),
    ("jvm.jit_ms", "ms"), ("jvm.classes_loaded", "count"), ("jvm.gc_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.sched_delay_ms", "ms"),
    ("exec.deser_ms", "ms"), ("exec.busy_frac", "ratio"),
    ("scan.bytes", "B"), ("scan.rows", "count"),
    ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"),
    ("cache.peak_bytes", "B"), ("cache.blocks", "count"),
    ("write.bytes", "B"), ("write.rows", "count"),
]
PER_LAYER = SETUP_LAYERS + PASS_LAYERS + [("trace.overhead", "ratio")]
# Recorded per key and per pass in the run record, but not reported as
# metrics: local-mode shuffle reads never wait on the network, a
# workload whose classes fit the codegen cache spends exactly 0 ms
# compiling in every run (codegen.compiles carries the same signal),
# and at sf0.1 no key spills within the 4g heap.
RECORD_ONLY = ["shuffle.fetch_wait_ms", "codegen.compile_ms", "shuffle.spill_bytes"]


def git_sha():
    """HEAD of the repository in the current directory, or None when it
    is not a git checkout (the search stops at the current directory)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(Path.cwd().parent))
    r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, env=env)
    return r.stdout.strip() if r.returncode == 0 else None


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(cp, args, log, deadline):
    tmp = Path(".bench_build") / "tmp" / f"run-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    _, _, add_opens = build.sbt_settings()
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    cmd = (["java", f"-Xms{env['SPARK_DRIVER_MEM']}", f"-Xmx{env['SPARK_DRIVER_MEM']}", *add_opens,
            f"-Djava.io.tmpdir={tmp.resolve()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args)
    spawned = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("the benchmark JVM ran past its deadline and was stopped")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"the benchmark JVM exited with code {proc.returncode}; see {log.name}")
    return spawned, json.loads(lines[-1])


def reduce_run(raw, spawned, expected, traced):
    execs = raw["execs"]
    keys = raw["provenance"]["keys"]
    failed_keys = {}
    for k in keys:
        want, got = expected.get(k), raw["fingerprints"].get(k)
        if want is None:
            failed_keys[k] = "no expected fingerprint"
        elif got != want:
            failed_keys[k] = f"fingerprint {got} != expected {want}"
    failed = sum(1 for e in execs if e["error"] or e["key"] in failed_keys)
    detail = {"failed_keys": failed_keys,
              "errors": sorted({f"{e['key']}: {e['error']}" for e in execs if e["error"]})}

    def wall(e):
        return e["build_ms"] + e["action_ms"]

    pass_wall = {p["pass"]: p["wall_ms"] / 1000.0 for p in raw["passes"]}
    untraced = [p["pass"] for p in raw["passes"] if not p["traced"]]
    steady = [p for p in untraced if p > 0]

    def cpu_per_pass():
        per_pass = {}
        for e in execs:
            if e["pass"] in steady:
                per_pass[e["pass"]] = per_pass.get(e["pass"], 0.0) + e["cpu_ms"]
        return statistics.median(per_pass.values()) / 1000.0

    samples = [wall(e) for e in execs if not e["traced"]]
    # The highest percentile with ten samples beyond it; at this run
    # length that is close to the median, so it is recorded, not reported.
    q = stats.tail_quantile(len(samples))
    # Process CPU per steady pass is recorded, not reported: it counts the
    # JIT compiler threads, whose work in the timed passes differed by up
    # to 1.8x between runs (harmonize: IQR 0.3-0.4 of the median).
    detail.update(samples=len(samples), failed_frac=failed / max(1, len(execs)),
                  query_tail={"quantile": q, "ms": stats.percentile(samples, q) if q else None},
                  cpu_s=cpu_per_pass() if steady else None)
    metrics = {}
    if not traced:
        metrics = {
            "setup_s": raw["first_query_epoch_ms"] / 1000.0 - spawned,
            "first_pass_s": pass_wall[0],
            "pass_s": statistics.median(pass_wall[p] for p in steady),
            "query_p50_ms": statistics.median(samples),
            "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        }
    if traced:
        recs = stats.exec_layers(execs, raw["spans"])
        traced_steady = sorted({e["pass"] for e, _ in recs if e["pass"] > 0})
        per_pass = [stats.sum_layers([c for e, c in recs if e["pass"] == p], CORES)
                    for p in traced_steady]
        names = [n for n, _ in PASS_LAYERS] + RECORD_ONLY
        metrics = stats.median_of(per_pass, [n for n, _ in PASS_LAYERS])
        metrics.update({n: raw["setup"][n] for n, _ in SETUP_LAYERS})
        metrics["trace.overhead"] = (statistics.median(pass_wall[p] for p in traced_steady)
                                     / statistics.median(pass_wall[p] for p in steady))
        per_key = {}
        for k in keys:
            rows = [stats.sum_layers([c for e, c in recs if e["key"] == k and e["pass"] == p], CORES)
                    for p in traced_steady]
            per_key[k] = stats.median_of(rows, names)
        selfs = stats.self_times(raw["spans"])
        by_name = {}
        for sp in raw["spans"]:
            by_name[sp["name"]] = by_name.get(sp["name"], 0.0) + selfs[sp["id"]]
        detail["self_ms_by_span_name"] = by_name
        detail["per_pass"] = dict(zip(traced_steady, per_pass))
        detail["per_key"] = per_key
        detail["spans"] = [dict(s, self_ms=selfs[s["id"]]) for s in raw["spans"]]
    return metrics, failed, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    workloads = json.loads((HERE / "workloads.json").read_text())["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    w = workloads[a.workload]
    expected = json.loads((HERE / "expected.json").read_text())["fingerprints"]

    out_dir = Path(".bench_build") / "results"
    try:
        cp = build.build()
        out_dir.mkdir(parents=True, exist_ok=True)
    except (build.BuildError, OSError) as e:
        fail(f"build failed: {e}")
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(out_dir / f"{name}.log", "w") as log:
        spawned, raw = run_jvm(cp, ["bench", str(HERE / "fixtures"), ",".join(w["keys"]),
                                    str(a.seed), str(a.seconds), str(a.trace)],
                               log, deadline)
    metrics, failed, detail = reduce_run(raw, spawned, expected, a.trace == 1)
    units = dict(PER_LAYER if a.trace else END_TO_END)
    attempted = len(raw["execs"])
    provenance = dict(raw["provenance"], git_sha=git_sha(), source_sha256=build.stamp(),
                      heap=HEAP, run_seconds=a.seconds, passes=len(raw["passes"]), trace=a.trace)
    record = {"workload": a.workload, "provenance": provenance, "setup": raw["setup"],
              "metrics": metrics, "attempted": attempted, "failed": failed, **detail,
              "passes": raw["passes"], "execs": raw["execs"]}
    (out_dir / f"{name}.json").write_text(json.dumps(record, indent=1))
    if detail["failed_keys"] or detail["errors"]:
        print(f"[perfbench] failures: {detail['failed_keys']} {detail['errors']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not raw["setup"]["warm_failed"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
