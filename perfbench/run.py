#!/usr/bin/env python3
"""perfbench — end-to-end benchmark of the engine's production CLI chains.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (``build.py``), generates
the workload's inputs from the seed (``gen.py``), then runs the chain in
a closed loop with one client: one fresh JVM and one fresh SparkSession
per chain run, each configured as ``graft.Cli`` configures its session,
back to back until ``--seconds`` have been measured. Every run's outputs
are checked (``checks.py``). The last stdout line is one JSON object:
with ``--trace 0`` the end-to-end metrics of untraced runs, with
``--trace 1`` the per-layer metrics of traced runs plus the tracing
overhead. The line before it carries the provenance; the full result,
and for traced runs the span artifact that ``where_time_goes.py``
renders, are written under ``.bench_build/perfbench``.

Workloads (see BENCHMARK.json for why each was chosen):
  tweet-chain       ingest -> cluster -> analyze -> distance
  release-arrivals  release (ensemble dedup -> quality -> redact -> pack -> card),
                    then bandindex over the released docs -> ingest-dedup --fold
                    per arriving batch -> compact-index
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORK = build.BUILD_DIR / "work"
RESULTS = build.BUILD_DIR / "results"
HEAP = "2g"
# Every JVM of a run must have ended this long after the build: a run
# ends within 180 s.
RUN_LIMIT_S = 165
SETUP_SAMPLES = 3

# Input sizes, fixed per workload so every seed loads the same layers
# equally; only the seed varies the contents.
SIZES = {
    "tweet-chain": {"lines": 30000},
    "release-arrivals": {"docs": 3000, "batches": 6, "batch_docs": 250, "resent": 20},
}
WORKLOADS = list(SIZES)

# Same options the repository's build gives a forked `graft.Cli` run, plus
# -XX:-UsePerfData so the JVM writes no perf-data file outside the checkout.
JAVA_OPTS = [
    opt for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")
] + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
     f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=2g", "-XX:-UsePerfData"]


def nproc():
    return len(os.sched_getaffinity(0))


def generate(workload, seed, inp):
    """Write the workload's inputs under ``inp``; return (truth, input
    rows, input bytes)."""
    s = SIZES[workload]
    if workload == "tweet-chain":
        truth = gen.tweets(seed, s["lines"], inp / "tweets.csv")
        rows = s["lines"]
    else:
        truth = gen.corpus(seed, s["docs"], inp)
        truth.update(gen.arrivals(seed, truth, s["batches"], s["batch_docs"], s["resent"], inp))
        rows = truth["docs"] + s["batches"] * s["batch_docs"]
    size = sum(p.stat().st_size for p in inp.rglob("*") if p.is_file())
    return truth, rows, size


def run_chain(classes, workload, inp, out, traced, cpus, deadline):
    """One fresh-JVM chain run, killed if it is still running at
    ``deadline`` (monotonic). Returns (artifact dict or None, setup_s,
    error text)."""
    artifact = out.with_suffix(".json")
    tmp = out / "_tmp"
    tmp.mkdir(parents=True)
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", build.classpath([classes]),
           "perfbench.Harness", workload, str(inp), str(out), str(cpus), "1" if traced else "0",
           str(artifact)] + ([str(SIZES[workload]["batches"])] if workload == "release-arrivals" else []))
    log = out.with_suffix(".log")
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            code = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=out,
                                  timeout=max(1.0, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if not artifact.exists():
        return None, None, f"chain exited {code} without a result:\n" + log.read_text()[-3000:]
    a = json.loads(artifact.read_text())
    err = a["error"] or (None if code == 0 else f"chain exited {code}")
    return a, a["ready_unix_s"] - t0, err


def percentile(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, -(-len(v) * p // 100) - 1))]


def tail(values):
    """The highest of p99/p95/p90/p75/p50 with at least one sample above
    it, so that no single sample (on release-arrivals, the first batch,
    which pays the JVM's codegen and JIT) sets the tail alone; the
    maximum when none has (one sample, or all equal)."""
    for p in (99, 95, 90, 75, 50):
        if any(v > percentile(values, p) for v in values):
            return percentile(values, p), f"p{p}"
    return max(values), "max"


def batch_latencies(workload, artifact):
    """Latency of each request: each arriving batch on release-arrivals,
    the whole chain on tweet-chain."""
    if workload == "release-arrivals":
        return [s["end_s"] - s["start_s"] for s in artifact["spans"]
                if s["parent"] == 0 and s["name"] == "batch"]
    return [artifact["run_s"]]


def layer_metrics(a):
    """Per-layer metrics of one traced chain run, from its spans:
    name -> (value, unit). Layers a workload leaves idle read 0."""
    spans = a["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        return [s] + [x for k in kids.get(s["id"], []) for x in subtree(k)]

    def named(*names, top=False):
        return [s for s in spans if s["name"] in names and (s["parent"] == 0 or not top)]

    def dur(ss):
        return sum(s["end_s"] - s["start_s"] for s in ss)

    def work(roots, key):
        return sum(x[key] for r in roots for x in subtree(r))

    root, obs = spans[0], a["obs"]
    kmeans, dedup = named("KMeans.run"), named("dedup", top=True)
    return {
        "ingest.s": (dur(named("ingest", top=True)), "s"),
        "ingest.rows_in": (obs.get("lines", 0), "count"),
        "ingest.rows_kept": (obs.get("features", 0), "count"),
        "kmeans.s": (dur(kmeans), "s"),
        "kmeans.iterations": (obs.get("iterations", 0), "count"),
        "kmeans.jobs": (work(kmeans, "jobs"), "count"),
        "kmeans.exec_cpu_s": (work(kmeans, "exec_cpu_s"), "s"),
        "kmeans.single_task_stage_s": (work(kmeans, "single_task_stage_s"), "s"),
        "kmeans.shuffle_write_b": (work(kmeans, "shuffle_write_b"), "B"),
        "analysis.s": (dur(named("analyze", "distance", top=True)), "s"),
        "sink.write_s": (dur([s for s in spans if s["layer"] == "sink"]), "s"),
        "dedup.s": (dur(dedup), "s"),
        "dedup.exec_cpu_s": (work(dedup, "exec_cpu_s"), "s"),
        "dedup.shuffle_write_b": (work(dedup, "shuffle_write_b"), "B"),
        "dedup.spill_disk_b": (work(dedup, "spill_disk_b"), "B"),
        "dedup.dropped_ratio": (1 - obs["after_dedup"] / obs["read"] if "read" in obs else 0, "ratio"),
        "curation.s": (dur(named("curate", top=True)), "s"),
        "curation.kept_ratio": (obs["released"] / obs["after_dedup"] if "released" in obs else 0, "ratio"),
        "pack.s": (dur(named("pack", top=True)), "s"),
        "index.build_s": (dur(named("bandindex", top=True)), "s"),
        "index.probe_s": (dur(named("probe")), "s"),
        "index.append_s": (dur(named("append")), "s"),
        "index.compact_s": (dur(named("compact", top=True)), "s"),
        "index.files_before_compact": (obs.get("files_before_compact", 0), "count"),
        "index.bytes_per_doc": (obs["index_bytes"] / obs["index_docs"] if "index_docs" in obs else 0, "B/doc"),
        "index.pairs_per_batch": (statistics.mean(b["pairs"] for b in obs["batches"]) if "batches" in obs else 0,
                                  "count"),
        "runtime.jobs": (work([root], "jobs"), "count"),
        "runtime.stages": (work([root], "stages"), "count"),
        "runtime.tasks": (work([root], "tasks"), "count"),
        "runtime.single_task_stage_s": (work([root], "single_task_stage_s"), "s"),
        "runtime.sched_wait_s": (work([root], "sched_wait_s"), "s"),
        "runtime.exec_cpu_s": (work([root], "exec_cpu_s"), "s"),
        "runtime.cpu_util": (work([root], "exec_cpu_s") / (a["run_s"] * a["cpus"]), "ratio"),
        "codegen.compiles": (a["codegen_compiles"], "count"),
        "codegen.compile_s": (a["codegen_compile_s"], "s"),
        "jvm.gc_s": (a["jvm_gc_s"], "s"),
        "jvm.heap_peak_mb": (a["jvm_heap_peak_mb"], "MB"),
    }


def git_commit(root):
    """HEAD of the repository whose top level is ``root``, or None (a
    checkout that is not a git work tree)."""
    try:
        out = subprocess.run(["git", "-C", str(root), "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    return out[1] if len(out) == 2 and Path(out[0]).resolve() == root.resolve() else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1

    work = WORK / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    inp = work / "input"
    inp.mkdir(parents=True)
    truth, input_rows, input_bytes = generate(args.workload, args.seed, inp)
    truth_obs = {"lines": truth["lines"]} if args.workload == "tweet-chain" else {}
    cpus = nproc()

    runs, walls, setups = [], [], []
    attempted = failed = 0
    errors = []
    first_obs = {}
    start = time.monotonic()
    deadline = start + RUN_LIMIT_S
    # set-up time is the median of SETUP_SAMPLES JVM starts: session-only
    # starts first (they also leave the OS file cache as every chain run
    # finds it), then each untraced chain run's own
    while not args.trace and not failed and len(setups) < SETUP_SAMPLES - 1:
        out = work / f"setup_{len(setups)}"
        a, setup_s, err = run_chain(classes, "setup", inp, out, False, cpus, deadline)
        if err:
            failed += 1
            errors.append(err)
        else:
            setups.append(setup_s)
    # Closed loop, one client: chain runs back to back until the next one
    # would overrun --seconds (at least one; with --trace 1 at least one
    # untraced and one traced, alternating, so the overhead ratio compares
    # runs made under the same conditions).
    while not failed and (len(runs) < 1 + args.trace or
                          time.monotonic() - start + statistics.mean(walls) <= args.seconds):
        i = len(runs)
        traced = bool(args.trace and i % 2)
        out = work / f"run_{i}"
        t0 = time.monotonic()
        a, setup_s, err = run_chain(classes, args.workload, inp, out, traced, cpus, deadline)
        walls.append(time.monotonic() - t0)
        attempted += len([s for s in a["spans"] if s["parent"] == 0]) if a else 1
        if err:
            failed += 1
            errors.append(err)
            break
        a["obs"].update(truth_obs)
        # the first run of each kind is checked against the truth; later
        # runs must reproduce its facts exactly
        if traced not in first_obs:
            errors += checks.CHECKS[args.workload](truth, out, a["obs"], args.seed)
            first_obs[traced] = a["obs"]
        elif a["obs"] != first_obs[traced]:
            errors.append(f"run {i} facts differ from the first run's: {a['obs']} vs {first_obs[traced]}")
        a["setup_s"] = setup_s
        if not traced:
            setups.append(setup_s)
        runs.append(a)
        shutil.rmtree(out, ignore_errors=True)
    if len(first_obs) == 2 and first_obs[True] != first_obs[False]:
        errors.append("traced and untraced runs produced different facts")
    plain = [a for a in runs if not a["traced"]]
    traced_runs = [a for a in runs if a["traced"]]
    metrics, extra = {}, {}
    if plain:
        run_s = statistics.median(a["run_s"] for a in plain)
        lat = [x for a in plain for x in batch_latencies(args.workload, a)]
        tail_v, tail_p = tail(lat)
        ends = {
            "setup_s": statistics.median(setups),
            "run_s": run_s,
            "rows_per_s": input_rows / run_s,
            "batch_p50_s": statistics.median(lat),
            "batch_tail_s": tail_v,
        }
        extra = {"batch_samples": len(lat), "batch_tail_percentile": tail_p,
                 "chain_runs": len(plain), "setup_samples": len(setups)}
        if not args.trace:
            metrics = {k: {"value": v, "unit": "1/s" if k == "rows_per_s" else "s"} for k, v in ends.items()}
        elif traced_runs:
            per = [layer_metrics(a) for a in traced_runs]
            for k, (_, u) in per[0].items():
                metrics[k] = {"value": statistics.median(p[k][0] for p in per), "unit": u}
            overhead = statistics.median(a["run_s"] for a in traced_runs) / run_s
            metrics["trace.overhead_ratio"] = {"value": overhead, "unit": "ratio"}
            trace_dir = build.BUILD_DIR / "trace"
            trace_dir.mkdir(parents=True, exist_ok=True)
            (trace_dir / f"{args.workload}.json").write_text(json.dumps(
                {"workload": args.workload, "seed": args.seed, "untraced_run_s": run_s,
                 "runs": traced_runs}))

    provenance = {
        "commit": git_commit(build.ROOT), "source_sha256": (build.BUILD_DIR / "classes.stamp").read_text(),
        "nproc": cpus, "heap": HEAP, "heap_max_mb": runs[0]["heap_max_mb"] if runs else None,
        "jdk": runs[0]["jdk"] if runs else None, "workload": args.workload, "seed": args.seed,
        "input_rows": input_rows, "input_bytes": input_bytes, "seconds": args.seconds,
        "trace": args.trace, **extra,
    }
    result = {"correct": not errors and bool(metrics), "attempted": max(attempted, 1),
              "failed": failed, "metrics": metrics}
    RESULTS.mkdir(parents=True, exist_ok=True)
    (RESULTS / f"{args.workload}-{args.seed}-trace{args.trace}.json").write_text(json.dumps(
        {"provenance": provenance, "result": result, "errors": errors,
         "runs": [{**{k: a[k] for k in ("run_s", "setup_s", "traced", "obs")},
                   "batch_s": batch_latencies(args.workload, a)} for a in runs]}, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
