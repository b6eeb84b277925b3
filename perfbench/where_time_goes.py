#!/usr/bin/env python3
"""Render "where the time goes" for each workload from the span artifact
of its last traced run (``run.py --trace 1`` writes
``.bench_build/perfbench/trace/<workload>.json``). Numbers are read from
the artifact, never typed in.

    python3 perfbench/where_time_goes.py [<workload> ...] [--dir <trace dir>]

For every span name the table gives the calls per chain run, the self
time (span duration minus the time its child spans cover) and its share
of the traced ``run_s``, plus the Spark jobs and executor CPU the span
itself started; all are medians over the traced chain runs.
"""

import argparse
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402


def table(artifact):
    runs = artifact["runs"]
    per_run = []
    for a in runs:
        agg = {}
        for s in a["spans"]:
            if s["parent"] < 0:
                continue
            row = agg.setdefault(s["name"], {"layer": s["layer"], "calls": 0, "self_s": 0.0,
                                             "jobs": 0, "exec_cpu_s": 0.0})
            row["calls"] += 1
            row["self_s"] += s["self_s"]
            row["jobs"] += s["jobs"]
            row["exec_cpu_s"] += s["exec_cpu_s"]
        per_run.append(agg)
    run_s = statistics.median(a["run_s"] for a in runs)
    names = sorted({n for agg in per_run for n in agg},
                   key=lambda n: -statistics.median(agg.get(n, {"self_s": 0})["self_s"] for agg in per_run))
    lines = [f"## {artifact['workload']} (seed {artifact['seed']}, {len(runs)} traced runs, "
             f"traced run_s {run_s:.3f} s, untraced {artifact['untraced_run_s']:.3f} s)", "",
             "| span | layer | calls | self s | share of run_s | jobs | exec CPU s |",
             "|---|---|---:|---:|---:|---:|---:|"]
    covered = 0.0
    for n in names:
        rows = [agg[n] for agg in per_run if n in agg]
        med = {k: statistics.median(r[k] for r in rows) for k in ("calls", "self_s", "jobs", "exec_cpu_s")}
        covered += med["self_s"]
        lines.append(f"| {n} | {rows[0]['layer']} | {med['calls']:g} | {med['self_s']:.3f} | "
                     f"{100 * med['self_s'] / run_s:.1f}% | {med['jobs']:g} | {med['exec_cpu_s']:.2f} |")
    lines.append(f"| (all spans) | | | {covered:.3f} | {100 * covered / run_s:.1f}% | | |")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--dir", type=Path, default=build.BUILD_DIR / "trace")
    args = ap.parse_args()
    paths = ([args.dir / f"{w}.json" for w in args.workloads] if args.workloads
             else sorted(args.dir.glob("*.json")))
    missing = [p for p in paths if not p.exists()]
    if missing or not paths:
        print(f"no traced artifact: {', '.join(map(str, missing)) or args.dir}; "
              "run perfbench/run.py --trace 1 first", file=sys.stderr)
        return 1
    print("\n\n".join(table(json.loads(p.read_text())) for p in paths))
    return 0


if __name__ == "__main__":
    sys.exit(main())
