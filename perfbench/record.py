#!/usr/bin/env python3
"""Write a baseline record for one workload: an untraced and a traced run
on the same seed, the tracing overhead, and the table of where span time
went (planning, driver-only, task time, idle cores).

    python3 perfbench/record.py --workload W --seed N [--seconds S]

Writes perfbench/baseline/W.json and prints the table as markdown.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
THROUGHPUT = {"query_suite": "queries_per_s"}


def run(workload, seed, seconds, trace):
    scratch = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        rec = os.path.join(d, "record.json")
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                            "--record", rec], capture_output=True, text=True)
        if p.returncode != 0:
            raise SystemExit(f"record: {workload} trace={trace} failed:\n{p.stderr[-3000:]}")
        with open(rec) as f:
            return json.load(f)


def table(detail, cores):
    rows = ["| span | wall s | planning s | driver-only s | task s | idle cores |",
            "|---|---|---|---|---|---|"]
    for s, c in detail.items():
        rows.append(f"| `{s}` | {c['wall_s']:.3f} | {c['plan_ms'] / 1000:.3f} | "
                    f"{c['driver_s']:.3f} | {c['task_s']:.3f} | "
                    f"{(1 - c['core_busy']) * cores:.2f} of {cores} |")
    return "\n".join(rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    metric = THROUGHPUT.get(a.workload, "rows_per_s")
    u, t = plain["workload_metrics"][metric], traced["workload_metrics"][metric]
    out = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "env": plain["env"], "inputs": plain["inputs"],
           "untraced": {k: plain[k] for k in ("end_to_end", "workload_metrics", "iterations",
                                               "timed_ops", "iteration_wall_s", "setup")},
           "traced": {k: traced[k] for k in ("end_to_end", "workload_metrics", "iterations",
                                             "timed_ops", "iteration_wall_s", "per_layer",
                                             "span_detail")},
           "tracing_overhead": {"metric": metric, "untraced": u, "traced": t,
                                "share": (u - t) / u}}
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    with open(os.path.join(HERE, "baseline", f"{a.workload}.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(table(traced["span_detail"], int(plain["env"]["cores"])))
    print(f"\ntracing overhead: {metric} {u:.4g} untraced vs {t:.4g} traced "
          f"({(u - t) / u:+.1%} of untraced)")


if __name__ == "__main__":
    main()
