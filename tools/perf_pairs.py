#!/usr/bin/env python3
"""Alternated parent/change pairs of the repo benchmark, summarized.

    python3 tools/perf_pairs.py PARENT_DIR CHANGE_DIR --workload W \\
        --seeds 11-20 [--seconds 15] [--jsonl ROWS.jsonl] [--traced SEED]
    python3 tools/perf_pairs.py --dry-run

PARENT_DIR and CHANGE_DIR are two checkouts. Each is built first
(`perfbench/build.py`), so no timed run pays a compile. Then, per seed,
both run `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` from their own root, one after the other: the parent first on
odd seeds, the change first on even ones. The benchmark itself is called,
never modified.

The summary gives, for every end-to-end metric that the parent's
BENCHMARK.json declares: each side's median and quartiles, the change's
wins (ties count for neither side), whether the medians differ by more
than the parent's quartile spread, and whether the change's median is
worse than the parent's by more than the metric's bound. It also counts
failed runs and failed operations per side, and lists each pair's timed
iteration counts (the `iterations` of each run's `--record` file) beside
its `cache_peak_mb`. The cache total grows with every iteration, so pairs
whose sides ran different counts are flagged: their `cache_peak_mb` does
not compare like with like.

`--traced SEED` adds one `--trace 1` run per side on that seed (parent
first) and prints every per-layer `app.*` counter whose value differs
between the sides: where a saving or a cost appeared. With `--traced`,
`--seeds` may be left out.

`--jsonl` appends one JSON row per run as it finishes. `--dry-run`
checks the summary and the traced table on canned rows and runs no
benchmark.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

SIDES = ("parent", "change")


def seeds_arg(text):
    """'11-20' or '11,12,15' (or a mix) as a list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def order(seed):
    return SIDES if seed % 2 else SIDES[::-1]


def run_once(root, workload, seed, seconds, trace=0):
    with tempfile.TemporaryDirectory() as tmp:
        record = os.path.join(tmp, "record.json")
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace",
               str(trace), "--record", record]
        p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        try:
            with open(record) as f:
                iterations = json.load(f)["iterations"]
        except (OSError, ValueError, KeyError):
            iterations = None
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"attempted": 0, "failed": 0, "metrics": {}}
    return {"rc": p.returncode, "attempted": res.get("attempted", 0),
            "failed": res.get("failed", 0), "iterations": iterations,
            "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(rows, decls):
    """Per-metric verdicts from run rows and BENCHMARK.json end_to_end
    declarations ({name, better, bound})."""
    by = {}
    for r in rows:
        by.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    pairs = [p for _, p in sorted(by.items()) if len(p) == 2]
    out = {"pairs": len(pairs), "metrics": {}, "failures": {}, "iterations": []}
    for (workload, seed), p in sorted(by.items()):
        if len(p) == 2:
            its = {side: p[side]["iterations"] for side in SIDES}
            out["iterations"].append({
                "workload": workload, "seed": seed, "iterations": its,
                "cache_peak_mb": {side: p[side]["metrics"].get("cache_peak_mb")
                                  for side in SIDES},
                "differ": its["parent"] != its["change"]})
    for side in SIDES:
        out["failures"][side] = {
            "runs": sum(1 for p in pairs if p[side]["rc"] != 0),
            "ops": sum(p[side]["failed"] for p in pairs),
            "attempted": sum(p[side]["attempted"] for p in pairs)}
    for d in decls:
        name, lower = d["name"], d["better"] == "lower"
        vals = [(p["parent"]["metrics"].get(name), p["change"]["metrics"].get(name))
                for p in pairs]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            continue
        par, chg = [a for a, _ in vals], [b for _, b in vals]
        wins = sum(1 for a, b in vals if (b < a if lower else b > a))
        losses = sum(1 for a, b in vals if (b > a if lower else b < a))
        pm, cm = statistics.median(par), statistics.median(chg)
        pq, cq = quartiles(par), quartiles(chg)
        worse = (cm - pm) if lower else (pm - cm)
        out["metrics"][name] = {
            "parent": {"median": pm, "q1": pq[0], "q3": pq[1]},
            "change": {"median": cm, "q1": cq[0], "q3": cq[1]},
            "wins": wins, "losses": losses, "n": len(vals),
            "beyond_spread": abs(cm - pm) > pq[1] - pq[0],
            "rel": (cm - pm) / pm if pm else float("nan"),
            "over_bound": pm != 0 and worse / abs(pm) > d["bound"]}
    return out


def report(s):
    def spread(x):
        return f"{x['median']:.4g} ({x['q1']:.4g}-{x['q3']:.4g})"
    lines = [f"{s['pairs']} pairs",
             f"{'metric':<14} {'parent median (q1-q3)':<26} "
             f"{'change median (q1-q3)':<26} {'rel':>7} {'wins':>6} "
             f"{'> spread':>8} {'> bound':>7}"]
    for name, m in s["metrics"].items():
        wins = f"{m['wins']}/{m['n']}"
        lines.append(
            f"{name:<14} {spread(m['parent']):<26} {spread(m['change']):<26} "
            f"{m['rel']:>+7.1%} {wins:>6} "
            f"{'yes' if m['beyond_spread'] else 'no':>8} "
            f"{'WORSE' if m['over_bound'] else 'ok':>7}")
    def num(x, fmt):
        return "-" if x is None else format(x, fmt)
    lines.append(f"{'seed':>6} {'iterations parent/change':>24} "
                 f"{'cache_peak_mb parent/change':>28}")
    for r in s["iterations"]:
        its, mb = r["iterations"], r["cache_peak_mb"]
        lines.append(
            f"{r['seed']:>6} {num(its['parent'], 'g') + '/' + num(its['change'], 'g'):>24} "
            f"{num(mb['parent'], '.4g') + '/' + num(mb['change'], '.4g'):>28}"
            + ("  iterations differ" if r["differ"] else ""))
    for side, f in s["failures"].items():
        lines.append(f"{side}: {f['runs']} failed runs, "
                     f"{f['ops']}/{f['attempted']} failed operations")
    return "\n".join(lines)


def traced_diff(parent, change):
    """The `app.*` counters of two traced runs' metrics whose values
    differ, sorted by name: (name, parent, change); a counter one side
    lacks reads None there."""
    names = sorted(n for n in set(parent) | set(change) if n.startswith("app."))
    return [(n, parent.get(n), change.get(n)) for n in names
            if parent.get(n) != change.get(n)]


def traced_report(rows):
    def num(x):
        return "-" if x is None else format(x, ".4g")
    lines = [f"{'counter':<28} {'parent':>10} {'change':>10} {'rel':>8}"]
    for name, a, b in rows:
        rel = f"{(b - a) / a:+.1%}" if a and b is not None else "-"
        lines.append(f"{name:<28} {num(a):>10} {num(b):>10} {rel:>8}")
    return "\n".join(lines)


def declarations(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)["end_to_end"]


def self_test():
    decls = [{"name": "ops_per_s", "better": "higher", "bound": 0.25},
             {"name": "op_p50_s", "better": "lower", "bound": 0.25}]
    rows = []
    for i, seed in enumerate(range(1, 11)):
        for side in SIDES:
            up = side == "change"
            rows.append({"workload": "curate_corpus", "seed": seed, "side": side,
                         "rc": 0, "failed": 0, "attempted": 7,
                         # 6 timed iterations, 7 on the change's side of
                         # the last pair
                         "iterations": 7 if up and seed == 10 else 6,
                         "metrics": {
                             # the change wins 9 pairs and ties the tenth
                             "ops_per_s": 1.0 + 0.01 * i + (0.5 if up and i else 0),
                             # and is 40% slower on p50 in every pair
                             "op_p50_s": 1.4 if up else 1.0,
                             "cache_peak_mb": 20.0 if up else 24.0}})
    rows.append(dict(rows[0], seed=99))  # an unpaired run is ignored
    s = summarize(rows, decls)
    ops, p50 = s["metrics"]["ops_per_s"], s["metrics"]["op_p50_s"]
    assert s["pairs"] == 10, s["pairs"]
    assert (ops["wins"], ops["losses"], ops["n"]) == (9, 0, 10), ops
    assert abs(ops["parent"]["median"] - 1.045) < 1e-12, ops
    assert abs(ops["parent"]["q1"] - 1.0225) < 1e-12, ops
    assert abs(ops["parent"]["q3"] - 1.0675) < 1e-12, ops
    assert ops["beyond_spread"] and not ops["over_bound"], ops
    assert (p50["wins"], p50["losses"]) == (0, 10), p50
    assert p50["beyond_spread"] and p50["over_bound"], p50
    assert s["failures"]["change"] == {"runs": 0, "ops": 0, "attempted": 70}
    its = s["iterations"]
    assert [r["seed"] for r in its] == list(range(1, 11)), its
    assert its[0]["iterations"] == {"parent": 6, "change": 6}, its[0]
    assert its[0]["cache_peak_mb"] == {"parent": 24.0, "change": 20.0}, its[0]
    assert [r["seed"] for r in its if r["differ"]] == [10], its
    assert its[9]["iterations"] == {"parent": 6, "change": 7}, its[9]
    text = report(s)
    assert text.count("iterations differ") == 1, text
    assert "6/7" in text and "24/20" in text, text
    assert [order(seed) for seed in (11, 12)] == [SIDES, SIDES[::-1]]
    assert seeds_arg("11-13,20") == [11, 12, 13, 20]
    diff = traced_diff(
        {"app.curate.jobs": 36.0, "app.curate.tasks": 54.0,
         "app.score.jobs": 5.0, "app.curate.spill_mb": 0.0, "ops_per_s": 0.2},
        {"app.curate.jobs": 23.0, "app.curate.tasks": 54.0,
         "app.curate.spill_mb": 0.0, "app.curate.wall_s": 3.1, "ops_per_s": 0.3})
    assert diff == [("app.curate.jobs", 36.0, 23.0),
                    ("app.curate.wall_s", None, 3.1),
                    ("app.score.jobs", 5.0, None)], diff
    table = traced_report(diff)
    assert "-36.1%" in table and table.count("\n") == 3, table
    print(text)
    print(table)
    print("self-test OK")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=seeds_arg)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--jsonl", help="append one JSON row per run here")
    ap.add_argument("--traced", type=int, metavar="SEED",
                    help="also diff one traced run per side on this seed")
    ap.add_argument("--dry-run", action="store_true",
                    help="self-test the summary on canned rows")
    a = ap.parse_args()
    if a.dry_run:
        return self_test()
    if not (a.parent and a.change and a.workload and
            (a.seeds or a.traced is not None)):
        ap.error("PARENT_DIR, CHANGE_DIR, --workload and --seeds or --traced "
                 "are required")
    roots = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for root in roots.values():
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=root, check=True,
                       stdout=subprocess.DEVNULL)
    rows = []
    for seed in a.seeds or []:
        for side in order(seed):
            r = dict(run_once(roots[side], a.workload, seed, a.seconds),
                     workload=a.workload, seed=seed, side=side)
            rows.append(r)
            print(json.dumps(r), file=sys.stderr, flush=True)
            if a.jsonl:
                with open(a.jsonl, "a") as f:
                    f.write(json.dumps(r) + "\n")
    if rows:
        print(report(summarize(rows, declarations(roots["parent"]))))
    if a.traced is not None:
        traced = {side: run_once(roots[side], a.workload, a.traced, a.seconds,
                                 trace=1)["metrics"] for side in SIDES}
        print(f"traced seed {a.traced}: app.* counters that differ")
        print(traced_report(traced_diff(traced["parent"], traced["change"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
