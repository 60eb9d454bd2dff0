#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1
        [--record FILE] [--size full|tiny] [--corrupt OP]

Run from the checkout root. It builds the program from source (see
build.py), generates the workload's inputs from the seed (gen.py), runs
one JVM that drives the program through its public Scala API on
local[nproc] as one closed-loop client, checks every output, and prints
one JSON object as the last line of stdout. A human-readable table of
every metric goes to stderr. `--record` also writes the full record
(environment, every metric, sample counts). `--size tiny` and
`--corrupt` exist for the benchmark's own test. The exit code is 1 when
any operation failed or any output check did not hold.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ["sentiment_chain", "curate_corpus", "query_suite"]
# (chain raw rows, curate base docs, curate copies, query scale factor)
SIZES = {"full": (20_000, 1000, 5, 0.01), "tiny": (4_000, 60, 2, 0.001)}
GEN_REPEATS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 170

COUNTERS = ["wall_s", "plan_ms", "driver_s", "jobs", "tasks", "task_s",
            "shuffle_mb", "spill_mb", "read_mb", "write_mb", "core_busy"]
APP_SPANS = ["app.preprocess", "app.preprocess_stats", "app.train_lr",
             "app.train_nb", "app.train_svm", "app.score", "app.curate"]
QUERY_MODULES = ["Text", "Token", "Relational", "Event", "Similarity",
                 "Retrieval", "Corpus", "ML", "Multimodal"]
PER_LAYER = ([f"{s}.{c}" for s in APP_SPANS for c in COUNTERS] +
             ["app.compare.wall_s"] +
             [f"queries.{m}.{c}" for m in QUERY_MODULES
              for c in ["wall_s", "plan_ms", "driver_s", "jobs"]])
PER_LAYER_UNITS = {"wall_s": "s", "plan_ms": "ms", "driver_s": "s", "jobs": "count",
                   "tasks": "count", "task_s": "s", "shuffle_mb": "MB",
                   "spill_mb": "MB", "read_mb": "MB", "write_mb": "MB",
                   "core_busy": "fraction"}
END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s",
                    "op_p95_s": "s", "cache_peak_mb": "MB"}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def generate(workload, seed, size, inputs):
    """Write the inputs GEN_REPEATS times; return (median seconds, meta)."""
    import gen
    rows, base_docs, copies, sf = SIZES[size]
    times = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(inputs, ignore_errors=True)
        os.makedirs(inputs)
        t0 = time.perf_counter()
        if workload == "sentiment_chain":
            keep = gen.sentiment_csv(os.path.join(inputs, "raw"), seed, rows)
            meta = {"rows": rows, "keep": keep}
            name = "chain.json"
        elif workload == "curate_corpus":
            n, share = gen.curate_documents(os.path.join(inputs, "docs"), seed,
                                            base_docs, copies)
            meta = {"rows": n, "planted_duplicate_share": share}
            name = "curate.json"
        else:
            meta = {"rows": gen.query_fixtures(os.path.join(inputs, "tables"), seed, sf),
                    "sf": sf}
            name = "queries.json"
        times.append(time.perf_counter() - t0)
        with open(os.path.join(inputs, name), "w") as f:
            json.dump(meta, f)
    return statistics.median(times), meta


def run_jvm(classpath, args, work):
    nproc = os.cpu_count() or 1
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    env.pop("SPARK_GRAFT_MASTER", None)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as out:
        popen_ms = time.time() * 1000.0
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (see main): never leave the JVM running
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(jvm_log) as f:
            tail = f.read()[-4000:]
        raise SystemExit(f"perfbench: JVM failed ({rc}); log tail:\n{tail}")
    return popen_ms


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p95(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=20, method="inclusive")[18]


def summarize(workload, raw, gen_s, popen_ms, meta, bad_queries):
    its = raw["iterations"]
    ops = [o for it in [raw["warm"]] + its for o in it["ops"]]
    failed = [o for o in ops if not o["ok"] or o["name"] in bad_queries]
    timed = [o for it in its for o in it["ops"]]
    lat = [o["s"] for o in timed]
    setup_s = gen_s + (raw["first_timed_ms"] - popen_ms) / 1000.0
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": median([len(it["ops"]) / it["wall_s"] for it in its]),
        "op_p50_s": median(lat),
        "op_p95_s": p95(lat),
        "cache_peak_mb": median([it["peak_storage_mb"] for it in its]),
    }
    # workload-specific names, kept in the record and the table
    extra = {"ops_failed_ratio": len(failed) / len(ops)}
    if workload == "query_suite":
        extra["queries_per_s"] = e2e["ops_per_s"]
        extra["query_p50_s"] = e2e["op_p50_s"]
        extra["query_p95_s"] = e2e["op_p95_s"]
    else:
        extra["rows_per_s"] = median([meta["rows"] / it["wall_s"] for it in its])
    if workload == "sentiment_chain":
        acc = [float(it["extra"]["model_accuracy"]) for it in its
               if "model_accuracy" in it["extra"]]
        extra["model_accuracy"] = median(acc) if acc else 0.0
    layers = {}
    for name in PER_LAYER:
        span, counter = name.rsplit(".", 1)
        layers[name] = median([it["spans"].get(span, {}).get(counter, 0.0)
                               for it in its])
    spans = sorted({k for it in its for k in it["spans"]})
    detail = {s: {c: median([it["spans"].get(s, {}).get(c, 0.0) for it in its])
                  for c in COUNTERS} for s in spans}
    return {"ops": ops, "failed": failed, "e2e": e2e, "extra": extra,
            "layers": layers, "detail": detail, "iterations": len(its),
            "samples": len(lat)}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record")
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", default="")
    a = ap.parse_args()

    import build
    classpath = build.build()
    root = os.path.dirname(HERE)
    work = os.path.join(root, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        gen_s, meta = generate(a.workload, a.seed, a.size, inputs)
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--inputs", inputs, "--work", os.path.join(work, "out"), "--out", out]
        if a.corrupt:
            args += ["--corrupt", a.corrupt]
        popen_ms = run_jvm(classpath, args, work)
        with open(out) as f:
            raw = json.load(f)
        bad = {}
        if a.workload == "query_suite":
            import oracle
            bad = {k: v for k, v in oracle.check(
                os.path.join(inputs, "tables"),
                os.path.join(work, "out", "verify")).items() if v}
            for k, v in sorted(bad.items()):
                log(f"oracle FAIL {k}: {v}")
        s = summarize(a.workload, raw, gen_s, popen_ms, meta, bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for o in s["failed"][:20]:
        log(f"FAILED {o['name']}: {o['why'] or bad.get(o['name'], '')}")
    log(f"{a.workload} seed={a.seed} trace={a.trace} iterations={s['iterations']} "
        f"timed ops={s['samples']} env={json.dumps(raw['env'])}")
    by_op = {}
    for it in raw["iterations"]:
        for o in it["ops"]:
            by_op.setdefault(o["name"], []).append(o["s"])
    log("  iteration walls: " + ", ".join(f"{it['wall_s']:.3f}s" for it in raw["iterations"]))
    log("  op medians: " + ", ".join(f"{k} {median(v):.3f}s" for k, v in by_op.items()))
    log("  warm ops:   " + ", ".join(f"{o['name']} {o['s']:.3f}s" for o in raw["warm"]["ops"]))
    log(f"  set-up: generation {gen_s:.3f}s (median of {GEN_REPEATS}), JVM start "
        f"{(raw['jvm_start_ms'] - popen_ms) / 1000:.3f}s, JVM start to first timed call "
        f"{(raw['first_timed_ms'] - raw['jvm_start_ms']) / 1000:.3f}s")
    for k, v in s["e2e"].items():
        log(f"  {k:<16} {v:12.6g} {END_TO_END_UNITS[k]}")
    units = {"ops_failed_ratio": "fraction", "rows_per_s": "rows/s", "queries_per_s": "1/s",
             "query_p50_s": "s", "query_p95_s": "s", "model_accuracy": "fraction"}
    for k, v in s["extra"].items():
        log(f"  {k:<16} {v:12.6g} {units[k]}")
    if a.trace:
        # the app workloads report the app spans (the per-layer metrics
        # BENCHMARK.json lists); the query suite reports its module spans
        family = "queries." if a.workload == "query_suite" else "app."
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k.rsplit(".", 1)[1]]}
                   for k, v in s["layers"].items() if k.startswith(family)}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in s["e2e"].items()}
    if a.record:
        with open(a.record, "w") as f:
            json.dump({"env": raw["env"], "workload": a.workload, "seed": a.seed,
                       "seconds": a.seconds, "trace": a.trace, "inputs": meta,
                       "setup": raw["setup"], "iterations": s["iterations"],
                       "timed_ops": s["samples"],
                       "iteration_wall_s": [it["wall_s"] for it in raw["iterations"]],
                       "end_to_end": s["e2e"],
                       "workload_metrics": s["extra"],
                       "per_layer": s["layers"] if a.trace else None,
                       "span_detail": s["detail"] if a.trace else None}, f, indent=1)
    result = {"correct": not s["failed"], "attempted": len(s["ops"]),
              "failed": len(s["failed"]), "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 1 if s["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
