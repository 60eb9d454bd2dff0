#!/usr/bin/env python3
"""Round-over-round bench diff with telemetry adjudication.

Compares two BENCH_FULL.json files (as written by graft.Bench) and
classifies per-query deltas using the per-run telemetry
[elapsed_sec, gc_delta_ms, load1, storage_free_mb, build_sec] (records
before build_sec carry the first four; the fifth field is not read, so
old and new records diff alike):

  FAILED        every run of the query failed this round (headline -1).
  REGRESSION    min-of-N elevated AND the new min's run saw load
                comparable to the old min's run — the code is the
                suspect.
  CONTENDED     min-of-N elevated but the new min ran under visibly
                higher box load than the old one — re-run in isolation
                before reacting (see graft memory: r5-r7 repeatedly
                mis-attributed contention as code).
  GC-PRESSURE   elevated and the new min's run spent >20% of its
                elapsed time in GC.
  ENV-SHIFT     elevated OR dropped, but the two records ran on
                different JVM heaps (SPARK_DRIVER_MEM). Detected from
                the records' heap_max_mb fields when both carry them;
                for older records without the field, inferred from the
                min runs' block-manager storage pools differing >1.5x.
                Cross-environment comparisons are not apples-to-apples
                in either direction (round 9 measured the same code
                20%+ apart suite-wide, and the app chain 3-4x apart,
                purely from heap size); re-run at the old record's heap
                before believing a regression — or crediting an
                improvement.
  IMPROVED      min-of-N dropped by more than the noise threshold,
                with no heap shift to explain it.

Usage: tools/bench_diff.py OLD_BENCH_FULL.json NEW_BENCH_FULL.json
         [--threshold 1.3] [--noise 0.05] [--load-margin 2.0]

Exit code 1 iff any REGRESSION or FAILED was flagged (usable as a gate).
"""
import argparse
import json
import sys


def min_run(entry):
    """The run row [elapsed, gc_ms, load1, storage_mb, ...] with min
    elapsed, padded to at least 4 fields (round-7-era records recorded
    only 3 — missing telemetry reads as None, never as an IndexError). Failed runs
    serialize as NEGATIVE elapsed — they never executed the query, so
    their telemetry must not adjudicate the headline."""
    ok = [r for r in entry if r[0] > 0]
    if not ok:
        return None
    r = min(ok, key=lambda r: r[0])
    return list(r) + [None] * (4 - len(r))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.3,
                    help="flag ratio above this (default 1.3x)")
    ap.add_argument("--noise", type=float, default=0.05,
                    help="ignore absolute deltas under this many sec")
    ap.add_argument("--load-margin", type=float, default=2.0,
                    help="new-min load1 above old-min load1 by more than "
                         "this -> CONTENDED, not REGRESSION")
    ap.add_argument("--app-noise", type=float, default=5.0,
                    help="ignore app-stage deltas under this many sec "
                         "(app stages are tens of seconds and single-run)")
    args = ap.parse_args()

    old = json.load(open(args.old))
    new = json.load(open(args.new))
    oldq, newq = old["queries"], new["queries"]
    oldr, newr = old.get("runs", {}), new.get("runs", {})

    added = sorted(set(newq) - set(oldq))
    removed = sorted(set(oldq) - set(newq))

    # Record-level heap comparison beats the per-run storage proxy: both
    # records pinning heap_max_mb means same-heap caching swings in
    # storage_free_mb can't masquerade as ENV-SHIFT (and un-gate real
    # regressions), and modestly different heaps (8g vs 12g: pools ~4.7
    # vs ~7 GB, under the 1.5x proxy threshold) still count as a shift.
    o_heap, n_heap = old.get("heap_max_mb"), new.get("heap_max_mb")
    heap_known = (isinstance(o_heap, (int, float)) and o_heap > 0
                  and isinstance(n_heap, (int, float)) and n_heap > 0)
    heap_shift = heap_known and max(o_heap, n_heap) / min(o_heap, n_heap) > 1.1

    def storage_shift(o_st, n_st):
        return (o_st is not None and n_st is not None
                and o_st > 0 and n_st > 0
                and max(o_st, n_st) / min(o_st, n_st) > 1.5)

    rows = []
    flags = {"FAILED": 0, "REGRESSION": 0, "CONTENDED": 0, "GC-PRESSURE": 0,
             "ENV-SHIFT": 0, "IMPROVED": 0}
    for q in sorted(set(oldq) & set(newq)):
        o, n = oldq[q], newq[q]
        delta = n - o
        ratio = n / o if o > 0 else float("inf")
        klass = ""
        o_load = n_load = n_gc = o_st = n_st = None
        orun = min_run(oldr.get(q, []))
        if orun:
            o_load, o_st = orun[2], orun[3]
        nrun = min_run(newr.get(q, []))
        if nrun:
            n_gc, n_load, n_st = nrun[1], nrun[2], nrun[3]
        env_shift = heap_shift if heap_known else storage_shift(o_st, n_st)
        if n < 0:
            # headline -1.0 = every run of this query failed this round —
            # the most severe outcome, never "improved"
            klass = "FAILED"
        elif abs(delta) >= args.noise and o > 0:
            if ratio >= args.threshold:
                if env_shift:
                    # different heap = different machine for comparison
                    # purposes; a real regression can hide under this,
                    # so it demands a same-env re-run, not a code hunt
                    klass = "ENV-SHIFT"
                elif (n_load is not None and o_load is not None
                        and n_load > o_load + args.load_margin):
                    klass = "CONTENDED"
                elif n_gc is not None and n_gc / 1000.0 > 0.2 * n:
                    klass = "GC-PRESSURE"
                else:
                    klass = "REGRESSION"
            elif ratio <= 1.0 / args.threshold:
                # a cross-heap speedup is the environment, not the code
                klass = "ENV-SHIFT" if env_shift else "IMPROVED"
        if klass:
            flags[klass] += 1
        rows.append((q, o, n, delta, ratio, klass, o_load, n_load))

    rows.sort(key=lambda r: -abs(r[3]))
    print(f"{'query':34} {'old':>8} {'new':>8} {'delta':>8} {'ratio':>6}  "
          f"{'load o->n':>10}  class")
    for q, o, n, d, rto, klass, ol, nl in rows:
        if not klass and abs(d) < args.noise:
            continue  # keep the report to signal, not noise
        loads = (f"{ol:.1f}->{nl:.1f}" if ol is not None and nl is not None
                 else "n/a")
        print(f"{q:34} {o:8.3f} {n:8.3f} {d:+8.3f} {rto:6.2f}  {loads:>10}  "
              f"{klass}")

    # ---- apps block: one stage = one run (no min-of-N). Old rounds
    # recorded bare seconds; new rounds record the same
    # [elapsed, gc_ms, load1, storage_mb] shape as query runs, so the
    # same REGRESSION/CONTENDED/GC-PRESSURE rules apply. A scalar old
    # record has no load evidence, so contention can't be proven for it
    # — an elevated stage then classifies REGRESSION and needs a manual
    # re-run to overturn.
    def app_run(v):
        return list(v) + [None] * (4 - len(v)) if isinstance(v, list) \
            else [v, None, None, None]
    oa = old.get("apps") or {}
    na = new.get("apps") or {}
    app_rows = []
    for k in sorted(set(oa) & set(na)):
        o_el, _, o_load, o_st = app_run(oa[k])
        n_el, n_gc, n_load, n_st = app_run(na[k])
        if not isinstance(o_el, (int, float)) or not isinstance(n_el, (int, float)):
            continue
        delta = n_el - o_el
        ratio = n_el / o_el if o_el > 0 else float("inf")
        klass = ""
        app_env_shift = (heap_shift if heap_known
                         else storage_shift(o_st, n_st))
        if n_el < 0:
            klass = "FAILED"
        elif o_el > 0 and abs(delta) >= args.app_noise:
            if ratio >= args.threshold:
                if app_env_shift:
                    klass = "ENV-SHIFT"
                elif (n_load is not None and o_load is not None
                        and n_load > o_load + args.load_margin):
                    klass = "CONTENDED"
                elif n_gc is not None and n_gc / 1000.0 > 0.2 * n_el:
                    klass = "GC-PRESSURE"
                else:
                    klass = "REGRESSION"
            elif ratio <= 1.0 / args.threshold:
                klass = "ENV-SHIFT" if app_env_shift else "IMPROVED"
        if klass:
            flags[klass] += 1
        app_rows.append((k, o_el, n_el, delta, ratio, klass, o_load, n_load))
    if app_rows:
        print("\napps (single-run stages):")
        for k, o, n, d, rto, klass, ol, nl in app_rows:
            loads = (f"{ol:.1f}->{nl:.1f}"
                     if ol is not None and nl is not None else "n/a")
            print(f"{k:34} {o:8.2f} {n:8.2f} {d:+8.2f} {rto:6.2f}  "
                  f"{loads:>10}  {klass}")

    tot_o, tot_n = old.get("value"), new.get("value")
    if tot_o is not None and tot_n is not None and tot_o > 0:
        print(f"\ntotal: {tot_o:.2f}s -> {tot_n:.2f}s "
              f"({(tot_n / tot_o - 1) * 100:+.1f}%)")
    else:
        # a partial/old record without "value" must not crash the report
        print(f"\ntotal: {tot_o} -> {tot_n} (ratio n/a)")
    la = lambda b: b.get("loadavg_before", "?").split()[0]
    print(f"load1 at start: old {la(old)}, new {la(new)}")
    heap = lambda b: b.get("heap_max_mb", "?")
    if heap(old) != "?" or heap(new) != "?":
        print(f"heap_max_mb: old {heap(old)}, new {heap(new)}")
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    summary = ", ".join(f"{k}={v}" for k, v in flags.items() if v)
    print(f"flags: {summary or 'none'}")
    if flags["CONTENDED"]:
        print("note: CONTENDED entries need an isolated re-run "
              "(SPARK_GRAFT_BENCH_RUNS=5 sbt 'runMain graft.Bench <query>') "
              "before being treated as real.")
    if flags["ENV-SHIFT"]:
        print("note: ENV-SHIFT entries compare records taken on different "
              "JVM heaps (heap_max_mb fields differ; storage-pool proxy "
              ">1.5x for pre-heap-field records) — re-run with the old "
              "record's SPARK_DRIVER_MEM before believing a regression "
              "or crediting an improvement.")
    return 1 if flags["REGRESSION"] or flags["FAILED"] else 0


if __name__ == "__main__":
    sys.exit(main())
