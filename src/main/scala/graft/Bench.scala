package graft

/** Per-query suite timer: times every declared query at
  * SPARK_GRAFT_SF_DIR, writes BENCH_FULL.json and prints ONE JSON line.
  * The benchmark of record is `perfbench/` (BENCHMARK.json); this main
  * is the per-query diagnostic beside it. A warm-up action runs first so
  * JVM/session initialization is not attributed to the first query.
  * Each run is split into build (constructing the DataFrame: guard
  * probes, memoized fits, driver collects) and exec (plan + run +
  * count), both timed by [[Telemetry.timed]].
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.app.Sessions.local("graft-bench")

    // Box-load marker: /proc/loadavg before/after the run AND per run
    // lands in BENCH_FULL.json so a round-over-round regression can be
    // adjudicated mechanically (contended box vs real code change vs
    // GC thrash) instead of forensically. Endpoint-only sampling missed
    // a mid-run spike in round 6; per-run 1-min load + cumulative GC ms
    // give the needed granularity.
    // Telemetry (loadavg/GC/storage) lives in graft.Telemetry — shared
    // with the app smoke so every timed region in BENCH_FULL.json
    // carries the same adjudication evidence.
    import Telemetry.{load1, loadavg}
    // raw sample at process start — the sbt/compile spike lands here;
    // the record's headline loadavg_before is sampled AFTER the load
    // gate below, at the moment timed work actually begins (the r14
    // record read 13.4 here purely from its own launch and was
    // mis-adjudicated as a contended run)
    val loadAtProcessStart = loadavg()

    // Warm-up: touch every table once (schema read + a tiny job).
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).limit(1).count()
    catch { case _: Throwable => () }

    // Optional args: run only the named queries (debug/bisect aid).
    val selected =
      if (args.nonEmpty) SparkEntry.queries.filter(kv => args.contains(kv._1))
      else SparkEntry.queries
    // Each query runs SPARK_GRAFT_BENCH_RUNS times (default 2); the
    // headline number is the MIN — single runs carry ±40% JVM/OS noise
    // that made round-over-round per-query comparison unfalsifiable.
    // All runs land in BENCH_FULL.json, so one-time costs that session
    // caches absorb after run 1 (index builds, memoized fits) stay
    // visible as the run-1/run-2 gap instead of silently vanishing.
    val nRuns = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt).getOrElse {
        // a typo'd env var must degrade to the default, not kill the
        // bench before any result is written
        System.err.println("[bench] unparsable SPARK_GRAFT_BENCH_RUNS, using 2")
        2
      })

    // Load gate: round 12's record started at load1 21.6 and the
    // alphabetically-first q_ann_* family absorbed the contended first
    // minute (load1 12-14 during their runs vs 3-5 later), polluting
    // exactly one family's numbers. Wait (bounded) for the box to quiet
    // down before the first timed run; the wait itself is recorded so a
    // gated record is distinguishable from an instant one.
    // Default 4.0 (NOT cpus/2): the r14 record started at load1 13.4
    // under a 16.0 gate and every headline "regression" was contention —
    // a gate that admits a half-loaded box defeats its purpose. A quiet
    // box reads < 2; 4.0 tolerates daemon noise but nothing concurrent.
    val loadGateMax = scala.util.Try(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_LOAD_MAX", "4.0").toDouble)
      .getOrElse(4.0)
    val loadGateWaitCap = scala.util.Try(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_LOAD_WAIT_SEC", "600").toInt).getOrElse(600)
    // The gate reads BOTH load1 and load5: r15's driver record passed a
    // load1-only check at 3.76 while load5/15 were ~14.5 — a box that
    // had been saturated minutes earlier, and every headline number was
    // contention. load5 > gate means "recently busy, caches/IO still
    // settling"; wait for both. The wait cap still bounds the stall.
    def gateLoad(): Double = math.max(load1(), Telemetry.load5())
    var gateWaitedSec = 0
    while (gateLoad() > loadGateMax && gateWaitedSec < loadGateWaitCap) {
      System.err.println(f"[bench] load gate: load1=${load1()}%.1f " +
        f"load5=${Telemetry.load5()}%.1f > $loadGateMax%.1f, " +
        f"waiting (${gateWaitedSec}s/${loadGateWaitCap}s)")
      Thread.sleep(10000)
      gateWaitedSec += 10
    }
    // the adjudication sample: box state when timed work begins
    val loadBefore = loadavg()

    // Untimed model warm: force each module's one-time memoized fit
    // (k-means/PQ/BPE) BEFORE the first timed run. With the shuffled
    // order, whichever model-cache-cold query ran first used to absorb
    // the ~9 s Lloyd fit — a nondeterministic victim every round (r13's
    // q_cluster_cap phantom 19x regression). Each warm's cost is still
    // recorded (under its own name, in the "warm" key + stderr) so the
    // one-time cost stays visible, just attributed honestly. Selected-
    // query debug runs warm too: their numbers should match the suite's.
    val warmTimings = SparkEntry.runWarmups(spark, sfDir)

    // Order de-bias: a FIXED (alphabetical) order lets whichever family
    // sorts first absorb any residual contention/warm-up every single
    // round — a systematic bias the min-of-n can't wash out. Shuffle
    // the query order with a recorded seed (override via
    // SPARK_GRAFT_BENCH_SEED to reproduce a specific record's order);
    // the runs map in BENCH_FULL.json is emitted in execution order, so
    // per-run load1 remains attributable to its position.
    val orderSeed = scala.util.Try(
      sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)).toOption
      .flatten.getOrElse(System.nanoTime())
    val ordered =
      new scala.util.Random(orderSeed).shuffle(selected.toSeq.sortBy(_._1))
    // One run = (whole run, build seconds). The whole run's elapsed is
    // build + exec and NEGATIVE when either failed: a failed run's
    // near-zero elapsed must never become the headline min, and the
    // record must show WHICH runs failed. build_sec is negative when the
    // build itself failed. GC delta and box load per run let a slow
    // number be adjudicated as heap-thrash vs contended-box vs real plan
    // change.
    def oneRun(name: String,
        fn: (org.apache.spark.sql.SparkSession, String)
          => org.apache.spark.sql.DataFrame): (Telemetry.StageRun, Double) = {
      val (built, build) = Telemetry.timed(spark)(fn(spark, sfDir))
      val (counted, exec) = Telemetry.timed(spark)(built.get.count())
      // loud, not silent: a failing query must be visible in the round
      // log even though the bench keeps going
      counted.failed.foreach(e =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
      val sec = math.abs(build.elapsedSec) + math.abs(exec.elapsedSec)
      (exec.copy(elapsedSec = if (counted.isSuccess) sec else -sec,
        gcDeltaMs = build.gcDeltaMs + exec.gcDeltaMs), build.elapsedSec)
    }
    val allRuns = ordered.map { case (name, fn) =>
      val runs = (1 to nRuns).map(_ => oneRun(name, fn))
      val okTimes = runs.map(_._1.elapsedSec).filter(_ > 0)
      val headline = if (okTimes.nonEmpty) okTimes.min else -1.0
      System.err.println(f"[bench] $name%-24s $headline%8.2f s" +
        runs.map { case (r, b) =>
          val e = r.elapsedSec
          (if (e > 0) f"$e%.2f" else f"FAIL(${-e}%.2f)") +
            f"/build$b%.2f/gc${r.gcDeltaMs}ms/ld${r.load1}%.1f/free${r.storageFreeMb}MB"
        }.mkString("  (runs: ", ", ", ")"))
      (name, runs, headline)
    }
    // headline map re-sorted by name so round-over-round diffs align;
    // the runs map below keeps EXECUTION order (position ↔ load1 stays
    // attributable)
    val results = allRuns.map { case (name, _, headline) => name -> headline }
      .sortBy(_._1)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0

    // App-level smoke at the reference's actual corpus scale (~1.6M raw
    // rows): Preprocess → Train(lr,nb) → CompareModels end to end, timed
    // per stage. Recorded under a SEPARATE "apps" key so the headline
    // query total stays comparable round-over-round. Opt out with
    // SPARK_GRAFT_BENCH_APPS=0; resize with SPARK_GRAFT_SMOKE_ROWS.
    // Skipped automatically when specific queries were selected (debug
    // runs should not pay minutes of smoke).
    val appTimings: Seq[(String, Telemetry.StageRun)] =
      if (args.nonEmpty || sys.env.get("SPARK_GRAFT_BENCH_APPS").contains("0"))
        Seq.empty
      else try {
        val rows = scala.util.Try(
          sys.env.getOrElse("SPARK_GRAFT_SMOKE_ROWS", "1600000").toLong)
          .getOrElse(1600000L)
        val work = java.nio.file.Files.createTempDirectory("graft-smoke")
        // the smoke writes a reference-scale artifact tree (raw+clean
        // CSVs, models, charts) — hundreds of MB per bench run that must
        // not accumulate in /tmp round over round
        val t =
          try graft.app.Sentiment140Smoke.run(spark, work.toString, rows)
          finally graft.app.Sentiment140Smoke.deleteRecursively(work)
        t.toRuns.foreach { case (k, r) =>
          System.err.println(f"[bench] $k%-28s ${r.elapsedSec}%8.2f s" +
            f"  (gc${r.gcDeltaMs}ms/ld${r.load1}%.1f/free${r.storageFreeMb}MB)")
        }
        t.toRuns
      } catch { case e: Throwable =>
        System.err.println(s"[bench] app smoke FAILED: ${e.getMessage}")
        // negative elapsed = failed, same convention as query runs
        Seq("sentiment140_total" -> Telemetry.StageRun(-1.0, 0L,
          Telemetry.load1(), Telemetry.storageFreeMb(spark)))
      }

    // Full-precision record → file (the round log only keeps the LAST
    // ~2000 chars of output, which a 75-query full-precision line plus
    // sbt's own [success] epilogue overflows — that's why rounds 1-2
    // recorded parsed:null). The file keeps every digit for analysis;
    // stdout gets ONE compact line, printed last, short enough that the
    // whole line survives inside the tail window.
    // JSON string escape shared with every hand-assembled record
    // (ScaleBench writes the same shape) — see Telemetry.jstr.
    def jstr(s: String): String = Telemetry.jstr(s)
    def json(fmt: Double => String): String = {
      val qs = results.map { case (k, v) => jstr(k) + ":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":${jstr(sfDir)}}"""
    }
    try {
      // full precision, plus every individual run (per-query min hides
      // cold-vs-warm structure; the runs array keeps it analyzable).
      // Failed runs serialize as NEGATIVE elapsed — distinguishable
      // from any real time, numeric for tooling. Each run is
      // [elapsedSec, gcDeltaMs, load1, storageFreeMb, buildSec] so a
      // slow run carries its own adjudication evidence and its
      // construction-vs-execution split.
      val runsJson = allRuns.map { case (k, rs, _) =>
        jstr(k) + ":" + rs.map { case (r, b) =>
          s"[${r.elapsedSec},${r.gcDeltaMs},${r.load1},${r.storageFreeMb},$b]"
        }.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      // apps carry the SAME telemetry shape as query runs (one stage =
      // one run array), so bench_diff adjudicates both with one rule set
      val appsJson = appTimings.map { case (k, r) => jstr(k) + ":" + r.toJsonArray }
        .mkString("{", ",", "}")
      val full = json(_.toString).dropRight(1) +
        s""","runs":$runsJson,"runs_shape":"[elapsed_sec,gc_delta_ms,load1,storage_free_mb,build_sec]"""" +
        s""","agg":"min_of_$nRuns","apps":$appsJson""" +
        // untimed one-time model fits, cost attributed by name (negative
        // = the warm failed; its queries then pay the fit themselves)
        warmTimings.map { case (k, v) => jstr(k) + ":" + v }
          .mkString(""","warm":{""", ",", "}") +
        // heap size pins the record's environment: round 9 measured the
        // same code 20%+ apart suite-wide (and the app chain 3-4x) purely
        // from SPARK_DRIVER_MEM — cross-heap diffs are not comparable
        s""","heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}""" +
        s""","order_seed":$orderSeed,"load_gate":{"max_load1":$loadGateMax,"waited_sec":$gateWaitedSec}""" +
        s""","loadavg_process_start":${jstr(loadAtProcessStart)}""" +
        s""","loadavg_before":${jstr(loadBefore)},"loadavg_after":${jstr(loadavg())}}"""
      // selected-query debug runs write a sidecar — they must never
      // clobber the round's full-suite record
      val outName = if (args.isEmpty) "BENCH_FULL.json" else "BENCH_PARTIAL.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(outName),
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}")
    }
    // 3 significant digits, no trailing zeros: "0.17", "11.2", "0.0951";
    // if the query list has grown enough that even that overflows the
    // tail window, degrade to 2 digits rather than lose the line.
    def sig(digits: Int)(v: Double): String =
      BigDecimal(v).round(new java.math.MathContext(digits))
        .bigDecimal.stripTrailingZeros.toPlainString
    val line3 = json(sig(3))
    println(if (line3.length <= 1800) line3 else json(sig(2)))
    // Total-only line LAST, <100 chars: at 95 queries even the compact
    // per-query line (~2,100 chars) overflows the driver's 2000-char
    // tail window (rounds 4-5 recorded parsed:null). This short line is
    // the one guaranteed to survive the tail regardless of query count;
    // the per-query detail lives in BENCH_FULL.json and the line above.
    println(s"""{"metric":"total","value":${sig(4)(total)},"unit":"sec","n":${results.size},"sf":${jstr(sfDir)}}""")
    spark.stop()
  }
}
