package graft.tools

/** Phase-timing diagnostic (optimization rounds): for each named query,
  * separates DataFrame CONSTRUCTION time (guard probes, memoized fits,
  * driver collects that run while building the plan) from EXECUTION time
  * (the count the bench times), across a few repetitions. Identifies
  * whether a slow bench query is paying per-run jobs at build time, plan
  * overhead, or actual execution. Not part of the driver contract.
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.app.Sessions.local("graft-phase-probe")
    graft.Tables.all.foreach { t =>
      try graft.Tables.load(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    graft.SparkEntry.warmups.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir) catch { case _: Throwable => () }
      System.err.println(f"[probe] warm $n%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    val qs = graft.SparkEntry.queries
    args.foreach { name =>
      qs.get(name).foreach { fn =>
        (1 to 3).foreach { r =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.count()
          val t2 = System.nanoTime()
          System.err.println(f"[probe] $name%-28s run$r build ${(t1 - t0) / 1e9}%6.3f s  exec ${(t2 - t1) / 1e9}%6.3f s")
        }
      }
    }
    spark.stop()
  }
}
