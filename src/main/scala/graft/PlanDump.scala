package graft

/** Plan-capture tool (optimization-round evidence): writes
  * `.explain("formatted")` for the named declared queries (or all of
  * them) to `<outDir>/<query>.txt`. Same session builder as [[Bench]]
  * (`app.Sessions.local`), so captured plans match what the bench
  * actually executes. Read-only — builds each query's DataFrame (which
  * may run guard probes / memoized fits, exactly like the bench's warm
  * phase) but never executes the plan itself.
  *
  * Usage: runMain graft.PlanDump <outDir> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <outDir> [query...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.app.Sessions.local("graft-plan-dump")
    val selected =
      if (args.length > 1) SparkEntry.queries.filter(kv => args.drop(1).contains(kv._1))
      else SparkEntry.queries
    // model warms first, so plans reflect the post-warm state the bench times
    SparkEntry.runWarmups(spark, sfDir)
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] $name OK (${plan.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
