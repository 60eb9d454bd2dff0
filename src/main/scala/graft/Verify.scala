package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (bisect aid; the
    // driver always calls with exactly two args -> full run)
    val only = args.drop(2).toSet
    // A typo'd name would otherwise silently select nothing and look
    // like a pass — warn loudly, listing what didn't match.
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      System.err.println("[verify] WARNING: no such quer" +
        (if (unknown.size == 1) "y" else "ies") +
        s": ${unknown.toSeq.sorted.mkString(", ")} (not in SparkEntry.queries)")
    val spark = graft.app.Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Telemetry.jstr(k)}: ${Telemetry.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
