package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `f` on a session over the shared context built with
    * [[GraftExtensions]], the SQL front door for graft's functions.
    * `spark.sql.extensions` is a static conf (read only when the context
    * is created), so the builder's withExtensions path is used. */
  def withGraftSql[T](f: SparkSession => T): T = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder().withExtensions(new GraftExtensions)
      .getOrCreate())
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}
