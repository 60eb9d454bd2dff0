package graft

import org.apache.spark.sql.SparkSession

import scala.util.Try

/** Shared box/JVM telemetry and the one timing primitive ([[timed]]) of
  * the measurement mains: every timed region — per-query runs, warms,
  * app-smoke stages and scale rehearsals — records the same
  * `[elapsed_sec, gc_delta_ms, load1, storage_free_mb]` shape, so a
  * slow number carries its own adjudication evidence (contended box vs
  * heap thrash vs real code change) wherever it appears in
  * BENCH_FULL.json. Extracted from Bench when the apps block gained
  * telemetry: one definition, not two drifting copies. */
object Telemetry {

  /** One timed region's record. `elapsedSec` is NEGATIVE when the body
    * failed (distinguishable from any real time, numeric for tooling). */
  final case class StageRun(elapsedSec: Double, gcDeltaMs: Long,
      load1: Double, storageFreeMb: Long) {
    def toJsonArray: String =
      s"[$elapsedSec,$gcDeltaMs,$load1,$storageFreeMb]"
  }

  /** Minimal JSON string escape for interpolated fields (loadavg
    * fallback text, sfDir, query names): one definition shared by every
    * main that assembles JSON by hand — an unescaped env-provided sfDir
    * would make the record unparseable (the parsed:null failure class). */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def loadavg(): String =
    scala.util.Using(scala.io.Source.fromFile("/proc/loadavg"))(_.mkString.trim)
      .getOrElse("unavailable")

  /** 1-minute load as a bare double (keeps per-run records numeric). */
  def load1(): Double =
    Try(loadavg().split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** 5-minute load. The r15 driver record passed a load1-only gate at
    * load1 3.76 while load5/15 sat at ~14.5 — the box had been heavily
    * loaded minutes earlier and every headline number was contention.
    * load1 says "quiet now"; load5 says "quiet long enough to trust". */
  def load5(): Double =
    Try(loadavg().split("\\s+")(1).toDouble).getOrElse(-1.0)

  /** Cumulative GC time across all collectors, ms since JVM start; the
    * per-region delta separates "allocated hard" from "box was busy". */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Free block-manager storage, MB — when it reaches ~0, later
    * cache/broadcast writes run inside constant LRU-eviction churn. */
  def storageFreeMb(spark: SparkSession): Long =
    Try(spark.sparkContext.getExecutorMemoryStatus.values
      .map(_._2.toLong).sum / (1024 * 1024)).getOrElse(-1L)

  /** Time `body`, returning its outcome plus the telemetry record. A
    * non-fatal failure comes back as `Failure` with a NEGATIVE
    * `elapsedSec`; callers that must fail loudly call `.get`. */
  def timed[A](spark: SparkSession)(body: => A): (Try[A], StageRun) = {
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val a = Try(body)
    val sec = (System.nanoTime() - t0) / 1e9
    (a, StageRun(if (a.isSuccess) sec else -sec, gcMs() - gc0, load1(),
      storageFreeMb(spark)))
  }
}
