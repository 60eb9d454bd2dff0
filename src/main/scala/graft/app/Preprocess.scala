package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Filters, TextClean}
import graft.sources.SentimentCsv

/** End-to-end preprocessing entry point — the reference's first
  * `spark-submit` main (`/root/reference/preprocessing.py:31-169`) as a
  * runnable Scala main over the same operator library:
  *
  *   raw Sentiment140 CSV → dropna → label normalize (0/4 → 0/1) →
  *   select(label, text) → clean chain → drop empty → coalesced CSV sink,
  *
  * plus the reference's dataset statistics (class distribution
  * `preprocessing.py:44`, text-length stats `:152-161`) computed
  * IN-ENGINE — the reference collects to pandas for these; at 100 TB both
  * are one aggregate each, so the driver only ever sees a handful of rows.
  *
  * Usage: graft.app.Preprocess <rawCsvPath> <cleanOutDir>
  */
object Preprocess {

  /** The full preprocessing dataflow as one lazy plan (no action). */
  def cleanPlan(raw: DataFrame): DataFrame =
    TextClean.clean(
      Filters.dropAnyNull(raw)
        .withColumn("label", TextClean.normalizeLabel(col("sentiment")))
        .select(col("label"), col("text")))
      .select(col("label"), col("text"))

  /** Class distribution (in-engine form of `preprocessing.py:44`). */
  def classDistribution(cleaned: DataFrame): DataFrame =
    cleaned.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .orderBy(col("label"))

  /** Text-length stats (in-engine form of `preprocessing.py:152-161`). */
  def lengthStats(cleaned: DataFrame): DataFrame =
    cleaned.select(length(col("text")).cast("long").as("len"))
      .agg(round(avg(col("len")), 6).as("avg_len"),
        max(col("len")).as("max_len"), min(col("len")).as("min_len"))

  /** Length-distribution aggregates live with the other corpus stats in
    * [[graft.operators.Profiling]]; these delegates keep the
    * preprocessing entry point's surface complete. */
  def lengthHistogram(df: DataFrame, binWidth: Int = 5,
      clampLen: Int = 300): DataFrame =
    graft.operators.Profiling.lengthHistogram(df, "text", binWidth, clampLen)

  def lengthSummary(df: DataFrame): DataFrame =
    graft.operators.Profiling.lengthSummary(df, "text")

  /** Collect a (bin_start, n) histogram frame (bounded by construction). */
  private[graft] def collectHist(hist: DataFrame): Seq[(Int, Long)] =
    hist.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

  /** Collect a one-row five-number summary frame. An all-null row (the
    * global-agg result over an empty corpus) must fail with a message,
    * not a bare NullPointerException from Row.getDouble. */
  private[graft] def collectBox(summary: DataFrame): graft.ml.ModelCharts.BoxSummary = {
    val r = summary.head()
    require(!r.isNullAt(0),
      "length summary over an empty corpus — nothing to chart")
    graft.ml.ModelCharts.BoxSummary(r.getDouble(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
  }

  /** Preprocessing chart artifacts (`preprocessing.py:59-88,125-148`'s
    * figures): label-distribution bars plus the before/after text-length
    * comparison. Every input is a bounded aggregate (#classes rows, ≤61
    * histogram bins, 1 summary row per side), so the renders are
    * driver-trivial at any corpus size. The "before" side re-reads the
    * raw corpus projected to the text column, persisted across its
    * histogram + summary aggregations so the raw scan happens once. */
  def writeCharts(spark: SparkSession, rawPath: String, cleaned: DataFrame,
      dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    graft.ml.ModelCharts.writeLabelDistributionSvg(classDistribution(cleaned),
      java.nio.file.Paths.get(dir, "label_distribution.svg").toString)
    val raw = Filters.dropAnyNull(SentimentCsv.readRaw(spark, rawPath))
      .select(col("text")).persist()
    graft.ml.ModelCharts.writeLengthComparisonSvg(
      collectHist(lengthHistogram(raw)), collectHist(lengthHistogram(cleaned)),
      collectBox(lengthSummary(raw)), collectBox(lengthSummary(cleaned)),
      binWidth = 5,
      java.nio.file.Paths.get(dir, "length_before_after.svg").toString)
    raw.unpersist()
  }

  /** Run preprocess: read raw → clean → write CSV; returns the cleaned
    * frame (re-read-able via SentimentCsv.readClean). */
  def run(spark: SparkSession, rawPath: String, outDir: String): DataFrame = {
    val cleaned = cleanPlan(SentimentCsv.readRaw(spark, rawPath))
    SentimentCsv.writeClean(cleaned, outDir)
    cleaned
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.app.Preprocess <rawCsvPath> <cleanOutDir> [--charts DIR]")
    val Array(rawPath, outDir) = args.take(2)
    val chartsDir = args.sliding(2).collectFirst {
      case Array("--charts", dir) => dir
    }
    val spark = Sessions.local("graft-preprocess")
    run(spark, rawPath, outDir)
    // Stats read the WRITTEN output, not the lazy plan: re-using the
    // plan would re-scan and re-clean the raw corpus once per action.
    // Persisted: the stats `show`s and the chart aggregates below run
    // 2-5 aggregation jobs each over this frame — without the persist
    // each one re-reads the written CSV.
    val written = SentimentCsv.readClean(spark, outDir).persist()
    val dist = classDistribution(written)
    dist.show(10, truncate = false)
    lengthStats(written).show(truncate = false)
    chartsDir.foreach(writeCharts(spark, rawPath, written, _))
    written.unpersist()
    spark.stop()
  }
}

/** The one local-session builder for every main — the apps, `Bench`,
  * `Verify`, `PlanDump` and `ScaleBench` (the library itself never
  * creates sessions — only entry points do). */
object Sessions {
  def local(name: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(name)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, must land before the first session: the default
      // 100-entry whole-stage-codegen class cache thrashes under a
      // 270-query session (each query's stages evict earlier ones), so
      // every re-run pays Janino recompilation — measured +28 s on the
      // interleaved full bench. Metaspace cost of the larger cache is
      // a few hundred MB, off-heap, bounded by the suite's stage count.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4000"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
