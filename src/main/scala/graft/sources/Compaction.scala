package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the table-maintenance pass every long-lived
  * 100 TB dataset needs: streaming/incremental writers leave thousands
  * of small files per partition (each an open/seek/footer-parse at read
  * time and a listing entry at planning time), and compaction rewrites
  * them into few large, RANGE-SORTED files.
  *
  * Sorting is the point, not a nicety: parquet stores per-row-group
  * min/max stats, so a range-sorted layout lets point and range reads
  * skip everything but the matching row groups — the poor man's
  * clustered index for any key-ranged access pattern.
  */
object Compaction {

  /** Rewrite `inPath` parquet into `outPath` as ≈`targetRecordsPerFile`
    * files range-partitioned and sorted by `sortCols`. One count pass
    * sizes the job (a maintenance pass can afford it; pass
    * `knownRowCount` to skip it). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      sortCols: Seq[Column], targetRecordsPerFile: Long = 1000000L,
      knownRowCount: Option[Long] = None): Unit = {
    // Qualified-path comparison, not raw strings: '/data/t' vs
    // '/data/t/' or a relative spelling of the same dir would pass a
    // string check and mode(overwrite) would destroy the input.
    val hc = spark.sparkContext.hadoopConfiguration
    def qualified(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hc).makeQualified(hp)
    }
    require(qualified(outPath) != qualified(inPath),
      "compact to a new location, then swap — never overwrite the live dir in place")
    val df = spark.read.parquet(inPath)
    val n = knownRowCount.getOrElse(df.count())
    val files = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    df.repartitionByRange(files, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.option("maxRecordsPerFile", targetRecordsPerFile)
      .mode("overwrite").parquet(outPath)
  }

  /** Z-order (Morton) key over 2+ dimensions: interleaves the low
    * `bitsPerDim` bits of each column, so sorting by the key clusters
    * rows that are close in EVERY dimension — after [[compact]]-ing by
    * this key, a filter on ANY single dimension prunes most row groups
    * via parquet min/max stats (a single-column range sort localizes
    * only its own column; every other column spans its full range in
    * every file).
    *
    * Columns must be pre-mapped to [0, 2^bitsPerDim) by the caller
    * (e.g. `(col / bucketWidth)`, days-since-epoch, a dictionary code) —
    * the mapping IS the resolution choice and belongs to the schema
    * owner, not a library guess. Built from plain shift/mask Column
    * arithmetic: codegen-folded, no UDF, usable in any engine that
    * reads the written layout. dims × bitsPerDim must fit a long. */
  def zorderKey(dims: Seq[Column], bitsPerDim: Int): Column = {
    require(dims.size >= 2, "zorder needs at least 2 dimensions")
    require(bitsPerDim >= 1, s"bitsPerDim must be >= 1, got $bitsPerDim")
    require(dims.size * bitsPerDim <= 63,
      s"${dims.size} dims × $bitsPerDim bits exceeds a long")
    val n = dims.size
    val parts = for {
      (d, j) <- dims.zipWithIndex
      i <- 0 until bitsPerDim
    } yield shiftleft(
      shiftright(d.cast("long"), i).bitwiseAND(lit(1L)),
      i * n + j)
    parts.reduce(_.bitwiseOR(_))
  }

  /** [[compact]] with a z-order layout over `dims` (each pre-mapped to
    * [0, 2^bitsPerDim)). */
  def compactZOrder(spark: SparkSession, inPath: String, outPath: String,
      dims: Seq[Column], bitsPerDim: Int = 16,
      targetRecordsPerFile: Long = 1000000L,
      knownRowCount: Option[Long] = None): Unit =
    compact(spark, inPath, outPath, Seq(zorderKey(dims, bitsPerDim)),
      targetRecordsPerFile, knownRowCount)
}
