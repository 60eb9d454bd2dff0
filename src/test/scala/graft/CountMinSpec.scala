package graft

import org.apache.spark.sql.functions._
import graft.functions.{CountMin, PolyHashF}
import graft.operators.TokenOps

/** CMS invariants beyond the oracle: the unconditional one-sided error,
  * merge losslessness (per-group sketches sum to the direct build),
  * partitioning determinism, the empirical overshoot band, and the loud
  * dim-mismatch / type-check guards. */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private val W = 64
  private val D = 4

  private def toks = Tables.documents(spark, sf001)
    .select(col("source"), explode(TokenOps.tokenize(col("text"))).as("token"))

  test("estimate >= true count for EVERY item, unconditionally") {
    val sketch = toks.agg(CountMin.count_min(col("token"), W, D).as("sk"))
    val rows = toks.groupBy(col("token")).agg(count(lit(1)).as("t"))
      .crossJoin(broadcast(sketch))
      .select(col("token"), col("t"),
        CountMin.estimate(col("sk"), col("token"), W, D).as("e"))
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (tok, t, e) => assert(e >= t, s"$tok: est $e < true $t") }
    // the min over depth rows keeps overshoot bounded in practice: at
    // W=64 the mean over-count per row is N/W; require the MEDIAN
    // overshoot below 3 N/W (loose, deterministic on this fixture)
    val n = rows.map(_._2).sum
    val overs = rows.map { case (_, t, e) => e - t }.sorted
    assert(overs(overs.length / 2) <= 3 * n / W,
      s"median overshoot ${overs(overs.length / 2)} vs bound ${3 * n / W}")
  }

  test("count_min_merge of per-source sketches equals the direct build") {
    val direct = toks.agg(CountMin.count_min(col("token"), W, D).as("sk"))
      .select(explode(col("sk"))).as[Long].collect().toSeq
    val merged = toks.groupBy(col("source"))
      .agg(CountMin.count_min(col("token"), W, D).as("sk"))
      .agg(CountMin.count_min_merge(col("sk"), W, D).as("sk"))
      .select(explode(col("sk"))).as[Long].collect().toSeq
    assert(direct == merged)
    assert(direct.sum == toks.count() * D, "every instance lands in every row")
  }

  test("the sketch is identical under any partitioning") {
    val a = toks.agg(CountMin.count_min(col("token"), W, D).as("sk"))
      .select(explode(col("sk"))).as[Long].collect().toSeq
    val b = toks.repartition(17, col("token"))
      .agg(CountMin.count_min(col("token"), W, D).as("sk"))
      .select(explode(col("sk"))).as[Long].collect().toSeq
    assert(a == b)
  }

  test("merge refuses a sketch whose dims differ from the build") {
    val sk = Seq("a", "b", "a").toDF("t")
      .agg(CountMin.count_min(col("t"), 32, 2).as("sk"))
    val e = intercept[Exception] {
      sk.agg(CountMin.count_min_merge(col("sk"), W, D).as("m")).collect()
    }
    assert(e.getMessage != null)
  }

  test("type checks: non-string item and non-literal width fail analysis") {
    val df = Seq((1L, "x")).toDF("id", "t")
    intercept[Exception] {
      df.agg(CountMin.count_min(col("id"), W, D)).collect()
    }
    intercept[Exception] {
      withGraftSql(_.createDataFrame(Seq((1L, "x"))).toDF("id", "t")
        .agg(org.apache.spark.sql.functions.call_function(
          "count_min", col("t"), col("id"), lit(D))).collect())
    }
  }
}
