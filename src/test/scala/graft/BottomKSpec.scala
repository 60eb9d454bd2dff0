package graft

import org.apache.spark.sql.functions._
import graft.functions.BottomK

/** Native bottom_k aggregate: must equal the window row_number form,
  * stay partitioning-invariant (map-side combine correctness), plan as
  * a two-stage ObjectHashAggregate, and honor null/short-group edges. */
class BottomKSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    Tables.documents(spark, sf001).filter($"text".isNotNull)

  private def sampleKey = md5(concat(lit("42:"), $"text"))

  test("bottom_k == window row_number form on the fixture") {
    val agg = docs.groupBy($"lang")
      .agg(BottomK.bottom_k(sampleKey, $"doc_id", 5).as("ids"))
      .select($"lang", posexplode($"ids").as(Seq("pos", "doc_id")))
      .as[(String, Int, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy(sampleKey, $"doc_id")
    val win = docs.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"lang", ($"rn" - 1).as("pos"), $"doc_id")
      .as[(String, Int, Long)].collect().toSet
    assert(agg === win)
    assert(agg.nonEmpty)
  }

  test("partitioning-invariant; plans as two-stage ObjectHashAggregate") {
    def run(parts: Int): Map[String, Seq[Long]] =
      docs.repartition(parts).groupBy($"lang")
        .agg(BottomK.bottom_k(sampleKey, $"doc_id", 7).as("ids"))
        .as[(String, Seq[Long])].collect().toMap
    assert(run(1) === run(13))
    val plan = docs.groupBy($"lang")
      .agg(BottomK.bottom_k(sampleKey, $"doc_id", 3))
      .queryExecution.executedPlan.toString
    // partial + final stage: each task ships <= k entries per group,
    // never its rows — the whole point vs the window form
    assert(plan.sliding("ObjectHashAggregate".length)
      .count(_ == "ObjectHashAggregate") >= 2, plan)
  }

  test("k beyond group size returns the whole group, ascending; SQL works") {
    val r = withGraftSql { ext =>
      ext.createDataFrame(Seq(("g", "b", 2L), ("g", "a", 1L), ("g", "c", 3L)))
        .toDF("g", "key", "id").createOrReplaceTempView("bk_small")
      val row = ext.sql(
        "SELECT g, bottom_k(key, id, 10) AS ids FROM bk_small GROUP BY g")
        .head()
      (row.getString(0), row.getSeq[Long](1))
    }
    assert(r === (("g", Seq(1L, 2L, 3L))))
  }

  test("null keys/ids are skipped; ties break on id both ways") {
    val df = Seq(
      (Some("k"), Some(5L)), (Some("k"), Some(2L)),
      (None: Option[String], Some(1L)), (Some("k"), None: Option[Long]))
      .toDF("key", "id")
    val got = df.agg(BottomK.bottom_k($"key", $"id", 1)).as[Seq[Long]].head()
    assert(got === Seq(2L)) // tie on key "k" -> min id wins
  }

  test("non-positive or non-literal k fails analysis, not execution") {
    val err = intercept[Exception] {
      docs.groupBy($"lang")
        .agg(BottomK.bottom_k(sampleKey, $"doc_id", 0)).collect()
    }
    assert(err.getMessage.contains("k > 0"), err.getMessage)
  }
}
