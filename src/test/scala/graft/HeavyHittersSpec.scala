package graft

import org.apache.spark.sql.functions._
import graft.functions.HeavyHitters
import graft.operators.TokenOps

/** The Misra-Gries guarantee (est ≤ true ≤ est + maxerr; nothing more
  * frequent than maxerr is ever missed) proven against exact counts, for
  * the direct aggregate AND the summary-merge rollup, under different
  * partitionings. The retained SET may vary with partitioning — these
  * specs assert the invariants, not a fixed set. */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._


  private lazy val tokens = Tables.documents(spark, sf001)
    .select(explode(TokenOps.tokenize($"text")).as("token"))

  private lazy val exact: Map[String, Long] = tokens
    .groupBy($"token").agg(count(lit(1)).as("c"))
    .as[(String, Long)].collect().toMap

  private def summary(df: org.apache.spark.sql.DataFrame,
      cap: Int): Seq[(String, Long, Long)] =
    df.agg(HeavyHitters.heavy_hitters($"token", cap).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item", $"e.est", $"e.maxerr")
      .as[(String, Long, Long)].collect().toSeq

  private def checkGuarantee(rows: Seq[(String, Long, Long)]): Unit = {
    assert(rows.nonEmpty)
    val maxerr = rows.head._3
    rows.foreach { case (item, est, err) =>
      assert(err == maxerr, "maxerr is summary-wide")
      val t = exact(item)
      assert(est <= t && t <= est + err, s"$item: est=$est err=$err true=$t")
    }
    val present = rows.map(_._1).toSet
    exact.foreach { case (item, c) =>
      if (c > maxerr)
        assert(present(item), s"$item true=$c > maxerr=$maxerr missed")
    }
  }

  test("direct aggregate honors the MG guarantee under different partitionings") {
    checkGuarantee(summary(tokens, 16))
    checkGuarantee(summary(tokens.repartition(13), 16))
  }

  test("summary-merge rollup preserves the guarantee without raw re-scan") {
    val perSource = Tables.documents(spark, sf001)
      .select($"source", explode(TokenOps.tokenize($"text")).as("token"))
      .groupBy($"source")
      .agg(HeavyHitters.heavy_hitters($"token", 16).as("hh"))
    val merged = perSource
      .agg(HeavyHitters.heavy_hitters_merge($"hh", 16).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item", $"e.est", $"e.maxerr")
      .as[(String, Long, Long)].collect().toSeq
    checkGuarantee(merged)
  }

  test("merging summaries over DISJOINT vocabularies keeps the full counter budget") {
    // regression: the merge once reconstructed capacity from a summary's
    // retained ROW COUNT, shrinking the budget whenever sources retained
    // fewer than `capacity` items — disjoint per-source vocabularies
    // make the union exceed any one summary's size and expose it
    val cap = 64
    val df = (0 until 3).flatMap { src =>
      (0 until 10).flatMap(i =>
        Seq.fill(10 - i)(s"g$src" -> s"s${src}_t$i"))
    }.toDF("g", "token")
    val merged = df.groupBy($"g")
      .agg(HeavyHitters.heavy_hitters($"token", cap).as("hh"))
      .agg(HeavyHitters.heavy_hitters_merge($"hh", cap).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item", $"e.est", $"e.maxerr")
      .as[(String, Long, Long)].collect().toSeq
    // 30 distinct items across sources, all under the 64 budget: the
    // rollup must be exact — no shrink-triggered decrements
    assert(merged.size == 30, s"${merged.size} items retained")
    assert(merged.map(_._3).forall(_ == 0L), "no decrements expected")
    val exactLocal = (0 until 3).flatMap(src =>
      (0 until 10).map(i => s"s${src}_t$i" -> (10 - i).toLong)).toMap
    assert(merged.map(r => r._1 -> r._2).toMap == exactLocal)
  }

  test("capacity >= vocabulary recovers exact counts with zero error") {
    val cap = exact.size + 8
    val rows = summary(tokens, cap)
    assert(rows.map(_._3).forall(_ == 0L), "no decrements at full capacity")
    assert(rows.map(r => r._1 -> r._2).toMap == exact)
    // and the merged rollup stays exact too
    val perSource = Tables.documents(spark, sf001)
      .select($"source", explode(TokenOps.tokenize($"text")).as("token"))
      .groupBy($"source")
      .agg(HeavyHitters.heavy_hitters($"token", cap).as("hh"))
    val merged = perSource
      .agg(HeavyHitters.heavy_hitters_merge($"hh", cap).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item", $"e.est", $"e.maxerr")
      .as[(String, Long, Long)].collect().toSeq
    assert(merged.map(_._3).forall(_ == 0L))
    assert(merged.map(r => r._1 -> r._2).toMap == exact)
  }

  test("summaries plan as ObjectHashAggregate (map-side partials, no sort)") {
    val plan = tokens.groupBy(lit(1))
      .agg(HeavyHitters.heavy_hitters($"token", 16))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("null items are skipped, empty input yields an empty summary") {
    val df = Seq(Some("a"), None, Some("a"), Some("b"))
      .toDF("token")
    val rows = summary(df, 4)
    assert(rows.map(r => r._1 -> r._2) == Seq("a" -> 2L, "b" -> 1L))
    val empty = Seq.empty[String].toDF("token")
    assert(summary(empty, 4).isEmpty)
  }
}
