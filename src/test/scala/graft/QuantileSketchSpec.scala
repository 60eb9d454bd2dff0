package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.QuantileSketch

/** The GK rank guarantee (|rank(q̂_p) − p·N| ≤ ε·N) proven against
  * exact sorted data — for the direct digest, the per-group union
  * rollup, and under different partitionings. Digest internals may vary
  * with partitioning; the bound may not. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._


  private val eps = 0.01
  private val probs = Seq(0.1, 0.5, 0.9, 0.99)

  private lazy val amounts: Seq[Double] = Tables.orders(spark, sf01)
    .select($"o_totalprice").as[Double].collect().toSeq.sorted

  private def checkBound(qs: Seq[Double], sorted: Seq[Double]): Unit = {
    val n = sorted.size.toDouble
    probs.zip(qs).foreach { case (p, q) =>
      val below = sorted.count(_ < q).toDouble   // rank lower bound
      val atOrBelow = sorted.count(_ <= q).toDouble // rank upper bound
      assert(below <= p * n + eps * n + 1,
        s"p=$p q=$q: $below below > ${p * n + eps * n}")
      assert(atOrBelow >= p * n - eps * n - 1,
        s"p=$p q=$q: $atOrBelow at-or-below < ${p * n - eps * n}")
    }
  }

  private def quantilesOf(df: DataFrame): Seq[Double] =
    df.agg(QuantileSketch.gk_sketch_agg($"o_totalprice".cast("double"), eps)
        .as("sk"))
      .select(QuantileSketch.gk_quantiles($"sk",
        array(probs.map(lit): _*)))
      .as[Seq[Double]].head()

  test("direct digest honors the GK rank bound under different partitionings") {
    val orders = Tables.orders(spark, sf01)
    checkBound(quantilesOf(orders), amounts)
    checkBound(quantilesOf(orders.repartition(17)), amounts)
  }

  test("per-group union rollup preserves the bound without raw re-scan") {
    val rolled = Tables.orders(spark, sf01)
      .groupBy($"o_orderpriority")
      .agg(QuantileSketch.gk_sketch_agg($"o_totalprice".cast("double"), eps)
        .as("sk"))
      .agg(QuantileSketch.gk_union_agg($"sk").as("sk"))
      .select(QuantileSketch.gk_quantiles($"sk", array(probs.map(lit): _*)))
      .as[Seq[Double]].head()
    checkBound(rolled, amounts)
  }

  test("digests are compact relative to the data they summarize") {
    val sk = Tables.orders(spark, sf01)
      .agg(QuantileSketch.gk_sketch_agg($"o_totalprice".cast("double"), eps)
        .as("sk"))
      .select($"sk").as[Array[Byte]].head()
    assert(sk.length < 64 * 1024,
      s"digest ${sk.length}B should be KBs, not data-sized")
    assert(amounts.size > 1000, "fixture large enough to make that claim")
  }

  test("empty input digests answer null; null values are skipped") {
    val empty = Seq.empty[Double].toDF("v")
      .agg(QuantileSketch.gk_sketch_agg($"v", eps).as("sk"))
      .select(QuantileSketch.gk_quantiles($"sk", array(lit(0.5))))
      .as[Option[Seq[Double]]].head()
    assert(empty.isEmpty)
    val withNulls = Seq[Option[Double]](Some(1.0), None, Some(3.0)).toDF("v")
      .agg(QuantileSketch.gk_sketch_agg($"v", eps).as("sk"))
      .select(QuantileSketch.gk_quantiles($"sk", array(lit(1.0))))
      .as[Seq[Double]].head()
    assert(withNulls == Seq(3.0))
  }

  test("the SQL route works end-to-end (register → sketch → union → extract)") {
    val out = withGraftSql(_.sql(
      """SELECT gk_quantiles(gk_union_agg(sk), array(0.5d)) AS q FROM (
        |  SELECT g, gk_sketch_agg(v, 0.1d) AS sk FROM VALUES
        |    (0, 1.0d), (0, 2.0d), (1, 3.0d), (1, 4.0d) AS t(g, v)
        |  GROUP BY g)""".stripMargin)
      .head().getSeq[Double](0))
    assert(out.size == 1 && out.head >= 1.0 && out.head <= 4.0)
  }

  test("GK winsorize: clip points inside the rank-eps envelope of exact") {
    import org.apache.spark.sql.functions._
    val gk = graft.queries.RelationalQueries.winsorizeGk(spark, sf001)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val exact = graft.queries.RelationalQueries.winsorize(spark, sf001)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(gk.keySet == exact.keySet && gk.nonEmpty)
    val byFlag = Tables.lineitem(spark, sf001)
      .select($"l_returnflag",
        graft.functions.Money.cents($"l_extendedprice"))
      .as[(String, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    gk.foreach { case (flag, (_, n, lo, hi, gkMean)) =>
      val sorted = byFlag(flag)
      assert(n == sorted.size)
      // each GK clip's RANK sits within eps*n (+1 interpolation slack)
      // of its target rank — the digest's guarantee, applied to the
      // two cut points the winsorize consumes
      for ((clip, p) <- Seq((lo, 0.25), (hi, 0.75))) {
        val rank = sorted.count(_ <= clip)
        assert(math.abs(rank - p * n) <= eps * n + 1,
          s"$flag p$p clip $clip at rank $rank of $n")
      }
      // and the winsorized means agree to the tail-mass envelope: the
      // clip differences act on at most ~2*eps of the mass at the
      // clipped magnitudes — loose but honest fixture bound
      val exMean = exact(flag)._5
      assert(math.abs(gkMean - exMean) <= math.max(1.0, 0.05 * exMean),
        s"$flag gk $gkMean vs exact $exMean")
    }
  }
}
