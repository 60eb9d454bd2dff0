package graft

import org.apache.spark.sql.functions._
import graft.functions.{PolyHashF, PolyHashKernel}
import graft.operators.Dsir
import org.apache.spark.unsafe.types.UTF8String

/** DSIR invariants beyond the oracle: the poly_hash kernel's definition,
  * weight equality against a driver-side brute-force of the same model,
  * discriminative direction, and the Gumbel resampler's determinism +
  * seed sensitivity. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val B = 64

  private def ph(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  test("poly_hash kernel matches the documented recurrence incl. unicode") {
    for (s <- Seq("", "hello", "héllo 世界", "a𝄞b", "the quick brown fox")) {
      assert(PolyHashKernel.hash(UTF8String.fromString(s)) == ph(s), s)
    }
  }

  test("poly_hash through the registry (codegen path) == kernel") {
    val in = Seq("", "x", "abc def", "日本語テキスト", "a𝄞b")
    val got = in.toDF("s").select(PolyHashF.poly_hash(col("s")))
      .as[Long].collect().toSeq
    assert(got == in.map(ph))
  }

  private def corpus = Seq(
    (1L, "alpha beta gamma", "en"),
    (2L, "alpha beta delta", "en"),
    (3L, "zeta eta theta", "fr"),
    (4L, "alpha beta gamma delta", "fr"), // target-like vocabulary, raw lang
    (5L, "zeta eta", "fr")
  ).toDF("doc_id", "text", "lang")

  test("weights equal a driver-side brute force of the same model") {
    val got = Dsir.weights(corpus, "doc_id", "text",
        col("lang") === "en", B)
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq

    // brute force: same grams, same hash, same smoothing, same nano grid
    val rows = Seq(
      (1L, "alpha beta gamma", true), (2L, "alpha beta delta", true),
      (3L, "zeta eta theta", false), (4L, "alpha beta gamma delta", false),
      (5L, "zeta eta", false))
    def grams(t: String): Seq[String] = {
      val w = t.toLowerCase.split("\\s+").toSeq
      w ++ w.zip(w.drop(1)).map { case (a, b) => s"$a $b" }
    }
    val all = rows.flatMap { case (id, t, tg) =>
      grams(t).map(g => (id, tg, ph(g) % B)) }
    val r = all.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val t = all.filter(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val rn = r.values.sum
    val tn = t.values.sum
    def dq(b: Long): Long =
      math.round((math.log((t.getOrElse(b, 0L) + 1.0) / (tn + B).toDouble) -
        math.log((r.getOrElse(b, 0L) + 1.0) / (rn + B).toDouble)) * 1e9)
    val want = rows.map { case (id, txt, _) =>
      val gs = grams(txt).map(g => ph(g) % B)
      val w = gs.map(dq).sum
      (id, gs.size.toLong,
        BigDecimal(w.toDouble / 1e9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == want)
  }

  test("weights separate target-like from non-target-like vocabulary") {
    val w = Dsir.weights(corpus, "doc_id", "text", col("lang") === "en", B)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // doc 4 reuses the en vocabulary, doc 3/5 use the fr-only one
    assert(w(4L) > w(3L))
    assert(w(4L) > w(5L))
  }

  test("selectTopK returns k rows in weight order") {
    val w = Dsir.weights(corpus, "doc_id", "text", col("lang") === "en", B)
    val top = Dsir.selectTopK(w, "doc_id", 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(top.size == 3)
    assert(top.map(_._3) == top.map(_._3).sorted.reverse)
  }

  test("gumbelTopK is deterministic per seed and seed-sensitive") {
    val w = Dsir.weights(corpus, "doc_id", "text", col("lang") === "en", B)
      .localCheckpoint()
    val a1 = Dsir.gumbelTopK(w, "doc_id", 3, seed = 7)
      .as[(Long, Double, Double)].collect().toSeq
    val a2 = Dsir.gumbelTopK(w, "doc_id", 3, seed = 7)
      .as[(Long, Double, Double)].collect().toSeq
    assert(a1 == a2)
    val b1 = Dsir.gumbelTopK(w, "doc_id", 3, seed = 8)
      .as[(Long, Double, Double)].collect().toSeq
    // same sample size, keys differ (noise resampled)
    assert(b1.size == 3)
    assert(a1.map(_._3) != b1.map(_._3))
  }
}
