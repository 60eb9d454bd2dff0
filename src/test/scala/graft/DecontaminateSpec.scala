package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sampling}

/** Bloom-path decontamination: containment vs the exact anti-join form
  * (no false negatives, bounded false positives) + expression plumbing. */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  // NOT cached: a cached InMemoryRelation would shadow the parquet scan
  // for every other suite sharing the session (PlanSpec asserts pushdown
  // on this very table).
  private lazy val docs = Tables.documents(spark, sf001)
  private lazy val bench =
    Sampling.contentHashSample(docs, col("text"), 0.1, seed = 7L)

  test("bloom decontamination never keeps a row the exact form drops") {
    val exactKept = Dedup.decontaminate(docs, "text", bench, "text")
      .select($"doc_id").as[Long].collect().toSet
    val bloomKept = Dedup.decontaminateBloom(docs, "text", bench, "text")
      .select($"doc_id").as[Long].collect().toSet
    // bloom may drop extra rows (false positives) but every bloom-kept
    // row must be exact-kept: a kept contaminated row would be a false
    // negative, which the filter guarantees cannot happen.
    assert(bloomKept.subsetOf(exactKept))
    // and the haircut is bounded: fpp=1% on a few hundred rows
    assert(exactKept.size - bloomKept.size <= math.max(5, exactKept.size / 20))
  }

  test("null-text rows survive the bloom path like the exact path") {
    val corpus = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val b = Seq(("gamma delta"), (null.asInstanceOf[String])).toDF("text")
    val kept = Dedup.decontaminateBloom(corpus, "text", b, "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L))
  }

  test("a contaminated row is dropped even when reordered (bag fingerprint)") {
    val corpus = Seq((1L, "the quick brown fox"), (2L, "unrelated text here"))
      .toDF("doc_id", "text")
    val b = Seq("fox brown quick the").toDF("text")
    val kept = Dedup.decontaminateBloom(corpus, "text", b, "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(2L))
  }

  test("ngram form drops a partial embedding the fingerprint form keeps") {
    val corpus = Seq(
      (1L, "intro words then aaa bbb ccc ddd eee and a tail"),
      (2L, "totally unrelated content with different tokens entirely"))
      .toDF("doc_id", "text")
    val b = Seq("aaa bbb ccc ddd eee").toDF("text")
    // doc 1 EMBEDS the benchmark item: its bag-of-words differs (extra
    // words), so whole-document fingerprinting keeps it...
    val fpKept = Dedup.decontaminate(corpus, "text", b, "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(fpKept === Set(1L, 2L))
    // ...but it shares the 5-gram, so the n-gram form catches it.
    val ngramKept = Dedup.decontaminateNgram(corpus, "doc_id", "text",
        b, "text", n = 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(ngramKept === Set(2L))
  }

  test("ngram bloom: containment vs exact ngram, zero corpus shuffle") {
    val exactKept = Dedup.decontaminateNgram(docs, "doc_id", "text",
        bench, "text", n = 5)
      .select($"doc_id").as[Long].collect().toSet
    val bloomKept = Dedup.decontaminateNgramBloom(docs, "text",
        bench, "text", n = 5)
      .select($"doc_id").as[Long].collect().toSet
    // no false negatives: bloom may over-drop, never under-drop
    assert(bloomKept.subsetOf(exactKept))
    assert(exactKept.size - bloomKept.size <= math.max(5, exactKept.size / 20))
    // the corpus check is a pure scan-stage filter: no Exchange anywhere
    val plan = Dedup.decontaminateNgramBloom(docs, "text", bench, "text",
      n = 5).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"corpus was shuffled:\n$plan")
  }

  test("ngram: null-text and shorter-than-n docs are never flagged") {
    val corpus = Seq(
      (1L, "one two"), (2L, null.asInstanceOf[String]),
      (3L, "aaa bbb ccc ddd eee"))
      .toDF("doc_id", "text")
    val b = Seq("aaa bbb ccc ddd eee", null.asInstanceOf[String]).toDF("text")
    for (kept <- Seq(
        Dedup.decontaminateNgram(corpus, "doc_id", "text", b, "text", n = 5)
          .select($"doc_id").as[Long].collect().toSet,
        Dedup.decontaminateNgramBloom(corpus, "text", b, "text", n = 5)
          .select($"doc_id").as[Long].collect().toSet))
      assert(kept === Set(1L, 2L))
  }

  test("bloom_might_contain works from SQL with an embedded literal") {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bloom.putLong(42L)
    val bytes = graft.functions.BloomFunctions.serialize(bloom)
    val hex = bytes.map("%02X".format(_)).mkString
    val r = withGraftSql(_.sql(
      s"SELECT bloom_might_contain(42L, X'$hex') a, " +
        s"bloom_might_contain(43L, X'$hex') b").head())
    assert(r.getBoolean(0) === true)
    // 43 not inserted: overwhelmingly likely false at fpp=1%
    assert(r.getBoolean(1) === false)
  }

  test("source overlap counts shared fingerprints, reordered copies included") {
    val docs = Seq(
      ("A", "alpha beta gamma"), ("A", "one two"), ("A", "solo a"),
      ("B", "gamma beta alpha"), // reordered copy of A's first doc
      ("B", "one two"), ("B", "solo b"),
      ("C", "one two")).toDF("source", "text")
    val got = Dedup.sourceOverlap(docs, "source", "text")
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // A∩B = {alpha-beta-gamma bag, one-two} = 2; margins 3 and 3
    assert(got(("A", "B"))._3 == 2 && got(("A", "B"))._4 == 3)
    assert(got(("A", "B"))._6 == 0.5) // 2 / (3 + 3 - 2)
    assert(got(("A", "C"))._3 == 1 && got(("B", "C"))._3 == 1)
    assert(got(("A", "C"))._6 == BigDecimal(1.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // pairs are unordered: only (a < b) rows exist
    assert(got.keys.forall { case (a, b) => a < b })
  }

  test("source overlap: duplicate rows within one source count once") {
    val docs = Seq(
      ("A", "same text"), ("A", "same text"), ("B", "same text"))
      .toDF("source", "text")
    val got = Dedup.sourceOverlap(docs, "source", "text")
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(got.length == 1)
    assert(got.head._3 == 1 && got.head._4 == 1 && got.head._5 == 1)
    assert(got.head._6 == 1.0)
  }
}
