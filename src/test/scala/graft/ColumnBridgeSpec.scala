package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.{Sampling, TextClean}

/** graft's Column functions carry their Catalyst expressions directly:
  * they work on any session, no same-named function in a session's
  * registry can replace them, and building one writes nothing to a
  * registry. */
class ColumnBridgeSpec extends SparkSpec {

  private def registered(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.listFunction().toSet

  test("graft Column functions compute on a fresh session with nothing registered") {
    val s = spark.newSession()
    val docs = s.createDataFrame(Seq((1L, "cafe\u0301", 10.0),
      (2L, "abc", 20.0), (3L, "xyz", 30.0))).toDF("id", "t", "w")
    val sampled = Sampling.weightedSample(docs, "id", col("w"), k = 2, seed = 7)
      .select(col("id")).collect().map(_.getLong(0))
    assert(sampled.length == 2 && sampled.forall(Set(1L, 2L, 3L)))
    val row = docs.filter(col("id") === 1L).select(
      TextClean.normalizeNfc(col("t")),
      PolyHashF.poly_hash(lit("abc")),
      VectorFunctions.vec_dot(array(lit(1.0), lit(2.0), lit(3.0)),
        array(lit(4.0), lit(5.0), lit(6.0))),
      KMeansAssignExprs.nearestCell(array(lit(1L), lit(30L)),
        Array(Array(31L, 0L), Array(0L, 31L))).getField("c")).head()
    assert(row.getString(0) == "caf\u00e9")
    assert(row.getLong(1) == 96354L)
    assert(row.getDouble(2) == 32.0)
    assert(row.getLong(3) == 1L)
  }

  test("a same-named user function does not replace a graft Column function") {
    val s = spark.newSession()
    s.udf.register("poly_hash", (_: String) => 7L)
    s.udf.register("vec_dot", (_: Seq[Double], _: Seq[Double]) => -1.0)
    val row = s.range(1).select(PolyHashF.poly_hash(lit("abc")),
      VectorFunctions.vec_dot(array(lit(1.0), lit(2.0), lit(3.0)),
        array(lit(4.0), lit(5.0), lit(6.0)))).head()
    assert(row.getLong(0) == 96354L)
    assert(row.getDouble(1) == 32.0)
    // the user's own functions still answer to their names
    assert(s.sql("SELECT poly_hash('abc')").head().getLong(0) == 7L)
  }

  test("building and running every graft Column function registers nothing") {
    val s = spark.newSession()
    val before = (registered(s), registered(spark))
    val df = s.createDataFrame(Seq(("b", 2L, 0.25, Seq(1.0, 0.0), Seq(1L, 30L)),
      ("a", 1L, 0.75, Seq(0.0, 1.0), Seq(30L, 1L))))
      .toDF("t", "id", "x", "v", "vq")
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
    bloom.putLong(1L)
    val cen = Array(Array(31L, 0L), Array(0L, 31L))
    val planes = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    df.select(
      PolyHashF.poly_hash(col("t")),
      UnicodeNormF.nfc_normalize(col("t")),
      UnicodeNormF.nfkc_normalize(col("t")),
      VectorFunctions.vec_dot(col("v"), col("v")),
      BloomFunctions.bloom_might_contain(col("id"),
        lit(BloomFunctions.serialize(bloom))),
      StringSim.jaro_winkler(col("t"), lit("a")),
      ScriptGuard.containsWsFreeScript(col("t")),
      CharNGramsExpr.grams(col("t"), 2),
      HyperplaneSigs.sigs(col("v"), planes, 1),
      BandExprs.bandOf(col("x"), Array(0.5), desc = false),
      BandExprs.bandFrac(col("x"), Array(0.5), desc = true, 2),
      KMeansAssignExprs.nearestCell(col("vq"), cen),
      KMeansAssignExprs.nearestCells(col("vq"), cen, 2)).collect()
    val sketches = df.agg(
      BottomK.bottom_k(col("t"), col("id"), 1).as("bk"),
      HeavyHitters.heavy_hitters(col("t"), 4).as("hh"),
      QuantileSketch.gk_sketch_agg(col("x"), 0.01).as("gk"),
      CountMin.count_min(col("t"), 16, 2).as("cm"))
    sketches.select(
      HeavyHitters.heavy_hitters_merge(col("hh"), 4),
      QuantileSketch.gk_union_agg(col("gk")).as("gk"),
      CountMin.count_min_merge(col("cm"), 16, 2)).collect()
    sketches.select(
      QuantileSketch.gk_quantiles(col("gk"), array(lit(0.5))),
      CountMin.estimate(col("cm"), lit("a"), 16, 2)).collect()
    assert((registered(s), registered(spark)) == before)
  }
}
