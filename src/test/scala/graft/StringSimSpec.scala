package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{JaroWinklerKernel, StringSim}

/** Jaro-Winkler expression: classic published values, the DuckDB empty
  * convention, codegen==interpreted, and analysis-time type checking. */
class StringSimSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinklerKernel.similarity(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("classic Winkler values") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("JELLYFISH", "SMELLYFISH") - 0.8962962962962964) < 1e-12)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("abc", "xyz") == 0.0)
  }

  test("empty-side convention matches the oracle (DuckDB): always 0") {
    assert(jw("", "") == 0.0)
    assert(jw("", "a") == 0.0)
    assert(jw("a", "") == 0.0)
  }

  test("codegen path == kernel, null propagates") {
    val df = Seq(("MARTHA", "MARHTA"), ("small ring", "small ping"),
      ("red widget", "red widgets"), (null, "x"))
      .toDF("a", "b")
      .select(StringSim.jaro_winkler($"a", $"b").as("jw"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val want = Seq(Some(jw("MARTHA", "MARHTA")),
      Some(jw("small ring", "small ping")),
      Some(jw("red widget", "red widgets")), None)
    assert(got.toSeq == want)
    assert(math.abs(got(1).get - 0.96) < 1e-12)
  }

  test("non-string input fails at analysis, not with garbage") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      withGraftSql(_.createDataFrame(Seq((1, 2))).toDF("a", "b")
        .select(expr("jaro_winkler(a, b)")).collect())
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }

  test("jaroWinklerPairs guard trips on an oversized non-dictionary input") {
    val big = spark.range(200).select($"id", concat(lit("name"), $"id").as("s"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.FuzzyJoin.jaroWinklerPairs(big, "id", "s", 0.9,
        maxExactRows = 100L).count()
    }
    assert(e.getMessage.contains("dictionary"))
  }
}
