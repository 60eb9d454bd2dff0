package graft

import org.apache.spark.sql.functions._
import graft.operators.Salting

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("ScaleBench.generate rejects scales past the alphabet-rotation wrap") {
    // at scale > 26 copy k and k-26 would be byte-identical text — the
    // quadratic N-clone artifact the construction exists to avoid must
    // fail loudly, before any generation work
    intercept[IllegalArgumentException] {
      ScaleBench.generate(spark, sf001, "target/never-written", 27)
    }
  }

  test("salted count equals plain groupBy count") {
    val li = Tables.lineitem(spark, sf001)
    val plain = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val salted = Salting.saltedCount(li, Seq("l_returnflag"))
      .as[(String, Long)].collect().toMap
    assert(salted === plain)
  }

  test("salted cent-sum equals plain exact-cents sum") {
    val li = Tables.lineitem(spark, sf001)
    val plain = li.groupBy($"l_returnflag")
      .agg((sum(round($"l_extendedprice" * 100, 0).cast("long"))
        .cast("double") / 100.0).as("t"))
      .as[(String, Double)].collect().toMap
    val salted = Salting.saltedCentSum(li, Seq("l_returnflag"), "l_extendedprice")
      .as[(String, Double)].collect().toMap
    assert(salted === plain)
  }

  test("salted join equals plain join") {
    val li = Tables.lineitem(spark, sf001).select($"l_orderkey", $"l_quantity")
    val o = Tables.orders(spark, sf001).select($"o_orderkey", $"o_orderstatus")
    val plain = li.join(o, $"l_orderkey" === $"o_orderkey").count()
    val (big, small, saltCol) = Salting.saltedJoinSides(li, o, 8)
    val salted = big.join(small,
      big("l_orderkey") === small("o_orderkey") &&
      big(saltCol) === small(saltCol)).count()
    assert(salted === plain)
  }

  test("saltedJoin (complete form) row-equivalent to plain join, salt dropped") {
    val li = Tables.lineitem(spark, sf001)
      .select($"l_orderkey".as("okey"), $"l_quantity")
    val o = Tables.orders(spark, sf001)
      .select($"o_orderkey".as("okey"), $"o_orderstatus")
    val plain = li.join(o, Seq("okey"))
      .groupBy($"okey", $"o_orderstatus").count()
      .collect().toSet
    val salted = Salting.saltedJoin(li, o, Seq("okey"), salts = 8)
    assert(!salted.columns.contains("__salt"))
    assert(salted.groupBy($"okey", $"o_orderstatus").count()
      .collect().toSet === plain)
  }
}
