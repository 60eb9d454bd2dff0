package graft

import org.apache.spark.sql.functions._
import graft.operators.KMeansQuant

/** The codegen'd nearest-cell expressions must be bit-identical to the
  * semantics of the HOF composition they replaced: exact integer
  * distances, ties to the LOWEST cell id, NULL on any null element or a
  * dimension mismatch, and `cellsOf(...)(0) == cellOf(...)`. Checked
  * against a driver-side brute force on adversarial vectors (exact
  * ties, negative coordinates, boundary rounding). */
class KMeansAssignSpec extends SparkSpec {

  import spark.implicits._

  private val m = KMeansQuant.Model(Array(
    Array(0L, 0L, 0L),
    Array(1000000L, 0L, 0L),
    Array(1000000L, 0L, 0L), // duplicate of cell 1: every tie must pick 1
    Array(-500000L, 250000L, -250000L)))

  private def bruteDists(v: Array[Long]): Array[Long] =
    m.centroids.map(c => c.zip(v).map { case (a, b) =>
      val d = b - a; d * d
    }.sum)

  private val vecs: Seq[Seq[Double]] = Seq(
    Seq(0.0, 0.0, 0.0),
    Seq(0.5, 0.0, 0.0),        // exact midpoint of cells 0 and 1/2 → 0
    Seq(1.0, 0.0, 0.0),        // exact hit on the duplicated centroid → 1
    Seq(0.7500004999, -0.25, 0.25),
    Seq(-0.49999951, 0.2500005, -0.25),
    Seq(1e-7, -1e-7, 4.9999e-7))

  test("hard assignment matches driver-side brute force (ties → lowest id)") {
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "embedding")
    val got = KMeansQuant.assign(df, "id", "embedding", m)
      .orderBy("id").collect()
    vecs.zipWithIndex.foreach { case (v, i) =>
      val q = KMeansQuant.quantizeVec(v)
      val dists = bruteDists(q)
      val bestD = dists.min
      val bestC = dists.indexOf(bestD).toLong
      assert(got(i).getLong(1) == bestC, s"vector $i cell")
      assert(got(i).getLong(2) == bestD, s"vector $i dist2")
    }
  }

  test("cellsOf orders by (distance, cell id) and starts at the hard assign") {
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "embedding")
    val got = df.select(col("id"),
        KMeansQuant.cellOf(col("embedding"), m).as("hard"),
        KMeansQuant.cellsOf(col("embedding"), m, 4).as("cells"))
      .orderBy("id").collect()
    vecs.zipWithIndex.foreach { case (v, i) =>
      val dists = bruteDists(KMeansQuant.quantizeVec(v))
      val expect = dists.zipWithIndex
        .map { case (d, c) => (d, c.toLong) }.sorted.map(_._2).toSeq
      val cells = got(i).getSeq[Long](2)
      assert(cells == expect, s"vector $i full order")
      assert(got(i).getLong(1) == cells.head, s"vector $i hard==cells(0)")
    }
  }

  test("null element and dimension mismatch yield NULL, not a fabricated cell") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, null, 0.0)),
      (2L, Seq[java.lang.Double](1.0, 0.0)), // 2-dim vs 3-dim model
      (3L, Seq[java.lang.Double](1.0, 0.0, 0.0))
    ).toDF("id", "embedding")
    val got = df.select(col("id"),
        KMeansQuant.cellOf(col("embedding"), m).as("cell"),
        KMeansQuant.cellsOf(col("embedding"), m, 2).as("cells"))
      .orderBy("id").collect()
    assert(got(0).isNullAt(1) && got(0).isNullAt(2), "null element")
    assert(got(1).isNullAt(1) && got(1).isNullAt(2), "dim mismatch")
    assert(!got(2).isNullAt(1) && got(2).getLong(1) == 1L, "clean row still assigns")
  }

  test("a ragged centroid matrix fails at construction, not in an executor loop") {
    val ragged = Array(Array(1L, 2L, 3L), Array(1L))
    val dummy = org.apache.spark.sql.catalyst.expressions.Literal.create(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(0L, 0L, 0L)),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    intercept[IllegalArgumentException] {
      graft.functions.NearestCellExpr(dummy, ragged)
    }
    intercept[IllegalArgumentException] {
      graft.functions.NearestCellsExpr(dummy, ragged, 1)
    }
  }

  test("wrong-typed input fails at analysis, not with reinterpreted bytes") {
    // without checkInputDataTypes an array<double> child would reach
    // toLongArray, which reinterprets raw bytes into garbage cell ids
    val raw = Seq((1L, Seq(0.5, 0.5))).toDF("id", "v") // array<double>, unquantized
    val c = graft.functions.KMeansAssignExprs.nearestCell(
      col("v"), Array(Array(0L, 0L), Array(1L, 1L)))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      raw.select(c).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"), e.getMessage)
    val c2 = graft.functions.KMeansAssignExprs.nearestCells(
      col("v"), Array(Array(0L, 0L), Array(1L, 1L)), 2)
    intercept[org.apache.spark.sql.AnalysisException] {
      raw.select(c2).collect()
    }
  }

  test("hash-colliding models each assign with their own centroids") {
    // Long.hashCode(0) == Long.hashCode(4294967297L) == 0, so these two
    // matrices collide under Arrays.deepHashCode
    val mA = KMeansQuant.Model(Array(Array(0L, 0L), Array(1L, 1L)))
    val mB = KMeansQuant.Model(Array(Array(4294967297L, 4294967297L), Array(1L, 1L)))
    assert(java.util.Arrays.deepHashCode(mA.centroids.asInstanceOf[Array[AnyRef]])
      == java.util.Arrays.deepHashCode(mB.centroids.asInstanceOf[Array[AnyRef]]),
      "fixture must actually collide under deepHashCode")
    val df = Seq((1L, Seq(0.0, 0.0))).toDF("id", "embedding") // quantizes to (0,0)
    // build A's column first, B's second, analyze A's last
    val colA = KMeansQuant.cellOf(col("embedding"), mA)
    val colB = KMeansQuant.cellOf(col("embedding"), mB)
    val gotA = df.select(colA.as("c")).head().getLong(0)
    val gotB = df.select(colB.as("c")).head().getLong(0)
    assert(gotA == 0L, "model A: (0,0) is exactly centroid 0")
    assert(gotB == 1L, "model B: centroid 1 at dist 2 beats centroid 0 at ~2^64-scale")
  }

  test("40 churned models each assign with their own centroids") {
    val df = Seq((1L, Seq(1e-5, 0.0))).toDF("id", "embedding") // quantizes to (10,0)
    (1 to 40).foreach { i =>
      val mi = KMeansQuant.Model(Array(Array(i.toLong, 0L), Array(0L, 0L)))
      val got = df.select(KMeansQuant.cellOf(col("embedding"), mi)).head().getLong(0)
      // (10 - i)^2 against 100: centroid 0 wins up to the tie at i = 20
      assert(got == (if (i <= 20) 0L else 1L), s"model $i")
    }
  }

  test("a column built before a churn of models resolves with its own model") {
    val df = Seq((1L, Seq(1e-5, 0.0))).toDF("id", "embedding") // quantizes to (10,0)
    val keeper = KMeansQuant.Model(Array(Array(9L, 0L), Array(900000L, 900000L)))
    val keeperCol = KMeansQuant.cellOf(col("embedding"), keeper) // built, not analyzed
    (101 to 116).foreach { i =>
      val mi = KMeansQuant.Model(Array(Array(i.toLong, 0L), Array(0L, i.toLong)))
      // (i - 10)^2 against 100 + i^2: centroid 0 wins for every i > 0
      assert(df.select(KMeansQuant.cellOf(col("embedding"), mi)).head().getLong(0) == 0L,
        s"model $i")
    }
    assert(df.select(keeperCol.as("c")).head().getLong(0) == 0L)
  }

  test("nearestCell registers no function and resolves on every call") {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val cen = Array(Array(31L, 0L), Array(0L, 31L))
    val df = Seq((1L, Seq(1L, 30L))).toDF("id", "vq")
    def cell() = df.select(graft.functions.KMeansAssignExprs
      .nearestCell(col("vq"), cen).as("a")).head().getStruct(0).getLong(0)
    val before = reg.listFunction().map(_.funcName).toSet
    assert(cell() == 1L)
    val added = reg.listFunction().map(_.funcName).filterNot(before).toSeq
    assert(added.isEmpty, s"registered $added")
    assert(cell() == 1L)
  }

  test("interpreted eval path agrees with codegen (expression evaluated standalone)") {
    // force the no-codegen path by eval'ing the expression directly
    val cen = m.centroids
    vecs.foreach { v =>
      val q = KMeansQuant.quantizeVec(v)
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(q)
      val row = graft.functions.NearestCellExpr(
        org.apache.spark.sql.catalyst.expressions.Literal.create(arr,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)), cen)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val dists = bruteDists(q)
      assert(row.getLong(0) == dists.indexOf(dists.min).toLong)
      assert(row.getLong(1) == dists.min)
      val cells = graft.functions.NearestCellsExpr(
        org.apache.spark.sql.catalyst.expressions.Literal.create(arr,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)), cen, 3)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      val expect = dists.zipWithIndex
        .map { case (d, c) => (d, c.toLong) }.sorted.map(_._2).take(3).toSeq
      assert(cells == expect)
    }
  }
}
