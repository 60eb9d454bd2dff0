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

  test("registrations are bounded: many distinct models don't accumulate forever") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val before = reg.listFunction().count(_.funcName.startsWith("kmq_"))
    // churn 40 distinct single-centroid models through the cache
    val df = Seq((1L, Seq(0.0, 0.0))).toDF("id", "embedding")
    (1 to 40).foreach { i =>
      val mi = KMeansQuant.Model(Array(Array(i.toLong, 0L), Array(0L, i.toLong)))
      df.select(KMeansQuant.cellOf(col("embedding"), mi)).collect()
    }
    val after = reg.listFunction().count(_.funcName.startsWith("kmq_"))
    assert(after <= before + 16,
      s"registry grew unboundedly: $before -> $after kmq_ functions")
    // an evicted model re-registers transparently on next use
    val m1 = KMeansQuant.Model(Array(Array(1L, 0L), Array(0L, 1L)))
    val got = df.select(KMeansQuant.cellOf(col("embedding"), m1).as("c"))
      .head().getLong(0)
    assert(got == 0L)
  }

  test("wrong-typed input fails at analysis, not with reinterpreted bytes") {
    // the kmq_* names live in the session FunctionRegistry; without
    // checkInputDataTypes an array<double> child reaches toLongArray,
    // which reinterprets raw bytes into garbage cell ids (advisor r12)
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

  test("deepHashCode-colliding models register under distinct names and both compute correctly") {
    // Long.hashCode(0) == Long.hashCode(4294967297L) == 0, so these two
    // matrices collide under Arrays.deepHashCode — the old 32-bit name
    // would silently rebind one name across BOTH models (advisor r12);
    // the SHA-256 content digest keeps them distinct.
    val mA = KMeansQuant.Model(Array(Array(0L, 0L), Array(1L, 1L)))
    val mB = KMeansQuant.Model(Array(Array(4294967297L, 4294967297L), Array(1L, 1L)))
    assert(java.util.Arrays.deepHashCode(mA.centroids.asInstanceOf[Array[AnyRef]])
      == java.util.Arrays.deepHashCode(mB.centroids.asInstanceOf[Array[AnyRef]]),
      "fixture must actually collide under deepHashCode")
    val df = Seq((1L, Seq(0.0, 0.0))).toDF("id", "embedding") // quantizes to (0,0)
    // build A's column FIRST, register B SECOND, analyze A's column LAST:
    // under a name collision this is exactly the ordering that computed
    // with the wrong centroids
    val colA = KMeansQuant.cellOf(col("embedding"), mA)
    val colB = KMeansQuant.cellOf(col("embedding"), mB)
    val gotA = df.select(colA.as("c")).head().getLong(0)
    val gotB = df.select(colB.as("c")).head().getLong(0)
    assert(gotA == 0L, "model A: (0,0) is exactly centroid 0")
    assert(gotB == 1L, "model B: centroid 1 at dist 2 beats centroid 0 at ~2^64-scale")
  }

  test("eviction is LRU: a constantly-reused model survives a churn of 16 newcomers") {
    val df = Seq((1L, Seq(0.0, 0.0))).toDF("id", "embedding")
    val keeper = KMeansQuant.Model(Array(Array(7L, 7L), Array(900000L, 900000L)))
    // build-but-don't-analyze: this Column resolves only if keeper's
    // name is still registered when we finally select it
    val keeperCol = KMeansQuant.cellOf(col("embedding"), keeper)
    // churn 15 distinct models (queue: keeper + 15 = 16, no eviction yet)
    (101 to 115).foreach { i =>
      val mi = KMeansQuant.Model(Array(Array(i.toLong, 0L), Array(0L, i.toLong)))
      df.select(KMeansQuant.cellOf(col("embedding"), mi)).collect()
    }
    // LRU refresh: re-touching keeper moves it to the queue tail …
    KMeansQuant.cellOf(col("embedding"), keeper)
    // … so one MORE newcomer evicts the oldest churned model, not keeper
    df.select(KMeansQuant.cellOf(col("embedding"),
      KMeansQuant.Model(Array(Array(777L, 0L), Array(0L, 777L))))).collect()
    // under FIFO this select would fail resolution (keeper evicted)
    val got = df.select(keeperCol.as("c")).head().getLong(0)
    assert(got == 0L, "keeper still registered and correct after churn")
  }

  test("a name dropped from the registry re-registers on the next call") {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val cen = Array(Array(31L, 0L), Array(0L, 31L))
    val df = Seq((1L, Seq(1L, 30L))).toDF("id", "vq")
    def cell() = df.select(graft.functions.KMeansAssignExprs
      .nearestCell(col("vq"), cen).as("a")).head().getStruct(0).getLong(0)
    val before = reg.listFunction().map(_.funcName).toSet
    assert(cell() == 1L)
    val added = reg.listFunction().map(_.funcName).filterNot(before).toSeq
    assert(added.size == 1, s"registered $added")
    spark.sql(s"DROP TEMPORARY FUNCTION ${added.head}")
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
