package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bpe, KMeansQuant, UnigramLM}

/** Corpus-modeling family (KMeansQuant / UnigramLM / Bpe): closed-form
  * checks against independent in-memory reimplementations, determinism
  * under partitioning, and the documented edge semantics (empty
  * clusters, away-from-zero grid rounding, non-overlapping merge
  * folds). The fixture-level value checks live in the DuckDB oracles
  * (CorpusQueries). */
class CorpusModelSpec extends SparkSpec {
  import spark.implicits._

  // ---- KMeansQuant ----------------------------------------------------

  private def vecs(rows: (Long, Seq[Double])*) =
    rows.toDF("vec_id", "embedding")

  test("kmeans: every vector lands on its truly nearest centroid (ties to lowest cluster)") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 3, iters = 2)
    val got = KMeansQuant.assign(emb, "vec_id", "embedding", m)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val raw = emb.select($"vec_id",
        $"embedding".cast("array<double>")).as[(Long, Seq[Double])].collect()
    assert(raw.nonEmpty)
    raw.foreach { case (id, v) =>
      val q = v.map(x => BigDecimal(x * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val dists = m.centroids.map(c =>
        c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      val best = dists.min
      assert(got(id)._2 == best, s"vec $id dist2")
      assert(got(id)._1 == dists.indexOf(best).toLong, s"vec $id cluster")
    }
  }

  test("kmeans: fit is partitioning-invariant and rerun-stable") {
    val emb = Tables.embeddings(spark, sf001)
    val a = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val b = KMeansQuant.fit(emb.repartition(7), "vec_id", "embedding",
      k = 4, iters = 2)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
  }

  test("kmeans: an emptied cluster keeps its previous centroid") {
    // ids 0 and 1 share coordinates -> init centroids are identical; the
    // tie-break sends every point to cluster 0, so cluster 1 is empty in
    // every update and must keep its (initial) centroid.
    val emb = vecs(0L -> Seq(0.0), 1L -> Seq(0.0), 2L -> Seq(10.0))
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 2, iters = 1)
    // round 1: every point ties-or-prefers cluster 0, which moves to
    // mean(0, 0, 10) = 3.333333; cluster 1 had no members and must still
    // hold its initial coordinate instead of crashing or zeroing.
    assert(m.centroids(0).toSeq == Seq(3333333L))
    assert(m.centroids(1).toSeq == Seq(0L))
  }

  test("kmeans: micro-grid rounds half away from zero (Spark round semantics)") {
    val emb = vecs(0L -> Seq(-0.0000005), 1L -> Seq(0.0000015))
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 2, iters = 0)
    assert(m.centroids(0).toSeq == Seq(-1L))
    assert(m.centroids(1).toSeq == Seq(2L))
  }

  test("kmeans ivf: probing every cell equals brute-force top-k") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 3, iters = 2)
    val all = KMeansQuant.ivfTopK(emb, "vec_id", "embedding", m,
      queryId = 0L, k = 10, nprobe = 3).as[(Long, Double)].collect().toSeq
    val brute = operators.Similarity.bruteForceTopK(emb, "vec_id",
      "embedding", queryId = 0L, k = 10).as[(Long, Double)].collect().toSeq
    assert(all == brute && all.size == 10)
  }

  test("kmeans ivf: fewer probes return a subset of the full probe's candidate set") {
    val emb = Tables.embeddings(spark, sf001)
    val n = emb.count().toInt // uncut: k >= corpus so the cell filter is
                              // the only thing separating the probes
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    def ids(nprobe: Int) = KMeansQuant.ivfTopK(emb, "vec_id", "embedding",
      m, queryId = 0L, k = n, nprobe = nprobe)
      .as[(Long, Double)].collect().map(_._1).toSet
    val all = ids(4)
    assert(all.size == n - 1, s"full probe covers all but the query row")
    assert(ids(2).subsetOf(all) && ids(2).size < all.size)
  }

  test("kmeans ivf: the served cell-partitioned layout equals the in-plan probe") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft-kivf").toString + "/idx"
    KMeansQuant.buildIndex(emb, "vec_id", "embedding", m, path)
    val qv = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).as[Seq[Double]].head()
    val served = KMeansQuant.topKFromIndex(spark, path, m, qv,
      k = 10, nprobe = 2, idCol = "vec_id", vecCol = "embedding",
      excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    val inPlan = KMeansQuant.ivfTopK(emb, "vec_id", "embedding", m,
      queryId = 0L, k = 10, nprobe = 2).as[(Long, Double)].collect().toSeq
    assert(served === inPlan)
    // the layout really is cell-partitioned
    val cellDirs = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs > 0 && cellDirs <= m.k, s"$cellDirs cell dirs")
  }

  test("q_ivf_topk equals the in-plan ivfTopK at nprobe 3, row for row") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val served = SparkEntry.queries("q_ivf_topk")(spark, sf001)
      .as[(Long, Double)].collect().toSeq
    val inPlan = KMeansQuant.ivfTopK(emb, "vec_id", "embedding", m,
      queryId = 0L, k = 10, nprobe = 3).as[(Long, Double)].collect().toSeq
    assert(served === inPlan && served.nonEmpty)
  }

  test("q_ivf_build's cell histogram matches assign's per-cluster counts") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val hist = SparkEntry.queries("q_ivf_build")(spark, sf001)
      .select($"cell".cast("long"), $"n").as[(Long, Long)].collect().toSeq
    val assigned = KMeansQuant.assign(emb, "vec_id", "embedding", m)
      .groupBy($"cluster").count().orderBy($"cluster")
      .as[(Long, Long)].collect().toSeq
    assert(hist === assigned)
    assert(hist.map(_._2).sum == emb.count())
  }

  test("kmeans ivf: appending under the frozen quantizer equals a full rebuild") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val base = java.nio.file.Files
      .createTempDirectory("graft-kivf-incr").toString
    val full = s"$base/full"; val incr = s"$base/incr"
    KMeansQuant.buildIndex(emb, "vec_id", "embedding", m, full)
    KMeansQuant.buildIndex(emb.filter($"vec_id" % 2 === 0),
      "vec_id", "embedding", m, incr)
    KMeansQuant.appendIndex(emb.filter($"vec_id" % 2 === 1),
      "vec_id", "embedding", m, incr)
    val qv = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).as[Seq[Double]].head()
    def probe(p: String) = KMeansQuant.topKFromIndex(spark, p, m, qv,
      k = 20, nprobe = 2, idCol = "vec_id", vecCol = "embedding",
      excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    assert(probe(incr) === probe(full))
  }

  /** (vec_id → cell) content of a served layout — the lifecycle specs'
    * bit-level comparison unit (file split may differ; rows must not). */
  private def census(path: String): Map[Long, Long] =
    graft.sources.PartitionedParquet.read(spark, path)
      .select($"vec_id", $"cell".cast("long"))
      .as[(Long, Long)].collect().toMap

  test("kmeans ivf: delete equals a never-added build; untouched cells keep their files") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val base = java.nio.file.Files
      .createTempDirectory("graft-kivf-del").toString
    val mut = s"$base/mut"; val fresh = s"$base/fresh"
    KMeansQuant.buildIndex(emb, "vec_id", "embedding", m, mut)
    val delIds = emb.filter($"vec_id" % 7 === 3)
    val touchedCells = KMeansQuant
      .assign(delIds, "vec_id", "embedding", m)
      .select($"cluster".cast("long")).as[Long].collect().toSet
    // snapshot untouched cells' file listing before the delete
    def files(cell: Long): Seq[(String, Long)] = {
      val d = new java.io.File(s"$mut/cell=$cell")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length())).toSeq.sorted
    }
    val untouched = (0L until m.k.toLong).filterNot(touchedCells)
    val before = untouched.map(c => c -> files(c)).toMap
    KMeansQuant.deleteFromIndex(delIds.select($"vec_id"), "vec_id", mut)
    KMeansQuant.buildIndex(emb.filter($"vec_id" % 7 =!= 3),
      "vec_id", "embedding", m, fresh)
    assert(census(mut) === census(fresh))
    assert(census(mut).keySet.forall(_ % 7 != 3))
    for (c <- untouched)
      assert(files(c) === before(c),
        s"untouched cell $c was rewritten by the delete")
    // deleting unknown ids is a no-op
    KMeansQuant.deleteFromIndex(Seq(999999L).toDF("vec_id"), "vec_id", mut)
    assert(census(mut) === census(fresh))
  }

  test("kmeans ivf: replace makes a deliberately-wrong build bit-indistinguishable") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val base = java.nio.file.Files
      .createTempDirectory("graft-kivf-repl").toString
    val mut = s"$base/mut"; val fresh = s"$base/fresh"
    // wrong on both arms: %5==0 rows missing (insert), %3==0 rows with
    // reversed vectors sitting in wrong cells (update)
    val corrupted = emb.filter($"vec_id" % 5 =!= 0)
      .withColumn("embedding", when($"vec_id" % 3 === 0,
        reverse($"embedding")).otherwise($"embedding"))
    KMeansQuant.buildIndex(corrupted, "vec_id", "embedding", m, mut)
    KMeansQuant.replaceIndex(
      emb.filter($"vec_id" % 3 === 0 || $"vec_id" % 5 === 0)
        .select($"vec_id", $"embedding"),
      "vec_id", "embedding", m, mut)
    KMeansQuant.buildIndex(emb, "vec_id", "embedding", m, fresh)
    assert(census(mut) === census(fresh))
    // the vectors themselves healed, not just the cells: probes agree
    val qv = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).as[Seq[Double]].head()
    def probe(p: String) = KMeansQuant.topKFromIndex(spark, p, m, qv,
      k = 20, nprobe = 2, idCol = "vec_id", vecCol = "embedding",
      excludeId = Some(0L)).as[(Long, Double)].collect().toSeq
    assert(probe(mut) === probe(fresh))
    // duplicate batch ids fail loudly
    val dup = emb.filter($"vec_id" === 1).select($"vec_id", $"embedding")
    val err = intercept[IllegalArgumentException] {
      KMeansQuant.replaceIndex(dup.unionAll(dup), "vec_id", "embedding",
        m, mut)
    }
    assert(err.getMessage.contains("unique"))
  }

  test("kmeans ivf: refit consumes the staleness trip and equals a from-scratch build under the refit model") {
    // double vectors end to end — parquet will not mix float and double
    // files inside one cell partition (widening is exact on the grid)
    val emb = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val base = java.nio.file.Files
      .createTempDirectory("graft-kivf-refit").toString
    val mut = s"$base/mut"; val fresh = s"$base/fresh"
    KMeansQuant.buildIndex(emb, "vec_id", "embedding", m, mut)
    val batch = emb.filter($"vec_id" % 4 === 0)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding".cast("array<double>"), x => x + lit(2.0))
          .as("embedding"))
    KMeansQuant.appendIndex(batch, "vec_id", "embedding", m, mut)
    val union = emb
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .unionAll(batch)
    val qv = union.filter($"vec_id" === 100000L)
      .select($"embedding").as[Seq[Double]].head()
    def recall(model: KMeansQuant.Model): Long =
      KMeansQuant.topKFromIndex(spark, mut, model, qv, k = 10, nprobe = 2,
          idCol = "vec_id", vecCol = "embedding",
          excludeId = Some(100000L))
        .select($"vec_id")
        .join(graft.operators.Similarity.bruteForceTopK(union, "vec_id",
          "embedding", queryId = 100000L, k = 10).select($"vec_id"),
          Seq("vec_id"))
        .count()
    val pre = recall(m)
    val stale = KMeansQuant.stalenessByCell(emb, batch, "vec_id",
        "embedding", m)
      .filter($"stale" === 1L).select($"cluster")
      .as[Long].collect().toSeq.sorted
    assert(stale.nonEmpty, "fixture drift failed to trip the monitor")
    val m2 = KMeansQuant.refitIndex(spark, mut, m, stale,
      "vec_id", "embedding")
    // tripped centroids moved, untouched ones are byte-identical
    stale.foreach(c => assert(
      m2.centroids(c.toInt).toSeq != m.centroids(c.toInt).toSeq, s"cell $c"))
    (0L until m.k.toLong).filterNot(stale.contains).foreach(c => assert(
      m2.centroids(c.toInt).toSeq == m.centroids(c.toInt).toSeq, s"cell $c"))
    // the layout is bit-indistinguishable from a from-scratch build of
    // the union under the refit model
    KMeansQuant.buildIndex(union, "vec_id", "embedding", m2, fresh)
    assert(census(mut) === census(fresh))
    // the refit never degrades the drifted query's probe
    val post = recall(m2)
    assert(post >= pre, s"refit degraded recall: pre=$pre post=$post")
    // guards: empty and out-of-range stale sets fail loudly
    intercept[IllegalArgumentException] {
      KMeansQuant.refitIndex(spark, mut, m2, Seq.empty,
        "vec_id", "embedding")
    }
    intercept[IllegalArgumentException] {
      KMeansQuant.refitIndex(spark, mut, m2, Seq(99L),
        "vec_id", "embedding")
    }
  }

  test("staleness monitor: a shifted append batch trips, in-distribution does not") {
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    def rows(batch: org.apache.spark.sql.DataFrame) =
      KMeansQuant.stalenessByCell(emb, batch, "vec_id", "embedding", m)
        .select($"cluster", $"n_new", $"drift_ratio", $"stale")
        .as[(Long, Long, Double, Long)].collect().toSeq.sortBy(_._1)
    // the reference against itself: every touched cell sits exactly at 1
    val self = rows(emb)
    assert(self.forall { case (_, n, r, st) =>
      n > 0 && r == 1.0 && st == 0L }, s"self-batch not ratio 1: $self")
    // an in-distribution subset stays under the trip line everywhere
    val subset = rows(emb.filter($"vec_id" % 4 === 0))
    assert(subset.forall(_._4 == 0L), s"in-distribution batch tripped: $subset")
    // a distribution shift (+2.0 per dim — far outside the unit-ish
    // fixture vectors) blows the per-cell mean distance up and trips
    val shifted = emb.filter($"vec_id" % 4 === 0)
      .withColumn("embedding",
        transform($"embedding".cast("array<double>"), x => x + lit(2.0)))
    val drifted = rows(shifted)
    assert(drifted.exists(_._4 == 1L), s"shifted batch did not trip: $drifted")
    // cells the batch never touches report (0, 0.0, not-stale)
    val one = rows(emb.filter($"vec_id" === 0))
    assert(one.count(_._2 > 0) == 1)
    assert(one.filter(_._2 == 0).forall(t => t._3 == 0.0 && t._4 == 0L))
  }

  // ---- UnigramLM ------------------------------------------------------

  test("unigram nll matches the closed form on a tiny corpus") {
    val docs = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    // counts: a=2 b=2 c=1, N=5, V=3; p = (c+1)/(N+V)
    def nq(c: Long) = math.round(-math.log((c + 1).toDouble / 8.0) * 1e9)
    val expect = Map(
      0L -> BigDecimal((nq(2) * 3).toDouble / 1e9 / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      1L -> BigDecimal((nq(2) + nq(1)).toDouble / 1e9 / 2.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val got = UnigramLM.nll(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got == expect)
  }

  test("unigram nll is partitioning-invariant (integer-grid sums)") {
    val docs = Tables.documents(spark, sf001)
    val a = UnigramLM.nll(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val b = UnigramLM.nll(docs.repartition(13), "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("unigram nll ranks a corpus-typical doc below an atypical one") {
    val docs = Seq(
      (0L, "the the the the the the the the"),
      (1L, "zzz qqq xxx www")).toDF("doc_id", "text")
    val got = UnigramLM.nll(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(0L) < got(1L))
  }

  // ---- Kneser-Ney -----------------------------------------------------

  /** Independent in-memory interpolated KN bigram NLL (plain Scala),
    * nano-grid and rounding mirrored for exact comparison. */
  private def refKn(docs: Seq[(Long, String)],
      d: Double = 0.75): Map[Long, (Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val uni = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = uni.values.sum
    val v = uni.size.toLong
    val bi = toks.flatMap { case (_, ts) => ts.zip(ts.drop(1)).map(p => (p._1, p._2)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ch = bi.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val n1h = bi.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1c = bi.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1tot = bi.size.toLong
    toks.map { case (id, ts) =>
      val nqs = ts.zipWithIndex.map { case (t, i) =>
        val p =
          if (i == 0) (uni(t) + 1).toDouble / (n + v).toDouble
          else {
            val prev = ts(i - 1)
            math.max(bi((prev, t)) - d, 0.0) / ch(prev) +
              (d * n1h(prev) / ch(prev)) * (n1c(t).toDouble / n1tot)
          }
        math.round(-math.log(p) * 1e9)
      }
      id -> (ts.size.toLong, BigDecimal(nqs.sum.toDouble / 1e9 / ts.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
  }

  test("kneser-ney nll matches an independent in-memory implementation") {
    val docs = Seq((0L, "a b a b"), (1L, "a c b"), (2L, "c a b c"),
      (3L, "b b a"))
    val got = UnigramLM.kneserNeyNll(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == refKn(docs))
  }

  test("kneser-ney separates continuation diversity where jelinek-mercer cannot") {
    // b and c have EQUAL unigram counts and equal (x, ·) bigram counts,
    // but b only ever follows a while c follows five distinct
    // histories: KN's continuation distribution scores "x c" likelier
    // than "x b"; the JM mixture sees them as identical.
    val docs = (
      (0 until 4).map(i => (i.toLong, "a b")) ++
        Seq("p c", "q c", "r c", "s c").zipWithIndex
          .map { case (t, i) => ((4 + i).toLong, t) } ++
        Seq((8L, "x b"), (9L, "x c"))).toSeq
    val kn = UnigramLM.kneserNeyNll(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val jm = UnigramLM.bigramNll(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(kn(8L) > kn(9L), s"KN should disfavor the locked token: $kn")
    assert(jm(8L) == jm(9L), s"JM cannot tell them apart: $jm")
  }

  test("kneser-ney probability mass per history sums to exactly 1") {
    // Σ_t P(t|prev) over tokens with n1c > 0: the discounted term sums
    // to (ch − D·n1h)/ch (every cb ≥ 1 > D) and the backoff term to
    // D·n1h/ch — the absolute-discount bookkeeping identity.
    val docs = Seq((0L, "a b a b"), (1L, "a c b"), (2L, "c a b c"))
    val toks = docs.map { case (_, t) => t.split(" ").toSeq }
    val bi = toks.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ch = bi.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val n1h = bi.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1c = bi.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1tot = bi.size.toLong
    val d = 0.75
    ch.keys.foreach { prev =>
      val mass = n1c.keys.toSeq.map { t =>
        math.max(bi.getOrElse((prev, t), 0L) - d, 0.0) / ch(prev) +
          (d * n1h(prev) / ch(prev)) * (n1c(t).toDouble / n1tot)
      }.sum
      assert(math.abs(mass - 1.0) < 1e-12, s"history $prev mass $mass")
    }
  }

  test("kneser-ney is partitioning-invariant (integer-grid sums)") {
    val docs = Tables.documents(spark, sf001)
    val a = UnigramLM.kneserNeyNll(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val b = UnigramLM.kneserNeyNll(docs.repartition(13), "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("group divergence: conforming group reads near zero, divergent jumps") {
    import graft.operators.UnigramLM
    // A and B share one distribution and dominate the corpus; C is a
    // small disjoint-vocab group (small, so the global model it is
    // scored against stays shaped like A/B)
    val docs = Seq(
      ("A", "x y z x y z x y z x"), ("A", "x y z x y z x y z x"),
      ("B", "x y z x y z x y z x"), ("B", "x y z x y z x y z x"),
      ("C", "q r q r")).toDF("source", "text")
    val got = UnigramLM.groupDivergence(docs, "source", "text")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // KL >= 0 everywhere; the disjoint-vocab group dominates
    got.values.foreach(r => assert(r._5 >= 0.0, s"negative KL: $r"))
    assert(got("C")._5 > got("A")._5 * 3 && got("C")._5 > 1.0)
    assert(got("A")._5 < 0.3 && got("B")._5 < 0.3)
    // the three readouts cohere: KL ~= CE - H (independent grids)
    got.values.foreach { r =>
      assert(math.abs(r._5 - (r._4 - r._3)) < 1e-5, s"incoherent: $r")
    }
    // partitioning invariance on the fixture
    val fx = Tables.documents(spark, sf001)
    def run(df: org.apache.spark.sql.DataFrame) =
      UnigramLM.groupDivergence(df, "source", "text")
        .as[(String, Long, Double, Double, Double)].collect().sorted.toSeq
    assert(run(fx) == run(fx.repartition(13)))
  }

  test("token fertility reconciles with the per-doc encode and raw chars") {
    val fert = graft.queries.CorpusQueries.queries("q_token_fertility")(
      spark, sf001).collect()
    assert(fert.length >= 2)
    val encTotal = graft.queries.CorpusQueries.queries("q_bpe_encode")(
        spark, sf001)
      .agg(sum($"n_bpe_tokens")).as[Long].head()
    assert(fert.map(_.getLong(3)).sum == encTotal)
    val chars = Tables.documents(spark, sf001).groupBy($"lang")
      .agg(sum(length($"text"))).as[(String, Long)].collect().toMap
    fert.foreach { r =>
      assert(r.getLong(2) == chars(r.getString(0)))
      assert(math.abs(r.getDouble(4) -
        r.getLong(2).toDouble / r.getLong(3).toDouble) < 1e-6)
    }
  }

  test("kneser-ney rejects a discount outside (0, 1)") {
    val docs = Seq((0L, "a b")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      UnigramLM.kneserNeyNll(docs, "doc_id", "text", discount = 1.0)
    }
    assert(e.getMessage.contains("discount"))
  }

  // ---- Bpe ------------------------------------------------------------

  /** Independent in-memory BPE (plain Scala) for cross-checking. */
  private object RefBpe {
    def pairs(words: Map[String, Long],
        syms: Map[String, Vector[String]]): Map[(String, String), Long] =
      words.toSeq.flatMap { case (w, f) =>
        syms(w).sliding(2).filter(_.size == 2).map(p => (p(0), p(1)) -> f)
      }.groupMapReduce(_._1)(_._2)(_ + _)

    def merge(s: Vector[String], l: String, r: String): Vector[String] =
      s.foldLeft(Vector.empty[String]) { (out, c) =>
        if (out.nonEmpty && out.last == l && c == r)
          out.init :+ (l + r)
        else out :+ c
      }

    def train(words: Map[String, Long],
        n: Int): (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
      var syms = words.keys.map(w => w -> w.split("").filter(_.nonEmpty).toVector).toMap
      val out = Seq.newBuilder[(String, String, Long)]
      for (_ <- 1 to n) {
        val p = pairs(words, syms)
        if (p.nonEmpty) {
          val ((l, r), c) = p.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((l, r, c))
          syms = syms.map { case (w, s) => w -> merge(s, l, r) }
        }
      }
      (out.result(), syms)
    }
  }

  test("bpe merge fold is left-to-right non-overlapping") {
    val df = Seq(Tuple1(Seq("a", "a", "a", "b"))).toDF("syms")
    val got = df.select(Bpe.applyMerge($"syms", "a", "a")).as[Seq[String]].head()
    assert(got == Seq("aa", "a", "b"))
  }

  test("bpe training matches an independent in-memory implementation") {
    val docs = Seq((0L, "low low low lower lower newest newest widest est"))
      .toDF("doc_id", "text")
    val words = Map("low" -> 3L, "lower" -> 2L, "newest" -> 2L,
      "widest" -> 1L, "est" -> 1L)
    val (expect, expectSyms) = RefBpe.train(words, 6)
    val (got, gotSymsDf) = Bpe.train(docs, "text", 6)
    assert(got.map(m => (m.left, m.right, m.count)) == expect)
    val gotSyms = gotSymsDf.select($"word", $"syms")
      .as[(String, Seq[String])].collect().toMap
    assert(gotSyms.view.mapValues(_.toVector).toMap == expectSyms)
  }

  test("bpe training on the fixture matches the reference implementation") {
    val docs = Tables.documents(spark, sf001)
    val words = Bpe.wordFreqs(docs, "text")
      .as[(String, Long)].collect().toMap
    val (expect, _) = RefBpe.train(words, 8)
    val (got, _) = Bpe.train(docs, "text", 8)
    assert(got.size == 8, "fixture corpus must sustain 8 merge rounds " +
      "(the unrolled oracle SQL assumes it)")
    assert(got.map(m => (m.left, m.right, m.count)) == expect)
  }

  test("bpe encoding reconstructs each word's characters") {
    val docs = Tables.documents(spark, sf001).limit(50)
    val (merges, _) = Bpe.train(docs, "text", 8)
    val enc = Bpe.encode(docs, "doc_id", "text", merges)
      .select($"doc_id", $"tokens").as[(Long, Seq[String])].collect().toMap
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    assert(texts.nonEmpty)
    texts.foreach { case (id, t) =>
      assert(enc(id).mkString == t.toLowerCase.split("\\s+", -1).mkString,
        s"doc $id")
    }
  }

  test("bpe encoding strictly shortens tokenization as merges accumulate") {
    val docs = Tables.documents(spark, sf001).limit(50)
    val (merges, _) = Bpe.train(docs, "text", 8)
    def total(ms: Seq[Bpe.Merge]): Long =
      Bpe.encode(docs, "doc_id", "text", ms)
        .agg(sum($"n_bpe_tokens")).as[Long].head()
    val chars = total(Nil)
    val merged = total(merges)
    assert(merged < chars, s"8 merges should compress ($merged vs $chars)")
  }
}
