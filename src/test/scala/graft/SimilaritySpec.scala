package graft

import org.apache.spark.sql.functions._
import graft.operators.{MinHashDedup, SimHash, Similarity, TokenOps}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine HOF: orthogonal=0, identical=1, antiparallel=-1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0))).toDF("a", "b")
    val out = df.select(round(Similarity.cosine($"a", $"b"), 9)).as[Double].collect()
    assert(out.toSeq === Seq(0.0, 1.0, -1.0))
  }

  test("int8 quantization: bounded round-trip error, preserved cosine, zero vector") {
    import graft.operators.Quantize
    val emb = Tables.embeddings(spark, sf001).limit(50)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val rt = emb.select($"vec_id", $"v",
        Quantize.scaleOf($"v").as("s"),
        Quantize.dequantize(Quantize.codes($"v"), Quantize.scaleOf($"v"))
          .as("vq"))
    // per-element |error| <= scale/2 (symmetric rounding bound)
    val viol = rt.select(
        aggregate(zip_with($"v", $"vq", (a, b) => abs(a - b)), lit(0.0),
          (acc, e) => greatest(acc, e)).as("maxerr"), $"s")
      .filter($"maxerr" > $"s" / 2 + 1e-12).count()
    assert(viol === 0)
    // cosine between dequantized pairs tracks exact cosine closely
    val pairs = rt.select($"vec_id", $"v", $"vq").limit(10).collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    for (i <- pairs.indices; j <- 0 until i) {
      val (vi, qi) = (pairs(i).getSeq[Double](1), pairs(i).getSeq[Double](2))
      val (vj, qj) = (pairs(j).getSeq[Double](1), pairs(j).getSeq[Double](2))
      assert(math.abs(cos(vi, vj) - cos(qi, qj)) < 0.02,
        s"cosine drift too large for pair ($i,$j)")
    }
    // zero vector: scale 0, all-zero codes, zero reconstruction
    val z = Seq(Seq(0.0, 0.0, 0.0)).toDF("v")
      .select(Quantize.scaleOf($"v").as("s"),
        Quantize.codes($"v").as("q"),
        Quantize.dequantize(Quantize.codes($"v"), Quantize.scaleOf($"v"))
          .as("vq"))
      .head()
    assert(z.getDouble(0) === 0.0)
    assert(z.getSeq[Int](1).forall(_ === 0))
    assert(z.getSeq[Double](2).forall(_ === 0.0))
  }

  test("l2Normalize: unit norm for nonzero vectors, zero vector passthrough") {
    val df = Seq(Seq(3.0f, 4.0f), Seq(0.0f, 0.0f)).toDF("v")
    val out = df.select(Similarity.l2Normalize($"v")).as[Seq[Double]].collect()
    assert(out(0).map(x => math.round(x * 1e9) / 1e9).toSeq === Seq(0.6, 0.8))
    assert(out(1).toSeq === Seq(0.0, 0.0))
  }

  test("centroids: per-group mean vector matches driver arithmetic") {
    val df = Seq(
      ("a", Seq(1.0f, 2.0f)), ("a", Seq(3.0f, 6.0f)),
      ("b", Seq(10.0f, 0.0f))).toDF("g", "v")
    val out = Similarity.centroids(df, "g", "v")
      .as[(String, Seq[Double])].collect().toMap
    assert(out("a").toSeq === Seq(2.0, 4.0))
    assert(out("b").toSeq === Seq(10.0, 0.0))
  }

  test("annNearDupPairs: perfect precision, near-total recall on planted near-dups") {
    // 40 random base vectors + 10 jittered clones (cos ~0.99 with their base)
    val rnd = new scala.util.Random(123)
    def vec() = Seq.fill(16)(rnd.nextGaussian())
    val base = (0L until 40L).map(i => (i, vec()))
    val clones = (0L until 10L).map { i =>
      (100L + i, base(i.toInt)._2.map(x => x + rnd.nextGaussian() * 0.02))
    }
    val df = (base ++ clones).toDF("vec_id", "embedding")
    val got = Similarity.annNearDupPairs(df, "vec_id", "embedding",
        threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    // precision: by construction every returned pair is >= threshold
    assert(got.forall(_._3 >= 0.9))
    // recall: the 10 planted (i, 100+i) pairs must essentially all surface
    val planted = (0L until 10L).map(i => (i, 100L + i)).toSet
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    assert((planted & gotPairs).size >= 9,
      s"missed planted near-dups: ${planted -- gotPairs}")
  }

  test("hardNegatives == brute-force band top-k; excludes self and near-dups") {
    val emb = Tables.embeddings(spark, sf001)
    val (lo, hi, k) = (0.15, 0.5, 5)
    val anchors = Seq(0L, 1L, 2L)
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding",
        anchors, k, lo, hi)
      .select($"anchor_id", $"vec_id", $"cos", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got.nonEmpty)
    // brute force per anchor off the exact cosine column
    val all = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect()
    val byId = all.toMap
    def cosd(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = anchors.flatMap { aid =>
      all.filter(_._1 != aid)
        .map { case (id, v) => (id, cosd(byId(aid), v)) }
        .filter { case (_, c) => c >= lo && c < hi }
        .sortBy { case (id, c) => (-c, id) }.take(k).zipWithIndex
        .map { case ((id, c), i) => (aid, id, c, (i + 1).toLong) }
    }
    assert(got.sorted === want.sorted)
    // nothing at or above the near-dup line, nobody mines themselves
    assert(got.forall { case (a, id, c, _) => c < hi && c >= lo && id != a })
    // guards
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, "vec_id", "embedding", Seq(0L, 0L), k, lo, hi)
    }
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, "vec_id", "embedding", Seq(0L), k, hi, lo)
    }
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, "vec_id", "embedding",
        (1L to 20L).toSeq, k, lo, hi, maxAnchors = 10)
    }
    // a typo'd anchor id must fail LOUDLY naming it — silent zero rows
    // for that anchor are indistinguishable from an empty band
    val missing = intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, "vec_id", "embedding",
        Seq(0L, 999999L), k, lo, hi)
    }
    assert(missing.getMessage.contains("999999"))
  }

  test("hardNegativesFromIndex == brute force restricted to probed cells") {
    import graft.operators.KMeansQuant
    val emb = Tables.embeddings(spark, sf001)
    val m = KMeansQuant.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft-hnidx").toString + "/idx"
    KMeansQuant.buildIndex(emb, "vec_id", "embedding", m, path)
    val anchors = emb.filter($"vec_id".isin(0L, 1L, 2L))
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    val (lo, hi, k, nprobe) = (0.15, 0.5, 5, 2)
    val got = KMeansQuant.hardNegativesFromIndex(spark, path, m, anchors,
        k, lo, hi, nprobe, "vec_id", "embedding")
      .select($"anchor_id", $"vec_id", $"cos", $"rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    // brute force over ONLY the vectors assigned to each anchor's
    // probed cells — the trade the served form makes, verified exactly
    val cells = KMeansQuant.assign(emb, "vec_id", "embedding", m)
      .select($"vec_id", $"cluster").as[(Long, Long)].collect().toMap
    val all = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cosd(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(d / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = anchors.flatMap { case (aid, av) =>
      val probed = m.centroids.zipWithIndex.map { case (c, i) =>
        (i.toLong, c.zip(KMeansQuant.quantizeVec(av))
          .map { case (x, y) => (x - y) * (x - y) }.sum)
      }.sortBy { case (i, d2) => (d2, i) }.take(nprobe).map(_._1).toSet
      all.filter { case (id, _) => id != aid && probed(cells(id)) }
        .map { case (id, v) => (id, cosd(av, v)) }
        .filter { case (_, c) => c >= lo && c < hi }
        .sortBy { case (id, c) => (-c, id) }.take(k).zipWithIndex
        .map { case ((id, c), i) => (aid, id, c, (i + 1).toLong) }
    }.toSet
    assert(got === want)
    assert(got.nonEmpty)
    // the served read is partition-pruned to the probed cells
    val plan = KMeansQuant.hardNegativesFromIndex(spark, path, m, anchors,
      k, lo, hi, nprobe, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell#"),
      s"expected cell partition pruning on the index scan:\n$plan")
  }

  test("nearDupPairs guard fires beyond maxExactRows, passes under it") {
    val rnd = new scala.util.Random(7)
    val df = (0L until 20L).map(i => (i, Seq.fill(8)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    // under the limit: runs and returns a frame
    val ok = Similarity.nearDupPairs(df, "vec_id", "embedding",
      threshold = 0.999, maxExactRows = 20L)
    assert(ok.columns.toSeq === Seq("id_a", "id_b", "cos"))
    ok.count() // materializes fine
    // over the limit: fails loudly BEFORE the cross join, naming the
    // scale-safe sibling
    val e = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(df, "vec_id", "embedding",
        threshold = 0.999, maxExactRows = 19L)
    }
    assert(e.getMessage.contains("annNearDupPairs"))
    assert(e.getMessage.contains("maxExactRows"))
  }

  test("nearDupPairs spreads a 1-partition input and leaves a parallel one unshuffled") {
    val par = spark.sparkContext.defaultParallelism
    def plan(parts: Int): String = {
      val df = spark.range(0, 40, 1, parts).select($"id".as("vec_id"),
        array($"id".cast("double"), lit(1.0)).as("embedding"))
      val pairs = Similarity.nearDupPairs(df, "vec_id", "embedding",
        threshold = 0.999)
      pairs.count()
      pairs.queryExecution.executedPlan.toString
    }
    val narrow = plan(1)
    assert(narrow.contains("RoundRobinPartitioning"),
      s"1-partition stream side not spread:\n$narrow")
    val wide = plan(par)
    assert(!wide.contains("RoundRobinPartitioning"),
      s"$par-partition input shuffled anyway:\n$wide")
  }

  test("shingles: 3-grams of tokens, short docs -> empty") {
    val out = Seq("a b c d", "a b").toDF("text")
      .select(MinHashDedup.shingles(TokenOps.tokenize($"text"), 3))
      .as[Seq[String]].collect()
    assert(out(0).toSet === Set("a b c", "b c d"))
    assert(out(1).isEmpty)
  }

  test("minhash LSH recall >= 0.9 vs exact jaccard pairs at sf0.001") {
    val exact = SparkEntry.queries("q_jaccard_pairs")(spark, sf001)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = MinHashDedup.nearDuplicates(
        Tables.documents(spark, sf001), "doc_id", "text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "ground truth should contain planted near-dups")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall, exact=${exact.size}, lsh=${lsh.size}")
  }

  test("simhashAgg (codegen form) equals simhash64 (HOF form)") {
    val docs = Tables.documents(spark, sf001)
    val hof = docs.select($"doc_id",
      SimHash.simhash64(TokenOps.tokenize($"text")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val agg = SimHash.simhashAgg(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(agg === hof)
  }

  test("minhash band kernel equals bandKeys(signature(shingles)) on sf001") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.sql.graftbridge.Columns
    import graft.functions.MinHashBandsExpr
    // sf001's documents, one under 3 tokens (no shingles) and one whose
    // shingles repeat
    val repeated = "a b c a b c a b c a b c d"
    val docs = Tables.documents(spark, sf001).select($"doc_id", $"text")
      .union(Seq((-1L, "too short"), (-2L, repeated)).toDF("doc_id", "text"))
    val toks = TokenOps.tokenize($"text")
    val sh = MinHashDedup.shingles(toks, 3)
    val got = docs.select($"doc_id",
        MinHashDedup.bandKeys(MinHashDedup.signature(sh, 32), 8, 4).as("ref"),
        MinHashDedup.bandsOf(toks).as("kernel"),
        Columns.of(MinHashBandsExpr(
          Columns.expr(MinHashDedup.rawShingles(toks, 3)), 32, 8)).as("raw"))
      .as[(Long, Seq[Long], Option[Seq[Long]], Option[Seq[Long]])]
      .collect().map(r => r._1 -> r).toMap
    assert(got.size === docs.count())
    // no shingles: no band keys, so no candidate (the reference's keys
    // would hash an all-null signature, equal across all such documents)
    assert(got(-1L)._3.isEmpty && got(-1L)._4.isEmpty)
    val rest = got - -1L
    assert(rest.values.forall(r => r._3.contains(r._2)),
      rest.values.filterNot(r => r._3.contains(r._2)).take(3).toSeq)
    // a repeated shingle does not move a minimum
    assert(rest.values.forall(r => r._4 == r._3))
    // the interpreted path is the generated path's function
    val lit = Literal.create(Seq("a b c", "b c a", "c a b", "a b c", "b c d"),
      ArrayType(StringType))
    val interp = MinHashBandsExpr(lit, 32, 8).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(interp.toSeq === got(-2L)._3.get)
  }

  test("prefix-filtered exact jaccard equals inverted-index formulation") {
    val fromQuery = SparkEntry.queries("q_jaccard_pairs")(spark, sf001)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val prefix = MinHashDedup.exactJaccardPairs(
        Tables.documents(spark, sf001), "doc_id", "text", 3, 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(prefix === fromQuery)
  }

  test("simhash: identical token multisets collide; permutations collide") {
    val out = Seq("x y z w", "w z y x", "totally different words here")
      .toDF("text")
      .select(SimHash.simhash64(TokenOps.tokenize($"text"))).as[Long].collect()
    assert(out(0) === out(1), "simhash is order-invariant")
    assert(out(0) !== out(2))
  }

  test("simhash near-dups include planted jaccard near-dups (hamming<=8)") {
    val docs = Tables.documents(spark, sf001)
    val exact = SparkEntry.queries("q_jaccard_pairs")(spark, sf001)
      .filter($"jaccard" >= 0.9).select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    val sh = SimHash.nearDuplicates(docs, "doc_id", "text", maxHamming = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    if (exact.nonEmpty) {
      val recall = (exact & sh).size.toDouble / exact.size
      assert(recall >= 0.8, s"simhash recall $recall on ${exact.size} pairs")
    }
  }

  test("HyperplaneSigs expression matches per-plane hyperplaneSig columns") {
    val planes = Similarity.hyperplanes(16, 8)
    val df = Seq(Seq.fill(8)(0.5), Seq.tabulate(8)(i => (i - 4).toDouble))
      .toDF("v")
    val viaExpr = df.select(graft.functions.HyperplaneSigs.sigs(
        $"v", planes, 4)).as[Seq[Long]].collect()
    val viaCols = df.select(array(planes.grouped(4).toSeq.map(p =>
        Similarity.hyperplaneSig($"v", p)): _*)).as[Seq[Long]].collect()
    assert(viaExpr.toSeq.map(_.toSeq) === viaCols.toSeq.map(_.toSeq))
  }

  test("ANN top-k: multi-table LSH recall on noise-like corpus") {
    // This fixture is near-noise (max pair cosine ~0.5), the hardest case
    // for LSH: with 32 tables x 6 bits theory gives ~0.6-0.8 recall of the
    // (weak) top-10 while pruning a good chunk of the corpus. On corpora
    // with true near-dups (cosine >= 0.8) the same config recalls ~1.0.
    val emb = Tables.embeddings(spark, sf01)
    val exact = Similarity.bruteForceTopK(emb,
      "vec_id", "embedding", 0L, 10).select($"vec_id").as[Long].collect().toSet
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
    val ann = Similarity.annTopK(emb.filter($"vec_id" =!= 0),
        "vec_id", "embedding", q, 10, tables = 32, bitsPerTable = 6)
      .select($"vec_id").as[Long].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall (exact=$exact ann=$ann)")
  }

  test("alignment/uniformity landmarks: duplicates read 0, collapse reads 0") {
    import graft.operators.Similarity
    // four orthogonal unit vectors + one exact duplicate of vector 0
    def unit(i: Int) = Array.tabulate(8)(j => if (j == i) 1.0f else 0.0f).toSeq
    val emb = Seq(
      (0L, unit(0)), (1L, unit(1)), (2L, unit(2)), (3L, unit(3)),
      (4L, unit(0))).toDF("vec_id", "embedding")
    val pos = Seq((0L, 4L)).toDF("id_a", "id_b")
    val got = Similarity.alignmentUniformity(emb, "vec_id", "embedding",
        pos, Seq(1L))
      .as[(Long, Double, Long, Double)].head()
    // the duplicate pair: d^2 = 0 exactly
    assert(got._1 == 1 && got._2 == 0.0)
    // offset-1 probes: (0,1),(1,2),(2,3),(3,4) all orthogonal -> each
    // exp(-2*2) = e^-4, so uniformity = ln(e^-4) = -4
    assert(got._3 == 4)
    assert(math.abs(got._4 - (-4.0)) < 1e-6, s"uniformity ${got._4}")
    // a COLLAPSED space (every vector identical): uniformity = ln(1) = 0
    val flat = (0L to 4L).map(i => (i, unit(0))).toDF("vec_id", "embedding")
    val coll = Similarity.alignmentUniformity(flat, "vec_id", "embedding",
        pos, Seq(1L))
      .as[(Long, Double, Long, Double)].head()
    assert(coll._4 == 0.0 && coll._2 == 0.0)
    // a string id cannot offset-probe (id + o is NULL, the probe join
    // silently empties) — the guard must trip at the door
    val strId = Seq(("a", unit(0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.alignmentUniformity(strId, "vec_id", "embedding",
        Seq(("a", "a")).toDF("id_a", "id_b"), Seq(1L))
    }
    assert(e.getMessage.contains("numeric id"), e.getMessage)
  }
}
