package graft

import org.apache.spark.sql.functions._
import graft.operators.Sampling

/** Content-hash sampling: the properties RNG sampling can't give —
  * stability under repartitioning and exact reproducibility. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf01)

  test("fraction is respected within binomial tolerance") {
    val n = docs.count().toDouble
    val kept = Sampling.contentHashSample(docs, $"text", 0.25).count().toDouble
    // 3 sigma for Binomial(500, 0.25) ≈ 29
    assert(math.abs(kept - 0.25 * n) < 4 * math.sqrt(n * 0.25 * 0.75),
      s"kept $kept of $n at fraction 0.25")
  }

  test("membership is invariant under repartitioning (RNG sample is not)") {
    val a = Sampling.contentHashSample(docs, $"text", 0.3)
      .select($"doc_id").as[Long].collect().toSet
    val b = Sampling.contentHashSample(docs.repartition(7), $"text", 0.3)
      .select($"doc_id").as[Long].collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("different seeds draw different subsets; same seed identical") {
    val a = Sampling.contentHashSample(docs, $"text", 0.3, seed = 1L)
      .select($"doc_id").as[Long].collect().toSet
    val b = Sampling.contentHashSample(docs, $"text", 0.3, seed = 2L)
      .select($"doc_id").as[Long].collect().toSet
    val a2 = Sampling.contentHashSample(docs, $"text", 0.3, seed = 1L)
      .select($"doc_id").as[Long].collect().toSet
    assert(a === a2)
    assert(a !== b)
  }

  test("hexThreshold: 12 lowercase hex chars, monotone in fraction, exact quarters") {
    val ts = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.999)
      .map(Sampling.hexThreshold)
    assert(ts.forall(t => t.length == 12 && t.matches("[0-9a-f]{12}")))
    assert(ts === ts.sorted, s"not monotone: $ts")
    assert(Sampling.hexThreshold(0.25) === "400000000000")
    assert(Sampling.hexThreshold(0.5) === "800000000000")
    assert(Sampling.hexThreshold(1.0) === "g") // sorts after every hex string
  }

  test("fraction edge cases: 0 keeps nothing, 1 keeps everything") {
    assert(Sampling.contentHashSample(docs, $"text", 0.0).count() === 0L)
    assert(Sampling.contentHashSample(docs, $"text", 1.0).count() === docs.count())
  }

  test("packSequences: every doc assigned once, greedy fill respects budget starts") {
    import graft.operators.Packing
    val packed = Packing.packSequences(docs, "doc_id",
      graft.operators.TokenOps.tokenCount($"text"), tokensPerSeq = 200,
      shards = 8)
    assert(packed.count() === docs.count())
    // a doc's sequence start offset lies inside that sequence's window
    val bad = packed
      .withColumn("cum_excl",
        sum($"n_tokens").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"shard").orderBy($"doc_id")) - $"n_tokens")
      .filter($"seq_id" =!= floor($"cum_excl" / 200.0).cast("long"))
      .count()
    assert(bad === 0L)
    // sequences are contiguous per shard: max(seq) + 1 == distinct seqs
    val stats = Packing.packStats(packed)
    val perShard = stats.groupBy($"shard")
      .agg(max($"seq_id").as("mx"), count(lit(1)).as("n"))
      .filter($"mx" + 1 =!= $"n").count()
    assert(perShard === 0L)
    // fill: every non-final sequence ends at or past the budget boundary
    val underfull = stats.join(
        stats.groupBy($"shard").agg(max($"seq_id").as("last")), "shard")
      .filter($"seq_id" =!= $"last")
      .join(packed.groupBy($"shard", $"seq_id")
        .agg((sum($"n_tokens")).as("tok")), Seq("shard", "seq_id"))
      .filter($"tok" < lit(1)) // sanity: no empty non-final sequence
      .count()
    assert(underfull === 0L)
  }

  test("hashSplit is exactly complementary, stable, and growth-consistent") {
    val (train, test) = Sampling.hashSplit(docs, $"text", 0.2)
    val trainIds = train.select($"doc_id").as[Long].collect().toSet
    val testIds = test.select($"doc_id").as[Long].collect().toSet
    // exact partition of the corpus: disjoint and complete
    assert(trainIds.intersect(testIds).isEmpty)
    assert(trainIds.size + testIds.size === docs.count())
    assert(testIds.nonEmpty && trainIds.nonEmpty)
    // growth consistency: splitting a subset never flips membership
    val half = docs.filter($"doc_id" % 2 === 0)
    val (_, testHalf) = Sampling.hashSplit(half, $"text", 0.2)
    val testHalfIds = testHalf.select($"doc_id").as[Long].collect().toSet
    assert(testHalfIds === testIds.filter(_ % 2 == 0))
    // null keys must not vanish from both sides — they land in train
    val withNull = Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val (tr, te) = Sampling.hashSplit(withNull, $"text", 0.5)
    assert(tr.count() + te.count() === 2)
    assert(tr.filter($"id" === 2L).count() === 1)
  }

  test("mixByStratum applies per-stratum fractions and the default") {
    val mixed = Sampling.mixByStratum(docs, $"text", $"lang",
      Map("en" -> 1.0), defaultFraction = 0.0)
    val langs = mixed.select($"lang").distinct().as[String].collect().toSet
    assert(langs === Set("en"))
    assert(mixed.count() === docs.filter($"lang" === "en").count())
  }

  test("temperature mix flattens the head and boosts the tail") {
    val rates = Sampling.temperatureRates(docs, "lang", budgetFraction = 0.5)
    val natural = docs.groupBy($"lang").count()
      .as[(String, Long)].collect().toMap
    val total = natural.values.sum.toDouble
    // every stratum has a rate; the rarest language keeps a LARGER
    // fraction of itself than the most common one (the whole point of
    // alpha-damping), and nothing upsamples
    assert(rates.keySet === natural.keySet)
    val rarest = natural.minBy(_._2)._1
    val biggest = natural.maxBy(_._2)._1
    assert(rates(rarest) > rates(biggest),
      s"rates $rates vs natural $natural")
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0))
    // realized sample: every stratum survives, total lands near the
    // budget (binomial tolerance), and the mix equals applying the
    // exposed rates through mixByStratum (internal consistency)
    val mixed = Sampling.temperatureMix(docs, $"text", "lang",
      budgetFraction = 0.5)
    val mixedIds = mixed.select($"doc_id").as[Long].collect().toSet
    val direct = Sampling.mixByStratum(docs, $"text", $"lang", rates)
      .select($"doc_id").as[Long].collect().toSet
    assert(mixedIds === direct)
    val kept = mixedIds.size.toDouble
    assert(math.abs(kept - 0.5 * total) < 4 * math.sqrt(total * 0.25) + 
      rates.size, s"kept $kept of $total at budget 0.5")
    assert(mixed.groupBy($"lang").count().count() === natural.size.toLong)
  }

  test("capPerStratum == window form; cap respected per stratum") {
    val capped = Sampling.capPerStratum(docs, "doc_id", $"text", "source",
      k = 20)
    val got = capped.select($"doc_id").as[Long].collect().toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      .orderBy(md5(concat(lit("42:"), $"text")), $"doc_id")
    val want = docs.filter($"text".isNotNull)
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 20)
      .select($"doc_id").as[Long].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
    val perSource = capped.groupBy($"source").count()
      .as[(String, Long)].collect()
    assert(perSource.forall(_._2 <= 20), perSource.toSeq)
  }

  test("groupHashSplit: no duplicate group straddles the boundary") {
    // chain 1-2-3 (transitive), pair 10-11, singletons 20, 21
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Sampling.groupHashSplit(ids, "id", pairs, 0.5)
      .as[(Long, Long, String)].collect()
    assert(out.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L),
      "every id exactly once")
    val byComp = out.groupBy(_._2)
    assert(byComp.values.forall(_.map(_._3).distinct.size == 1),
      s"a group straddled the split: ${out.toSeq}")
    assert(byComp(1L).map(_._1).toSet === Set(1L, 2L, 3L),
      "transitive chain must share a component")
    assert(out.forall(r => r._3 == "train" || r._3 == "test"))
  }

  test("groupHashSplit: near-dups never straddle where hashSplit can") {
    val docs = Tables.documents(spark, sf01)
    // the exact Jaccard >= 0.5 pair set (same derivation as q_leak_split)
    val ds = docs.select($"doc_id",
        explode(graft.operators.MinHashDedup.shingles(
          graft.operators.TokenOps.tokenize($"text"), 3)).as("sh"))
      .select($"doc_id", xxhash64($"sh").as("s"))
    val sizes = ds.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = ds.as("a")
      .join(ds.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("ni"))
      .join(sizes.select($"doc_id".as("id_a"), $"n".as("na")), "id_a")
      .join(sizes.select($"doc_id".as("id_b"), $"n".as("nb")), "id_b")
      .filter(round($"ni".cast("double") / ($"na" + $"nb" - $"ni"), 6) >= 0.5)
      .select($"id_a", $"id_b").localCheckpoint()
    assert(pairs.count() > 0, "fixture must contain near-dups")
    val split = Sampling.groupHashSplit(docs.select($"doc_id"), "doc_id",
      pairs, 0.2)
    val straddled = pairs
      .join(split.select($"doc_id".as("id_a"), $"split".as("sa")), "id_a")
      .join(split.select($"doc_id".as("id_b"), $"split".as("sb")), "id_b")
      .filter($"sa" =!= $"sb")
    assert(straddled.count() === 0, "a near-dup pair straddled the split")
    // the per-row splitter CAN separate a near-dup pair on this fixture
    // (the leakage groupHashSplit exists to prevent) — demonstrated, not
    // assumed: find at least one pair hashSplit puts on opposite sides
    val (tr, te) = Sampling.hashSplit(docs.select($"doc_id"), $"doc_id", 0.2)
    val rowSide = tr.withColumn("s", lit("train"))
      .unionByName(te.withColumn("s", lit("test")))
    val rowStraddled = pairs
      .join(rowSide.select($"doc_id".as("id_a"), $"s".as("sa")), "id_a")
      .join(rowSide.select($"doc_id".as("id_b"), $"s".as("sb")), "id_b")
      .filter($"sa" =!= $"sb")
    assert(rowStraddled.count() > 0,
      "expected the naive per-row split to leak on this fixture")
  }

  test("groupHashSplit is invariant under repartitioning") {
    val ids = Tables.documents(spark, sf001).select($"doc_id")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val a = Sampling.groupHashSplit(ids, "doc_id", pairs, 0.3)
      .as[(Long, Long, String)].collect().toSet
    val b = Sampling.groupHashSplit(ids.repartition(11), "doc_id", pairs, 0.3)
      .as[(Long, Long, String)].collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("hashSplit3 partitions exactly, nests hashSplit, and is stable") {
    val tagged = Sampling.hashSplit3(docs, $"text", 0.1, 0.15)
    // exactly-partitioning: every row in exactly one side
    assert(tagged.count() === docs.count())
    val bySplit = tagged.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(bySplit.keySet === Set("train", "dev", "test"))
    // the test side is EXACTLY hashSplit's test side at the same
    // fraction/seed (shared hexThreshold), so 2-way and 3-way contracts
    // compose: promoting a dev slice never moves test membership
    val (_, t2) = Sampling.hashSplit(docs, $"text", 0.15)
    assert(tagged.filter($"split" === "test").select($"doc_id")
        .as[Long].collect().toSet ===
      t2.select($"doc_id").as[Long].collect().toSet)
    // stable under repartitioning
    val again = Sampling.hashSplit3(docs.repartition(7), $"text", 0.1, 0.15)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val first = tagged.select($"doc_id", $"split")
      .as[(Long, String)].collect().toMap
    assert(again === first)
    // NULL keys land in train; reserved-column collision fails loudly
    val withNull = Seq((1L, "x"), (2L, null)).toDF("doc_id", "text")
    val nullSplit = Sampling.hashSplit3(withNull, $"text", 0.2, 0.2)
      .filter($"doc_id" === 2L).select($"split").as[String].head()
    assert(nullSplit === "train")
    intercept[IllegalArgumentException] {
      Sampling.hashSplit3(tagged, $"text", 0.1, 0.1)
    }
    intercept[IllegalArgumentException] {
      Sampling.hashSplit3(docs, $"text", 0.6, 0.5) // dev+test >= 1
    }
  }

  test("weightedSample == driver brute force of the documented A-ES key") {
    val orders = Tables.orders(spark, sf001)
      .select($"o_orderkey", $"o_totalprice")
    val got = Sampling.weightedSample(orders, "o_orderkey",
        $"o_totalprice", k = 50, seed = 7)
      .select($"o_orderkey", $"key_nano").as[(Long, Long)].collect().toSeq
    // driver brute force: same poly_hash -> u -> ln(u)/w -> nano grid
    val all = orders.as[(Long, Double)].collect()
    val want = all.filter(_._2 >= 1e-8).map { case (id, w) =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w7:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = graft.functions.PolyHashKernel.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(digest))
      val u = (h + 1).toDouble / 1000000008.0
      (id, math.round(math.log(u) / w * 1e9))
    }.sortBy { case (id, kn) => (-kn, id) }.take(50).toSeq
    assert(got === want)
    // without replacement: k distinct ids
    assert(got.map(_._1).distinct.size === 50)
  }

  test("weightedSample favors heavy weights and is seed-deterministic") {
    val rows = (1L to 50L).map(i => (i, if (i == 42L) 1e6 else 1.0))
      .toDF("id", "w")
    // the 1e6-weight row wins a top-5 slot under EVERY seed: u^(1/w) -> 1
    for (seed <- 1 to 20) {
      val picked = Sampling.weightedSample(rows, "id", $"w", 5, seed)
        .select($"id").as[Long].collect().toSet
      assert(picked.contains(42L), s"seed $seed missed the heavy row")
      assert(picked.size === 5)
    }
    // same seed twice -> identical draw; different seeds -> different draws
    def draw(seed: Int) = Sampling.weightedSample(rows, "id", $"w", 5, seed)
      .select($"id").as[Long].collect().toSeq
    assert(draw(3) === draw(3))
    assert((1 to 20).map(draw).distinct.size > 1)
    // zero/negative/sub-floor weights are excluded, never sampled: a
    // weight below minWeight (1e-8 default) would overflow the BIGINT
    // key cast, which Spark saturates silently and DuckDB errors on —
    // the filter keeps both engines on the exact integer grid
    val withBad = rows.union(
      Seq((51L, 0.0), (52L, -3.0), (53L, 1e-9)).toDF("id", "w"))
    val ids = Sampling.weightedSample(withBad, "id", $"w", 50, 1)
      .select($"id").as[Long].collect().toSet
    assert(!ids.contains(51L) && !ids.contains(52L) && !ids.contains(53L))
    // and the floor itself is guarded against unsafe values
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(rows, "id", $"w", 5, 1, minWeight = 1e-10)
    }
  }

  test("kFoldAssign partitions exactly, balances, and survives repartitioning") {
    val n = docs.count()
    val folded = Sampling.kFoldAssign(docs, $"text", k = 5)
    // exactly-partitioning: every row lands in exactly one fold 0..4
    assert(folded.count() === n)
    val sizes = folded.groupBy($"fold").count()
      .as[(Long, Long)].collect().toMap
    assert(sizes.keySet.subsetOf((0L to 4L).toSet))
    assert(sizes.values.sum === n)
    // balance: each fold within 4 sigma of n/5 (binomial tolerance)
    val p = 1.0 / 5
    sizes.values.foreach(s => assert(
      math.abs(s - n * p) < 4 * math.sqrt(n * p * (1 - p)),
      s"fold sizes $sizes unbalanced for n=$n"))
    // stability: membership is a pure function of content
    val a = folded.select($"doc_id", $"fold").as[(Long, Long)].collect().toMap
    val b = Sampling.kFoldAssign(docs.repartition(7), $"text", k = 5)
      .select($"doc_id", $"fold").as[(Long, Long)].collect().toMap
    assert(a === b)
    // band consistency with hashSplit3: k=10's fold 0 (the [0, 0.1)
    // hex band) is exactly hashSplit3's test side at testFraction=0.1
    val fold0 = Sampling.kFoldAssign(docs, $"text", k = 10)
      .filter($"fold" === 0).select($"doc_id").as[Long].collect().toSet
    val test3 = Sampling.hashSplit3(docs, $"text",
        devFraction = 0.1, testFraction = 0.1)
      .filter($"split" === "test").select($"doc_id").as[Long].collect().toSet
    assert(fold0 === test3)
    // guards
    intercept[IllegalArgumentException] {
      Sampling.kFoldAssign(docs, $"text", k = 1)
    }
  }

  test("weightedSamplePerGroup == global weightedSample restricted per stratum") {
    // The stratified form must be EXACTLY the global sampler run inside
    // each group: same key under the same seed, per-group top-k. Checked
    // by filtering the corpus to one stratum and running the global form
    // with the same quota — results must be identical rows.
    val orders = Tables.orders(spark, sf001)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    val grouped = Sampling.weightedSamplePerGroup(orders, "o_orderkey",
        $"o_totalprice", "o_orderpriority", kPerGroup = 10, seed = 11)
      .select($"o_orderpriority", $"o_orderkey", $"key_nano")
      .as[(String, Long, Long)].collect().groupBy(_._1)
    assert(grouped.nonEmpty)
    grouped.keys.foreach { prio =>
      val global = Sampling.weightedSample(
          orders.filter($"o_orderpriority" === prio), "o_orderkey",
          $"o_totalprice", k = 10, seed = 11)
        .select($"o_orderkey", $"key_nano").as[(Long, Long)]
        .collect().toSet
      assert(grouped(prio).map(r => (r._2, r._3)).toSet === global,
        s"stratum $prio diverged from the global sampler")
    }
    // per-group quota honored
    grouped.values.foreach(rs => assert(rs.length === 10))
  }
}
