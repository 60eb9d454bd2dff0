package graft

import org.apache.spark.sql.functions._
import graft.operators.Bm25

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark spark spark filter join"),        // tf(spark)=3, len 5
    (1L, "spark filter join merge sort"),         // tf(spark)=1, len 5
    (2L, "spark join a b c d e f g h i j k l m"), // tf(spark)=1, len 15
    (3L, "filter merge sort scan agg"),           // no query term
    (4L, null.asInstanceOf[String])               // null text
  ).toDF("doc_id", "text")

  test("bm25: term-free and null-text docs are excluded; others positive") {
    val out = Bm25.score(docs, "doc_id", "text", Seq("spark"))
      .orderBy($"doc_id").as[(Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(out.forall(_._2 > 0))
  }

  test("bm25 is monotonic in tf at equal document length") {
    val s = Bm25.score(docs, "doc_id", "text", Seq("spark"))
      .as[(Long, Double)].collect().toMap
    assert(s(0L) > s(1L), s"tf=3 ${s(0L)} should beat tf=1 ${s(1L)}")
  }

  test("bm25 length normalization: longer doc scores lower at equal tf; b=0 disables it") {
    val norm = Bm25.score(docs, "doc_id", "text", Seq("spark"))
      .as[(Long, Double)].collect().toMap
    assert(norm(1L) > norm(2L), "same tf, shorter doc should win at b=0.75")
    val noNorm = Bm25.score(docs, "doc_id", "text", Seq("spark"), b = 0.0)
      .as[(Long, Double)].collect().toMap
    assert(noNorm(1L) === noNorm(2L), "b=0 must remove the length effect")
  }

  test("bm25 idf: a rarer term outweighs a common one at equal tf and length") {
    val d = Seq(
      (0L, "common rare x y"), (1L, "common x y z"), (2L, "common x y z"),
      (3L, "common x y z")).toDF("doc_id", "text")
    // doc 0 holds both terms once, same length as the rest; rare df=1,
    // common df=4 — the rare term must contribute strictly more.
    val both = Bm25.score(d, "doc_id", "text", Seq("common", "rare"))
      .as[(Long, Double)].collect().toMap
    val commonOnly = Bm25.score(d, "doc_id", "text", Seq("common"))
      .as[(Long, Double)].collect().toMap
    val rareOnly = Bm25.score(d, "doc_id", "text", Seq("rare"))
      .as[(Long, Double)].collect().toMap
    assert(rareOnly(0L) > commonOnly(0L))
    // contributions compose additively (within the 6dp rounding grid)
    assert(math.abs(both(0L) - (rareOnly(0L) + commonOnly(0L))) < 2e-6)
  }

  test("bm25 topK plan: no wide shuffle, top-k via TakeOrderedAndProject") {
    val plan = Bm25.topK(Tables.documents(spark, sf001), "doc_id", "text",
      Seq("spark", "dup"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // corpus stats reduce to ONE row (SinglePartition exchange); the
    // scoring itself must not hash-shuffle the corpus
    assert(!plan.contains("hashpartitioning"), plan)
  }

  test("rrf fusion: union of lists, additive reciprocal ranks, absent side contributes 0") {
    val lex = Seq((10L, 1L), (11L, 2L)).toDF("id", "lex_rank")
    val dense = Seq((11L, 1L), (12L, 2L)).toDF("id", "dense_rank")
    val out = Bm25.rrfFuse(lex, dense, "id")
      .orderBy($"id")
      .select($"id", $"rrf").as[(Long, Double)].collect().toMap
    def r(k: Long): Double = 1.0 / (60 + k)
    assert(out.keySet === Set(10L, 11L, 12L))
    assert(math.abs(out(10L) - r(1)) < 1e-6)
    assert(math.abs(out(11L) - (r(2) + r(1))) < 1e-6)
    assert(math.abs(out(12L) - r(2)) < 1e-6)
  }

  test("postings probe equals one-shot scoring on the fixture (ids and 6dp scores)") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-postings-spec")
      .toString
    val fixture = Tables.documents(spark, sf001)
    Bm25.buildPostings(fixture, "doc_id", "text", dir)
    val direct = Bm25.topK(fixture, "doc_id", "text", Seq("spark", "dup"),
      k = 20).as[(Long, Double)].collect()
    val probe = Bm25.topKFromPostings(spark, dir, Seq("spark", "dup"),
      k = 20).as[(Long, Double)].collect()
    assert(probe.map(_._1).toSeq === direct.map(_._1).toSeq)
    probe.zip(direct).foreach { case ((_, p), (_, d)) =>
      assert(math.abs(p - d) < 2e-6, s"probe $p vs direct $d")
    }
  }

  test("postings probe plan: bucket partitions pruned, postings broadcast, no sort-merge join") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-postings-plan")
      .toString
    Bm25.buildPostings(Tables.documents(spark, sf001), "doc_id", "text", dir)
    val plan = Bm25.topKFromPostings(spark, dir, Seq("spark", "dup"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the index build bounded the layout: at most nBuckets=64 postings dirs
    val dirs = new java.io.File(dir, "postings").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(dirs > 0 && dirs <= 64, s"$dirs bucket dirs")
  }

  test("served PRF == in-plan PRF, and its expansion read prunes doc buckets") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-prf-srv")
      .toString
    val fixture = Tables.documents(spark, sf001)
    Bm25.buildPostings(fixture, "doc_id", "text", dir)
    Bm25.buildDocPostings(fixture, "doc_id", "text", dir)
    val stop = graft.operators.TokenOps.englishStopwords
    val q = Seq("spark", "dup")
    val inPlan = Bm25.prfTopK(spark, dir, q, stop, k = 10)
      .as[(Long, Double)].collect().toSeq
    val served = Bm25.prfTopKServed(spark, dir, q, stop, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(served === inPlan)
    assert(served.nonEmpty)
    // the served expansion read is bucket-pruned: PartitionFilters on
    // dbucket, and it touches at most nFeedback of the 64 partitions
    val fbIds = Bm25.topKFromPostings(spark, dir, q, k = 10)
      .select($"doc_id").as[Long].collect().toSeq
    val cand = Bm25.expansionCandidates(spark, dir, fbIds)
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("dbucket"),
      s"no doc-bucket pruning:\n$plan")
    val full = graft.sources.PartitionedParquet
      .read(spark, s"$dir/docposts").count()
    assert(cand.count() < full / 4,
      s"expansion read ${cand.count()} of $full docposts rows")
  }

  /** (doc_id, token, tf) content of a doc-keyed twin — the lifecycle
    * tests' bit-level comparison unit (file split may differ). */
  private def twinRows(path: String): Set[(Long, String, Long)] =
    graft.sources.PartitionedParquet.read(spark, s"$path/docposts")
      .select($"doc_id", $"token", $"tf")
      .as[(Long, String, Long)].collect().toSet

  test("doc-keyed twin lifecycle: append and replace maintain, delete drops loudly, rebuild restores") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-docposts-life")
      .toString
    val fixture = Tables.documents(spark, sf001)
    val base = fixture.filter($"doc_id" % 2 === 0)
    val delta = fixture.filter($"doc_id" % 2 =!= 0)
    Bm25.buildPostings(base, "doc_id", "text", dir)
    Bm25.buildDocPostings(base, "doc_id", "text", dir)
    val stop = graft.operators.TokenOps.englishStopwords
    val q = Seq("spark", "dup")
    // APPEND maintains the twin in the same staged commit: the served
    // form over the appended index equals a never-split full build
    Bm25.appendPostings(delta, "doc_id", "text", dir)
    val full = java.nio.file.Files.createTempDirectory("bm25-docposts-full")
      .toString
    Bm25.buildPostings(fixture, "doc_id", "text", full)
    Bm25.buildDocPostings(fixture, "doc_id", "text", full)
    val appended = Bm25.prfTopKServed(spark, dir, q, stop, k = 10)
      .as[(Long, Double)].collect().toSeq
    val rebuilt = Bm25.prfTopKServed(spark, full, q, stop, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(appended === rebuilt)
    assert(appended.nonEmpty)
    // REPLACE maintains the twin (touched doc buckets only, epoch
    // handshake): twin content == a never-replaced twin of the mutated
    // corpus, bit-exact, and the served PRF keeps working through it
    Bm25.replacePostings(
      fixture.filter($"doc_id" === 0L)
        .withColumn("text", concat($"text", lit(" zzzreplaced"))),
      "doc_id", "text", dir)
    val mutated = fixture.withColumn("text",
      when($"doc_id" === 0L, concat($"text", lit(" zzzreplaced")))
        .otherwise($"text"))
    val freshMut = java.nio.file.Files
      .createTempDirectory("bm25-docposts-mut").toString
    Bm25.buildPostings(mutated, "doc_id", "text", freshMut)
    Bm25.buildDocPostings(mutated, "doc_id", "text", freshMut)
    assert(twinRows(dir) === twinRows(freshMut))
    val servedAfter = Bm25.prfTopKServed(spark, dir, q, stop, k = 10)
      .as[(Long, Double)].collect().toSeq
    val inPlanAfter = Bm25.prfTopK(spark, dir, q, stop, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(servedAfter === inPlanAfter)
    // TORN COMMIT simulation: an epoch bump with no twin restamp (the
    // exact crash window) must read as stale and fail loudly
    val epochDir = s"$dir/epoch"
    val cur = spark.read.parquet(epochDir).head().getLong(0)
    spark.range(1).select(lit(cur + 1L).as("epoch"))
      .write.mode("overwrite").parquet(s"$dir/.epoch-bump")
    val fsPath = new org.apache.hadoop.fs.Path(epochDir)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(fsPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/.epoch-bump"), fsPath)
    val torn = intercept[IllegalArgumentException] {
      Bm25.prfTopKServed(spark, dir, q, stop, k = 10)
    }
    assert(torn.getMessage.contains("stale"))
    // rebuild restamps the handshake and restores serving
    Bm25.buildDocPostings(mutated, "doc_id", "text", dir)
    assert(Bm25.prfTopKServed(spark, dir, q, stop, k = 10)
      .as[(Long, Double)].collect().toSeq === servedAfter)
    // DELETE drops the twin; serving fails loudly, naming the rebuild
    Bm25.deletePostings(Seq(1L).toDF("doc_id"), "doc_id", dir)
    val e = intercept[IllegalArgumentException] {
      Bm25.prfTopKServed(spark, dir, q, stop, k = 10)
    }
    assert(e.getMessage.contains("buildDocPostings"))
  }

  test("hybrid rrf on the fixture: a doc ranked by both retrievers beats its single-list twin") {
    val out = graft.queries.RetrievalQueries.queries("q_hybrid_rrf")(spark, sf001)
      .collect()
    assert(out.length === 10)
    // every fused row must carry at least one rank, and rrf must equal
    // the recomputed reciprocal sum
    out.foreach { row =>
      val lex = Option(row.getAs[java.lang.Long]("lex_rank"))
      val den = Option(row.getAs[java.lang.Long]("dense_rank"))
      assert(lex.isDefined || den.isDefined)
      val expect = lex.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        den.map(r => 1.0 / (60 + r)).getOrElse(0.0)
      assert(math.abs(row.getAs[Double]("rrf") - expect) < 1e-6)
    }
  }

  test("incremental postings append is indistinguishable from a from-scratch build") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-incr").toString
    val full = s"$base/full"; val incr = s"$base/incr"
    val corpus = Tables.documents(spark, sf001)
    Bm25.buildPostings(corpus, "doc_id", "text", full, nBuckets = 8)
    Bm25.buildPostings(corpus.filter($"doc_id" % 2 === 0),
      "doc_id", "text", incr, nBuckets = 8)
    Bm25.appendPostings(corpus.filter($"doc_id" % 2 === 1),
      "doc_id", "text", incr, nBuckets = 8)
    def terms(p: String) = graft.sources.PartitionedParquet
      .read(spark, s"$p/terms")
      .select($"token", $"df", $"cf").orderBy($"token")
      .as[(String, Long, Long)].collect().toSeq
    assert(terms(incr) === terms(full))
    def probe(p: String) = Bm25.topKFromPostings(spark, p,
      Seq("spark", "window", "dup"), k = 10, nBuckets = 8)
      .as[(Long, Double)].collect().toSeq
    assert(probe(incr) === probe(full))
    def stats(p: String) = spark.read.parquet(s"$p/stats")
      .as[(Long, Long)].head()
    assert(stats(incr) === stats(full))
    // the append really did append (touched buckets carry >1 file) —
    // the LSM-ish split the compaction pass exists to fold back
    val bucketDirs = new java.io.File(s"$incr/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty &&
      bucketDirs.exists(_.listFiles().count(_.getName.endsWith(".parquet")) > 1))
  }

  test("mmr diversifies: near-duplicate high-rel candidates can't both win early") {
    import graft.operators.Rerank
    // two clusters of near-identical vectors; relevance alone ranks the
    // 'a' cluster 1-2-3, but after picking a1 its twins are penalized
    // and slot 2 goes to the best 'b' doc
    val cand = Seq((1L, 0.9), (2L, 0.89), (3L, 0.88), (10L, 0.5),
      (11L, 0.49)).toDF("doc_id", "rel")
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.998f, 0.02f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.01f, 0.999f)))
      .toDF("vec_id", "embedding")
    val picks = Rerank.mmr(cand, vecs, "doc_id", "vec_id", "embedding",
        "rel", k = 3, lambda = 0.5)
      .orderBy($"pick_rank").as[(Long, Long, Double)].collect().toSeq
    assert(picks.map(_._1) === Seq(1L, 10L, 2L),
      s"expected cluster alternation, got $picks")
    // deterministic: same inputs, same picks
    assert(Rerank.mmr(cand, vecs, "doc_id", "vec_id", "embedding",
        "rel", k = 3, lambda = 0.5)
      .orderBy($"pick_rank").as[(Long, Long, Double)].collect().toSeq
      === picks)
    // lambda = 1 degenerates to pure relevance ranking
    assert(Rerank.mmr(cand, vecs, "doc_id", "vec_id", "embedding",
        "rel", k = 3, lambda = 1.0)
      .orderBy($"pick_rank").select($"doc_id").as[Long].collect().toSeq
      === Seq(1L, 2L, 3L))
    // the bounded-candidates guard trips loudly
    val e = intercept[IllegalArgumentException] {
      Rerank.mmr(cand, vecs, "doc_id", "vec_id", "embedding",
        "rel", k = 2, lambda = 0.5, maxCandidates = 3)
    }
    assert(e.getMessage.contains("bound 3"))
  }

  test("retrieval eval scores all three lists with consistent metrics") {
    val rows = SparkEntry.queries("q_retrieval_eval")(spark, sf001)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet === Set("bm25", "rrf", "rerank"))
    rows.values.foreach { case (m, nRel, hits, recall, mrr) =>
      assert(nRel > 0, s"$m: empty relevance set makes the eval vacuous")
      assert(hits >= 1 && hits <= 10, s"$m: hits $hits outside top-10 bounds")
      // recall is literally hits/n_relevant, mrr the best relevant rank
      val wantRecall = BigDecimal(hits.toDouble / nRel)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(recall === wantRecall, s"$m: recall $recall != $wantRecall")
      assert(mrr >= 0.1 && mrr <= 1.0, s"$m: mrr $mrr outside [1/10, 1]")
    }
  }

  test("add-then-delete equals the never-added build bit-exactly") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-del").toString
    val full = s"$base/full"; val del = s"$base/del"
    val corpus = Tables.documents(spark, sf001)
    Bm25.buildPostings(corpus, "doc_id", "text", full, nBuckets = 8)
    Bm25.buildPostings(corpus, "doc_id", "text", del, nBuckets = 8)
    val delta = corpus.select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    Bm25.appendPostings(delta, "doc_id", "text", del, nBuckets = 8)
    Bm25.deletePostings(delta.select($"doc_id"), "doc_id", del, nBuckets = 8)
    def comp(p: String, sub: String, cols: Seq[String]) =
      graft.sources.PartitionedParquet.read(spark, s"$p/$sub")
        .select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq).toSet
    // every component content-identical to an index the delta never
    // touched: postings rows, term stats, doc lengths, corpus stats
    assert(comp(del, "postings", Seq("doc_id", "token", "tf", "bucket"))
      === comp(full, "postings", Seq("doc_id", "token", "tf", "bucket")))
    assert(comp(del, "terms", Seq("token", "df", "cf"))
      === comp(full, "terms", Seq("token", "df", "cf")))
    assert(comp(del, "doclens", Seq("doc_id", "dl"))
      === comp(full, "doclens", Seq("doc_id", "dl")))
    assert(spark.read.parquet(s"$del/stats").as[(Long, Long)].head()
      === spark.read.parquet(s"$full/stats").as[(Long, Long)].head())
    // and the probe path scores identically through the rewritten buckets
    def probe(p: String) = Bm25.topKFromPostings(spark, p,
      Seq("spark", "window", "dup"), k = 10, nBuckets = 8)
      .as[(Long, Double)].collect().toSeq
    assert(probe(del) === probe(full))
    // the rewrite compacted the touched buckets back to one file set:
    // no bucket dir keeps both a base and a delta file
    val fragmented = new java.io.File(s"$del/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .filter(_.listFiles().count(_.getName.endsWith(".parquet")) > 1)
    assert(fragmented.isEmpty,
      s"delete rewrite should compact: ${fragmented.mkString(", ")}")
  }

  test("replacePostings upsert equals the never-corrupted build bit-exactly") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-repl").toString
    val full = s"$base/full"; val repl = s"$base/repl"
    val corpus = Tables.documents(spark, sf001)
    Bm25.buildPostings(corpus, "doc_id", "text", full, nBuckets = 8)
    // the index starts WRONG: %3 docs carry reversed text, %5 docs are
    // missing — one replacePostings upserts the truth for both arms
    val corrupted = corpus.filter($"doc_id" % 5 =!= 0)
      .withColumn("text",
        when($"doc_id" % 3 === 0, reverse($"text")).otherwise($"text"))
    Bm25.buildPostings(corrupted, "doc_id", "text", repl, nBuckets = 8)
    Bm25.replacePostings(
      corpus.filter($"doc_id" % 3 === 0 || $"doc_id" % 5 === 0),
      "doc_id", "text", repl, nBuckets = 8)
    def comp(p: String, sub: String, cols: Seq[String]) =
      graft.sources.PartitionedParquet.read(spark, s"$p/$sub")
        .select(cols.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq).toSet
    assert(comp(repl, "postings", Seq("doc_id", "token", "tf", "bucket"))
      === comp(full, "postings", Seq("doc_id", "token", "tf", "bucket")))
    assert(comp(repl, "terms", Seq("token", "df", "cf"))
      === comp(full, "terms", Seq("token", "df", "cf")))
    assert(comp(repl, "doclens", Seq("doc_id", "dl"))
      === comp(full, "doclens", Seq("doc_id", "dl")))
    assert(spark.read.parquet(s"$repl/stats").as[(Long, Long)].head()
      === spark.read.parquet(s"$full/stats").as[(Long, Long)].head())
    def probe(p: String) = Bm25.topKFromPostings(spark, p,
      Seq("spark", "window", "dup"), k = 10, nBuckets = 8)
      .as[(Long, Double)].collect().toSeq
    assert(probe(repl) === probe(full))
  }

  test("replacePostings rejects duplicate batch ids loudly") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-repl2").toString + "/idx"
    val docs = Seq((1L, "red fox"), (2L, "blue dog")).toDF("doc_id", "text")
    Bm25.buildPostings(docs, "doc_id", "text", base, nBuckets = 4)
    val dup = Seq((1L, "new text"), (1L, "other text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Bm25.replacePostings(dup, "doc_id", "text", base, nBuckets = 4)
    }
    assert(e.getMessage.contains("unique"))
  }

  test("compactPostings folds append fragments to one sorted file per bucket") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-cmp").toString + "/idx"
    val corpus = Tables.documents(spark, sf001)
    Bm25.buildPostings(corpus.filter($"doc_id" % 2 === 0),
      "doc_id", "text", base, nBuckets = 8)
    Bm25.appendPostings(corpus.filter($"doc_id" % 2 === 1),
      "doc_id", "text", base, nBuckets = 8)
    def bucketFiles() = new java.io.File(s"$base/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(bucketFiles().values.exists(_ > 1), "append should fragment")
    def rows() = graft.sources.PartitionedParquet
      .read(spark, s"$base/postings")
      .select($"doc_id", $"token", $"tf", $"bucket".cast("long"))
      .as[(Long, String, Long, Long)].collect().toSet
    val before = rows()
    val topkBefore = Bm25.topKFromPostings(spark, base,
      Seq("spark", "window", "dup"), k = 10, nBuckets = 8)
      .as[(Long, Double)].collect().toSeq
    Bm25.compactPostings(spark, base)
    assert(bucketFiles().values.forall(_ === 1),
      s"fragments survived: ${bucketFiles()}")
    assert(rows() === before, "compaction must not change content")
    assert(Bm25.topKFromPostings(spark, base,
        Seq("spark", "window", "dup"), k = 10, nBuckets = 8)
      .as[(Long, Double)].collect().toSeq === topkBefore)
    // idempotent: a second pass finds nothing to do and changes nothing
    Bm25.compactPostings(spark, base)
    assert(rows() === before)
  }

  test("deleting unknown ids and partial deletes subtract exactly") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-del2").toString + "/idx"
    val docs = Seq((1L, "red fox"), (2L, "red red dog"), (3L, "blue fox"))
      .toDF("doc_id", "text")
    Bm25.buildPostings(docs, "doc_id", "text", base, nBuckets = 4)
    // unknown id: complete no-op
    Bm25.deletePostings(Seq(99L).toDF("doc_id"), "doc_id", base, nBuckets = 4)
    def terms() = graft.sources.PartitionedParquet
      .read(spark, s"$base/terms")
      .select($"token", $"df", $"cf")
      .as[(String, Long, Long)].collect().toSet
    assert(terms() === Set(("red", 2L, 3L), ("fox", 2L, 2L),
      ("dog", 1L, 1L), ("blue", 1L, 1L)))
    // delete doc 2: 'dog' vanishes (df 0), 'red' decrements df AND cf
    Bm25.deletePostings(Seq(2L).toDF("doc_id"), "doc_id", base, nBuckets = 4)
    assert(terms() === Set(("red", 1L, 1L), ("fox", 2L, 2L),
      ("blue", 1L, 1L)))
    assert(spark.read.parquet(s"$base/stats").as[(Long, Long)].head()
      === ((2L, 4L)))
    val remaining = graft.sources.PartitionedParquet
      .read(spark, s"$base/postings").select($"doc_id").distinct()
      .as[Long].collect().toSet
    assert(remaining === Set(1L, 3L))
  }

  test("rebuilding postings at the same path serves the new corpus's stats") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-rebuild").toString + "/idx"
    val first = Seq((1L, "red fox"), (2L, "red red dog"), (3L, "blue fox"))
      .toDF("doc_id", "text")
    val second = Seq((1L, "red fox jumps high"), (2L, "green dog"),
      (3L, "blue fox"), (4L, "red cat sleeps"), (5L, "grey owl"))
      .toDF("doc_id", "text")
    def probe() = Bm25.scoreFromPostings(spark, base, Seq("red"), nBuckets = 4)
      .orderBy($"doc_id").as[(Long, Double)].collect().toSeq
    Bm25.buildPostings(first, "doc_id", "text", base, nBuckets = 4)
    val statsDir = java.nio.file.Paths.get(base, "stats")
    val firstMtime = java.nio.file.Files.getLastModifiedTime(statsDir)
    assert(probe().map(_._1) === Seq(1L, 2L))
    Bm25.buildPostings(second, "doc_id", "text", base, nBuckets = 4)
    // a filesystem with coarse mtimes can hand the rewritten stats/ its
    // old modification time: the rebuild itself must drop the memo
    java.nio.file.Files.setLastModifiedTime(statsDir, firstMtime)
    val fresh = base + "-fresh"
    Bm25.buildPostings(second, "doc_id", "text", fresh, nBuckets = 4)
    val want = Bm25.scoreFromPostings(spark, fresh, Seq("red"), nBuckets = 4)
      .orderBy($"doc_id").as[(Long, Double)].collect().toSeq
    assert(want.map(_._1) === Seq(1L, 4L))
    assert(probe() === want)
  }

  test("rerank: scores bounded by the weight mass; ranking is deterministic") {
    val out = graft.queries.RetrievalQueries.queries("q_rerank_linear")(spark, sf001)
      .as[(Long, Double)].collect()
    assert(out.length === 10)
    val w = graft.operators.Rerank.Weights()
    val mass = w.bm25 + w.cos + w.overlap + w.len
    out.foreach { case (_, s) => assert(s >= 0.0 && s <= mass + 1e-9, s) }
    // descending with id tie-break — the engine-portable order contract
    assert(out.sortBy { case (id, s) => (-s, id) }.toSeq === out.toSeq)
    val again = graft.queries.RetrievalQueries.queries("q_rerank_linear")(spark, sf001)
      .as[(Long, Double)].collect()
    assert(again.toSeq === out.toSeq)
  }

  test("rerank: a candidate with no document row is dropped; missing sides score 0") {
    val cands = Seq(Tuple1(0L), Tuple1(1L), Tuple1(99L)).toDF("doc_id")
    val embs = Seq((7L, Seq(1.0, 0.0)), (1L, Seq(0.6, 0.8)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Rerank.linear(cands, docs, embs,
      "doc_id", "text", "vec_id", "embedding",
      queryId = 7L, terms = Seq("spark"), k = 10)
      .as[(Long, Double)].collect().toMap
    // 99 has no document row -> dropped; 0 has no embedding -> cos
    // contributes 0, so despite holding the max bm25 it loses to 1,
    // whose cos=0.6 outweighs the normalized-bm25 gap
    assert(out.keySet === Set(0L, 1L))
    assert(out(1L) > out(0L))
    val w = graft.operators.Rerank.Weights()
    // doc 1: bm25_norm vs doc 0's max, cos exactly 0.6, overlap 1, plus
    // length prior — recompute the closed form
    val scores = Bm25.score(docs, "doc_id", "text", Seq("spark"))
      .as[(Long, Double)].collect().toMap
    val lenPrior = 1.0 / (1.0 + math.log(1.0 + 5.0))
    val expect1 = BigDecimal(
      w.bm25 * (scores(1L) / scores(0L)) + w.cos * 0.6 +
        w.overlap * 1.0 + w.len * lenPrior)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(1L) - expect1) < 2e-6, s"${out(1L)} vs $expect1")
  }

  test("termBuckets driver eval == the engine's pmod(xxhash64) column, byte for byte") {
    // the write path buckets postings with functions.xxhash64/pmod in a
    // distributed job; the probe's driver-side Catalyst eval must land
    // on the SAME buckets for any term or a probe would silently read
    // the wrong partitions (empty results, not an error)
    val terms = Seq("spark", "dup", "batch", "ZzZ", "héllo", "",
      "a b", "中文", "0", "-1")
    for (n <- Seq(1, 2, 64, 97)) {
      val engine = terms.toDF("token")
        .select(pmod(xxhash64($"token"), lit(n.toLong))).as[Long]
        .collect().toSeq.distinct
      assert(Bm25.termBuckets(spark, terms, n) === engine,
        s"driver eval drifted from the engine at nBuckets=$n")
    }
  }
}
