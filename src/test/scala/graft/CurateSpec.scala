package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RegExpReplace
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.app.Curate
import graft.operators.{Similarity, TextClean}
import graft.sources.PartitionedParquet

/** The full curation pipeline composed end-to-end on the sf0.001 fixture:
  * funnel monotonicity, sink round-trips, and packing coverage. */
class CurateSpec extends SparkSpec {
  import spark.implicits._

  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("graft-curate").toString
  private lazy val result = Curate.run(spark, sf001, outDir)

  test("funnel is monotonically non-increasing and ends non-empty") {
    val counts = result.funnel.map(_._2)
    assert(result.funnel.map(_._1) ===
      Seq("input", "quality_gate", "exact_dedup", "near_dedup", "mixed"))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"funnel not monotone: ${result.funnel}")
    assert(counts.last > 0)
  }

  test("a run leaves the caller's session serializable") {
    // closures that capture the session (an ML model holding its
    // training summary) serialize it; the funnel's observations must not
    // leave it holding an unserializable ObservationManager
    assert(result.funnel.nonEmpty)
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
      .writeObject(spark)
  }

  test("curated sink round-trips partitioned by lang") {
    val back = PartitionedParquet.read(spark, s"$outDir/curated")
    assert(back.count() === result.curated.count())
    // partition pruning works on the sink
    val plan = back.filter($"lang" === "en")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
  }

  test("packing covers every curated document exactly once") {
    val packed = spark.read.parquet(s"$outDir/packed")
    assert(packed.count() === result.curated.count())
    assert(packed.select($"doc_id").distinct().count() === result.curated.count())
  }

  test("curated text is PII-redacted by default") {
    // the pipeline scrubs before any content-derived signal; a curated
    // corpus must contain no email/URL-shaped strings
    val leaky = result.curated.filter(
      $"text".rlike(graft.operators.TextClean.PiiEmailPattern) ||
        $"text".rlike(graft.operators.TextClean.PiiUrlPattern)).count()
    assert(leaky === 0)
  }

  test("benchmark decontamination drops every contaminated doc") {
    import graft.operators.{TextClean, TokenOps}
    val benchDir =
      java.nio.file.Files.createTempDirectory("graft-bench").toString
    Tables.documents(spark, sf001).filter($"doc_id" % 25 === 0)
      .write.mode("overwrite").parquet(s"$benchDir/documents.parquet")
    val out2 =
      java.nio.file.Files.createTempDirectory("graft-curate-dc").toString
    val r = Curate.run(spark, sf001, out2,
      Curate.Config(benchmarkDir = Some(benchDir)))
    assert(r.funnel.map(_._1).contains("decontaminated"))
    val benchFp = Tables.documents(spark, benchDir)
      .select(TokenOps.bagOfWordsFingerprint(
        TextClean.redact($"text")).as("fp"))
    val leak = r.curated
      .select(TokenOps.bagOfWordsFingerprint($"text").as("fp"))
      .join(benchFp, "fp").count()
    assert(leak === 0, "contaminated documents survived curation")
    assert(r.curated.count() > 0)
  }

  test("curated rows satisfy the gate and are fingerprint-unique") {
    val curated = result.curated
    assert(curated.filter($"quality" < 0.55 || $"n_tokens" < 5).count() === 0)
    val fpDups = curated
      .groupBy(graft.operators.TokenOps.bagOfWordsFingerprint($"text"))
      .count().filter($"count" > 1).count()
    assert(fpDups === 0, "exact duplicates survived curation")
  }

  test("ingest --stream drains each landed file exactly once, matching the batch gate") {
    // stage/run/stage/run/no-op: the checkpointed end-to-end main wiring
    // Curate.gate over Incremental.runParquet (graft.app.Ingest).
    val in = java.nio.file.Files.createTempDirectory("graft-ingest-in")
    val ck = java.nio.file.Files.createTempDirectory("graft-ingest-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ingest-out")
      .toString + "/gated"
    def stage(name: String): Unit =
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf001/documents.parquet"), in.resolve(name))
    val schema = Tables.documents(spark, sf001).schema
    def runOnce(): Unit =
      graft.app.Ingest.runOnce(spark, in.toString, schema, ck, out)

    val batch = Curate.gate(Tables.documents(spark, sf001))
      .select($"doc_id", $"text", $"lang", $"source", $"n_tokens", $"quality")
    val perFile = batch.count()
    assert(perFile > 0)

    stage("a.parquet"); runOnce()
    // gated output == batch gate output, column for column
    assert(spark.read.parquet(out).collect().toSet === batch.collect().toSet)
    // second run with a new file: ONLY the new file's rows are appended
    stage("b.parquet"); runOnce()
    assert(spark.read.parquet(out).count() === 2 * perFile)
    // no new files: a re-run emits nothing
    runOnce()
    assert(spark.read.parquet(out).count() === 2 * perFile)
  }

  test("row-local gate streams: streaming output == batch output") {
    // the gate is row-local (a generator and a filter), so the SAME
    // function runs on a file stream — ingest-time curation
    val dir = java.nio.file.Files.createTempDirectory("graft-gate-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/documents.parquet"),
      dir.resolve("documents.parquet"))
    val batchIn = Tables.documents(spark, sf001)
    val streamIn = spark.readStream.schema(batchIn.schema)
      .parquet(dir.toString)
    val q = Curate.gate(streamIn).writeStream.outputMode("append")
      .format("memory").queryName("gate_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("gate_out")
        .select($"doc_id", $"text", $"quality").collect().toSet
      val batch = Curate.gate(batchIn)
        .select($"doc_id", $"text", $"quality").collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("optional per-source cap bounds every source and shows in the funnel") {
    val out =
      java.nio.file.Files.createTempDirectory("graft-curate-cap").toString
    val r = Curate.run(spark, sf001, out,
      Curate.Config(maxPerSource = Some(3)))
    assert(r.funnel.map(_._1).contains("source_cap"))
    val perSource = r.curated.groupBy($"source").count()
      .as[(String, Long)].collect()
    assert(perSource.nonEmpty && perSource.forall(_._2 <= 3), perSource.toSeq)
    // funnel stays monotone through the new stage
    val counts = r.funnel.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a }, r.funnel)
  }

  /** The PII URL redactions in `df`'s executed plan, AQE stages included. */
  private def urlRedactions(df: DataFrame): Int = {
    df.collect()
    object Plans extends AdaptiveSparkPlanHelper
    Plans.flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(
      _.collect { case r: RegExpReplace if r.regexp.foldable &&
        String.valueOf(r.regexp.eval()) == TextClean.PiiUrlPattern => r })).size
  }

  test("the gate redacts each row once: one PII URL regex in the plan") {
    val raw = Tables.documents(spark, sf001)
    assert(urlRedactions(Curate.gate(raw)) === 1)
    // the frame Curate.run checkpoints
    assert(urlRedactions(
      Curate.dedupedGate(Similarity.spread(raw), Curate.Config())) === 1)
  }

  test("the gate stage of a one-file input runs in defaultParallelism tasks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    assert(Tables.documents(spark, sf001).rdd.getNumPartitions === 1)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Int)]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo.rddInfos.flatMap(_.scope.map(_.name)) ->
          e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try Curate.run(spark, sf001,
      java.nio.file.Files.createTempDirectory("graft-curate-par").toString)
    finally {
      org.apache.spark.ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    // the gate runs in the map stage of the checkpointed exact-dedup
    // frame's exchange: the stage that holds the gate's generator
    import scala.jdk.CollectionConverters._
    val gate = stages.asScala.toSeq.filter(_._1.contains("Generate"))
    assert(gate.nonEmpty && gate.map(_._2).max === sc.defaultParallelism,
      stages.asScala.toSeq)
  }

  /** The funnel recomputed with the pipeline's own definitions, applied
    * one stage at a time: the gate as a Filter over `qualityScore`'s
    * columns of the redacted text, exact dedup on the text's
    * fingerprint, MinHash pairs over the survivors' text. */
  private def recomputedFunnel(config: Curate.Config): Seq[(String, Long)] = {
    import graft.operators._
    val raw = Tables.documents(spark, sf001)
    val redacted = raw.withColumn("text", TextClean.redact($"text"))
    val (nTok, _, q) = TokenOps.qualityScore($"text")
    val gated = redacted.withColumn("n_tokens", nTok).withColumn("quality", q)
      .filter($"quality" >= config.minQuality && $"n_tokens" >= config.minTokens)
      .localCheckpoint()
    val exact = Dedup.exactByFingerprint(gated,
      TokenOps.bagOfWordsFingerprint($"text"), $"doc_id").localCheckpoint()
    val near = DedupGroups.resolve(exact, "doc_id",
      MinHashDedup.nearDuplicates(exact, "doc_id", "text",
        threshold = config.jaccardThreshold)).localCheckpoint()
    val capped = config.maxPerSource.map(k => Sampling.capPerStratum(near,
      "doc_id", $"text", "source", k, config.seed))
    val mixed = Sampling.mixByStratum(capped.getOrElse(near), $"text",
      $"lang", config.langFractions, config.defaultFraction, config.seed)
    Seq("input" -> raw.count(), "quality_gate" -> gated.count(),
      "exact_dedup" -> exact.count(), "near_dedup" -> near.count()) ++
      capped.map(c => "source_cap" -> c.count()) :+ ("mixed" -> mixed.count())
  }

  test("the funnel equals its counts recomputed stage by stage") {
    assert(result.funnel === recomputedFunnel(Curate.Config()))
    val capped = Curate.Config(maxPerSource = Some(3))
    val r = Curate.run(spark, sf001,
      java.nio.file.Files.createTempDirectory("graft-curate-cap2").toString,
      capped)
    assert(r.funnel === recomputedFunnel(capped))
  }

  test("a run checkpoints one corpus-sized frame") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
    import org.apache.spark.storage.RDDBlockId
    val sc = spark.sparkContext
    // bytes per (rdd, block), the last update of each block
    val blocks = new java.util.concurrent.ConcurrentHashMap[(Int, String), Long]
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case b: RDDBlockId => blocks.put(b.rddId -> b.name,
            e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try Curate.run(spark, sf001,
      java.nio.file.Files.createTempDirectory("graft-curate-ckpt").toString)
    finally {
      org.apache.spark.ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val perRdd = blocks.asScala.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
    // corpus-sized: at least half the largest checkpointed frame (the
    // band table and the pair list are far below that)
    val corpusSized = perRdd.values.count(_ * 2 >= perRdd.values.max)
    assert(corpusSized === 1, perRdd)
  }
}
