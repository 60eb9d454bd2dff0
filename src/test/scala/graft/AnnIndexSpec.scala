package graft

import org.apache.spark.sql.functions._
import graft.ml.AnnIndex
import graft.operators.Similarity
import graft.sources.PartitionedParquet

/** Materialized ANN index: probe results must equal the scan-form
  * operators, and probes must prune partitions (never scan the index). */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001)
  private lazy val query: Seq[Double] =
    emb.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head().getSeq[Double](0)

  private lazy val hyperPath = {
    val p = java.nio.file.Files.createTempDirectory("graft-hyper").toString + "/idx"
    AnnIndex.buildHyperplane(emb, "vec_id", "embedding", p)
    p
  }

  test("hyperplane probe == scan-form annTopK") {
    val probe = AnnIndex.probeHyperplane(spark, hyperPath, query, k = 10,
        excludeId = Some(0L))
      .as[(Long, Double)].collect().toSeq
    val scan = Similarity.annTopK(emb.filter($"vec_id" =!= 0),
        "vec_id", "embedding", query, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(probe === scan)
    assert(probe.nonEmpty)
  }

  test("hyperplane probe prunes to the query's buckets (PartitionFilters)") {
    val probe = AnnIndex.probeHyperplane(spark, hyperPath, query, k = 10)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filters:\n$plan")
    assert(plan.contains("table_id"), s"bucket predicate not pushed:\n$plan")
    // and the filter is selective: candidates << index rows
    val indexRows = PartitionedParquet.read(spark, hyperPath).count()
    val candRows = AnnIndex.probeHyperplane(spark, hyperPath, query,
      k = Int.MaxValue).count()
    assert(candRows < indexRows / 4,
      s"probe read $candRows of $indexRows index rows")
  }

  test("batched probe == per-query probes for every query") {
    val index = PartitionedParquet.read(spark, hyperPath)
    val queries = emb.filter($"vec_id" < 5)
    val batch = AnnIndex.probeHyperplaneBatch(index, queries,
        "vec_id", "embedding", k = 5, excludeSelf = true)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq)
      .toMap
    assert(batch.keySet === Set(0L, 1L, 2L, 3L, 4L))
    for (qid <- batch.keySet) {
      val qv = emb.filter($"vec_id" === qid)
        .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
      val single = AnnIndex.probeHyperplane(index, qv, k = 5,
          tables = 16, bitsPerTable = 8, excludeId = Some(qid))
        .as[(Long, Double)].collect().toSeq
      assert(batch(qid) === single, s"mismatch for query $qid")
    }
  }

  test("quantized index: 8x smaller rows, high recall vs exact probe") {
    val p = java.nio.file.Files.createTempDirectory("graft-hyper-q")
      .toString + "/idx"
    AnnIndex.buildHyperplaneQuantized(emb, "vec_id", "embedding", p)
    val idx = PartitionedParquet.read(spark, p)
    assert(idx.columns.toSet === Set("id", "qc", "qs", "table_id", "bucket"))
    val exact = AnnIndex.probeHyperplane(spark, hyperPath, query, k = 10,
        excludeId = Some(0L))
      .as[(Long, Double)].collect().map(_._1).toSet
    val quant = AnnIndex.probeHyperplaneQuantized(idx, query, k = 10,
        excludeId = Some(0L))
      .as[(Long, Double)].collect().map(_._1).toSet
    // identical candidate sets (bucketing is on exact vectors); the
    // re-rank may swap near-ties, so assert strong overlap not equality
    assert(exact.intersect(quant).size >= 8,
      s"recall too low: exact=$exact quant=$quant")
  }

  test("wrong-dimension query is rejected, not silently mis-bucketed") {
    val index = PartitionedParquet.read(spark, hyperPath)
    val err = intercept[IllegalArgumentException] {
      AnnIndex.probeHyperplane(index, query ++ Seq(0.0), k = 5,
        tables = 16, bitsPerTable = 8, excludeId = None)
    }
    assert(err.getMessage.contains("dimension"))
  }

  test("quantized probe rejects a wrong-dimension query too") {
    val p = java.nio.file.Files.createTempDirectory("graft-hyper-qdim")
      .toString + "/idx"
    AnnIndex.buildHyperplaneQuantized(emb, "vec_id", "embedding", p)
    val idx = PartitionedParquet.read(spark, p)
    val err = intercept[IllegalArgumentException] {
      AnnIndex.probeHyperplaneQuantized(idx, query ++ Seq(0.0), k = 5)
    }
    assert(err.getMessage.contains("dimension"))
  }
}
