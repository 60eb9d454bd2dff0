package perfbench

import java.nio.file.{Files, Path}

import graft.app.{CompareModels, Preprocess, Score, Train}
import graft.sources.SentimentCsv
import perfbench.Main.{Iteration, require}

/** The paper's pipeline over the generated raw CSV: preprocess, charts
  * over the re-read clean output, LR/NB/SVM training, model comparison
  * and batch scoring with the LR model. One iteration is one chain. */
final class SentimentChain(ctx: Main.Ctx) extends Workload {
  private val spark = ctx.spark
  private val raw = ctx.inputs.resolve("raw").toString
  private val meta = Io.readJson(ctx.inputs.resolve("chain.json"))
  private val expectedClean = meta.get("keep").asLong
  private val models = Seq("lr", "nb", "svm")
  // the keys of the reference's lr_metrics.json
  private val metricKeys = Set("accuracy", "f1", "roc_auc", "confusion_matrix")

  private def dir(i: Int): Path = ctx.work.resolve(s"chain-$i")

  /** The warm-up chain skips LinearSVC: LR's fit warms the code the two
    * share (tokenize, stop words, TF-IDF, treeAggregate over 2^18-wide
    * gradients), after which a first SVM fit measured no slower than a
    * second (11.28 s vs 11.27 s, 20k rows, 4 cores), while a warm SVM fit
    * would add about 11 s to every run's set-up. */
  def warm(it: Iteration): Unit = chain(dir(-1), Seq("lr", "nb"), it)

  override def cleanup(i: Int): Unit = {
    Io.deleteTree(dir(-1))
    Io.deleteTree(dir(i))
  }

  def iteration(i: Int, it: Iteration): Unit = chain(dir(i), models, it)

  private def chain(d: Path, models: Seq[String], it: Iteration): Unit = {
    Io.deleteTree(d)
    Files.createDirectories(d)
    def p(s: String) = d.resolve(s).toString

    ctx.op(it, "preprocess", "app.preprocess")(
      Preprocess.run(spark, raw, p("clean"))) { _ =>
      if (ctx.damaged("preprocess")) ctx.damage(d.resolve("clean"))
      val parts = Io.list(d.resolve("clean"))
        .count(_.getFileName.toString.startsWith("part-"))
      require(parts == 4, s"clean output has $parts part files, expected 4")
      val n = SentimentCsv.readClean(spark, p("clean")).count()
      require(n == expectedClean, s"clean rows $n, generator expects $expectedClean")
    }

    ctx.op(it, "preprocess_stats", "app.preprocess_stats") {
      val written = SentimentCsv.readClean(spark, p("clean")).persist()
      try Preprocess.writeCharts(spark, raw, written, p("charts"))
      finally written.unpersist()
    } { _ =>
      Seq("label_distribution.svg", "length_before_after.svg").foreach { f =>
        val svg = d.resolve("charts").resolve(f)
        require(Files.exists(svg) && Files.size(svg) > 0, s"chart $f missing")
      }
    }

    val accuracy = models.flatMap { kind =>
      ctx.op(it, s"train_$kind", s"app.train_$kind") {
        val r = Train.run(spark, kind, p("clean"), p(s"model_$kind"),
          p(s"${kind}_metrics.json"))
        r.close()
        r.metrics.accuracy
      } { acc =>
        val path = d.resolve(s"${kind}_metrics.json")
        if (ctx.damaged(s"train_$kind")) Files.writeString(path, "{}")
        val json = Io.readJson(path)
        val keys = json.fieldNames()
        var seen = Set.empty[String]
        while (keys.hasNext) seen += keys.next()
        require(seen == metricKeys, s"$kind metrics keys $seen, expected $metricKeys")
        require(json.get("accuracy").asDouble == acc, s"$kind metrics JSON disagrees")
        require(acc > 0.6, s"$kind held-out accuracy $acc: the model did not learn")
      }
    }
    if (accuracy.size == models.size)
      it.extra("model_accuracy") = accuracy.min.toString

    ctx.op(it, "compare", "app.compare")(
      CompareModels.run(spark, p("comparison.json"),
        models.map(k => k -> p(s"${k}_metrics.json")))) { best =>
      require(models.contains(best), s"best model '$best'")
      require(Files.exists(d.resolve("comparison.svg")), "comparison chart missing")
    }

    ctx.op(it, "score", "app.score")(
      Score.run(spark, p("model_lr"), p("clean"), p("scored"))) { n =>
      if (ctx.damaged("score")) ctx.damage(d.resolve("scored"))
      val reread = spark.read.parquet(p("scored")).count()
      require(n == expectedClean && reread == expectedClean,
        s"scored $n (re-read $reread), clean rows $expectedClean")
    }
  }
}
