package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: one client in a closed loop drives the
  * program through its public Scala API.
  *
  *   perfbench.Main --workload W --seed N --seconds T --trace 0|1
  *     --inputs DIR --work DIR --out FILE [--corrupt OP]
  *
  * Set-up (session start and the workload's untimed warm-up, which pays
  * JIT, codegen and memoized fits) ends at the first timed call. Timed
  * iterations then repeat until T seconds have passed. Every output is
  * checked; an exception or a failed check marks the operation failed.
  * `--corrupt OP` damages that operation's output before it is checked,
  * which the benchmark's own test uses to prove failures are counted.
  * The raw per-iteration record goes to FILE as JSON.
  */
object Main {

  final case class Op(name: String, seconds: Double, ok: Boolean, why: String)

  final class Iteration {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    var wallS = 0.0
    var peakMb = 0.0
    var spans: Map[String, SpanStats] = Map.empty
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, String]
  }

  final class Ctx(val spark: SparkSession, val tracer: Option[Tracer],
      val inputs: Path, val work: Path, val corrupt: String, val seed: Long) {
    def span[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))

    /** Time `call` as operation `name`; `check` then verifies its result
      * (outside the op's latency, inside the iteration's wall time). */
    def op[T](it: Iteration, name: String, spanName: String)(call: => T)(
        check: T => Unit): Option[T] = {
      val t0 = System.nanoTime()
      val r = try Right(span(spanName)(call)) catch { case NonFatal(e) => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      r match {
        case Left(e) =>
          it.ops += Op(name, s, ok = false, s"error: ${e.getMessage}"); None
        case Right(v) =>
          try {
            check(v)
            it.ops += Op(name, s, ok = true, ""); Some(v)
          } catch { case NonFatal(e) =>
            it.ops += Op(name, s, ok = false, s"check: ${e.getMessage}"); None
          }
      }
    }

    /** True when `--corrupt` names this operation: its check must first
      * damage the real output it is about to verify. */
    def damaged(name: String): Boolean = corrupt == name

    /** Delete the largest data file under `dir` (a damaged sink). */
    def damage(dir: Path): Unit = {
      val files = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(p => -Files.size(p))
      files.headOption.foreach(Files.delete)
    }
  }

  def require(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(msg)

  def main(args: Array[String]): Unit = {
    def arg(flag: String): String = {
      val i = args.indexOf(flag)
      if (i < 0 || i + 1 >= args.length)
        throw new IllegalArgumentException(s"missing $flag")
      args(i + 1)
    }
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val inputs = Paths.get(arg("--inputs"))
    val work = Paths.get(arg("--work"))
    val out = Paths.get(arg("--out"))
    val corrupt = if (args.contains("--corrupt")) arg("--corrupt") else ""
    Files.createDirectories(work)

    val spark = graft.app.Sessions.local(s"perfbench-$workload")
    val cores = spark.sparkContext.defaultParallelism
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val peak = new CachePeak(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, inputs, work, corrupt, seed)
    val wl: Workload = workload match {
      case "sentiment_chain" => new SentimentChain(ctx)
      case "curate_corpus" => new CurateCorpus(ctx)
      case "query_suite" => new QuerySuite(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: everything up to the first timed call
    val warmIt = new Iteration
    wl.warm(warmIt)
    tracer.foreach(_.takeIteration())
    System.gc()
    peak.takePeakMb()
    val firstTimedMs = System.currentTimeMillis()

    val iterations = scala.collection.mutable.ArrayBuffer.empty[Iteration]
    val t0 = System.nanoTime()
    while (iterations.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val it = new Iteration
      val s0 = System.nanoTime()
      wl.iteration(iterations.size, it)
      it.wallS = (System.nanoTime() - s0) / 1e9
      it.peakMb = peak.takePeakMb()
      it.spans = tracer.fold(Map.empty[String, SpanStats])(_.takeIteration())
      iterations += it
      wl.cleanup(iterations.size - 1)
      // checkpoint blocks of dropped frames are freed only after a GC
      // clears their references: each iteration starts from the same floor
      System.gc()
      peak.takePeakMb()
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def js(s: String) = graft.Telemetry.jstr(s)
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "jdk" -> js(System.getProperty("java.version")),
      "spark" -> js(spark.version),
      "scala" -> js(scala.util.Properties.versionNumberString),
      "seed" -> seed.toString,
      "workload" -> js(workload),
      "trace" -> trace.toString)
    def itJson(it: Iteration): String = {
      val ops = it.ops.map(o =>
        s"""{"name":${js(o.name)},"s":${o.seconds},"ok":${o.ok},"why":${js(o.why)}}""")
      val spans = it.spans.map { case (k, v) => js(k) + ":" + v.toJson(cores) }
      val extra = it.extra.map { case (k, v) => js(k) + ":" + v }
      s"""{"wall_s":${it.wallS},"peak_storage_mb":${it.peakMb},""" +
        s""""ops":${ops.mkString("[", ",", "]")},""" +
        s""""spans":${spans.mkString("{", ",", "}")},""" +
        s""""extra":${extra.mkString("{", ",", "}")}}"""
    }
    val json = s"""{"env":${env.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")},""" +
      s""""jvm_start_ms":$jvmStartMs,"first_timed_ms":$firstTimedMs,""" +
      s""""measured_s":$measuredS,"setup":${wl.setupJson},""" +
      s""""warm":${itJson(warmIt)},""" +
      s""""iterations":${iterations.map(itJson).mkString("[", ",", "]")}}"""
    Files.writeString(out, json + "\n")
    spark.stop()
  }
}

trait Workload {
  /** Untimed: warm-ups and one full iteration (JIT, codegen, fits),
    * checked like any other. */
  def warm(it: Main.Iteration): Unit
  def iteration(i: Int, it: Main.Iteration): Unit
  /** Untimed: remove iteration `i`'s outputs. */
  def cleanup(i: Int): Unit = ()
  def setupJson: String = "{}"
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }

  def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else Files.list(p).iterator().asScala.toSeq

  def readJson(p: Path): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
}
