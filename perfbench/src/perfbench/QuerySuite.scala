package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.queries._
import perfbench.Main.{Iteration, require}

/** The declared queries over the generated fixture tables, grouped by
  * their nine query modules. One query per module is used (see
  * [[QuerySuite.Picks]]). One iteration is one pass over the subset, in an order
  * shuffled by the seed.
  *
  * Each result is materialized in full (collected, never `count()`ed,
  * which would let Catalyst prune projections and sorts). The untimed
  * warm pass writes every oracle-backed result to parquet, and the
  * caller compares it with DuckDB running `SparkEntry.oracleSql` on the
  * same tables; timed passes must reproduce the warm result's
  * order-insensitive hash. Queries without an oracle must return rows. */
final class QuerySuite(ctx: Main.Ctx) extends Workload {
  private val spark = ctx.spark
  private val tables = ctx.inputs.resolve("tables").toString
  private val oracle = SparkEntry.oracleSql

  val selected: Seq[(String, String, QueryModule#Q)] =
    QuerySuite.modules.map { case (module, m) =>
      val name = QuerySuite.Picks(module)
      (module, name, m.queries(name))
    }
  private val expected = scala.collection.mutable.Map.empty[String, Long]

  /** Two untimed passes. The first also pays the one-time model fits
    * (`SparkEntry.warmups`) the selected queries memoize; the fits of
    * queries outside the subset are never needed. */
  def warm(it: Iteration): Unit = {
    val verify = ctx.work.resolve("verify")
    Io.deleteTree(verify)
    Files.createDirectories(verify)
    selected.foreach { case (module, name, q) =>
      ctx.op(it, name, s"queries.$module")(run(q)) { case (schema, rows) =>
        expected(name) = QuerySuite.hash(rows)
        if (oracle.contains(name)) {
          val df = spark.createDataFrame(rows.asJava, schema).coalesce(1)
          df.write.parquet(verify.resolve(name).toString)
        } else require(rows.nonEmpty, s"$name returned no rows")
      }
    }
    val sql = selected.collect { case (_, n, _) if oracle.contains(n) =>
      graft.Telemetry.jstr(n) + ":" + graft.Telemetry.jstr(oracle(n))
    }
    Files.writeString(verify.resolve("oracle_sql.json"), sql.mkString("{", ",", "}"))
    // a second untimed pass: one execution each leaves the JIT cold
    iteration(-1, it)
  }

  override def setupJson: String =
    selected.map { case (m, n, _) => graft.Telemetry.jstr(s"$m.$n") }
      .mkString("""{"queries":[""", ",", "]}")

  private def run(q: QueryModule#Q): (org.apache.spark.sql.types.StructType, Seq[Row]) = {
    val df = q(spark, tables)
    (df.schema, df.collect().toSeq)
  }

  def iteration(i: Int, it: Iteration): Unit = {
    val order = new scala.util.Random(ctx.seed * 1000003L + i).shuffle(selected)
    order.foreach { case (module, name, q) =>
      ctx.op(it, name, s"queries.$module")(run(q)) { case (_, rows) =>
        val h = if (ctx.damaged(name)) QuerySuite.hash(rows.drop(1)) else QuerySuite.hash(rows)
        require(expected.get(name).contains(h) || !oracle.contains(name),
          s"$name result differs from its oracle-checked warm result")
        require(rows.nonEmpty || oracle.contains(name), s"$name returned no rows")
      }
    }
  }
}

object QuerySuite {
  /** One query per module: among the module's oracle-backed queries that
    * fit no memoized model and whose DuckDB oracle runs in under 0.3 s,
    * the one with the median latency in a traced pass of all 301
    * queries over sf0.01-sized generated tables (4 cores). A fit costs
    * 3-23 s on a cold JVM and some oracles take a minute, and a run has
    * well under a minute for set-up and checks, so the whole suite does
    * not fit in one run. */
  val Picks: Map[String, String] = Map(
    "Text" -> "q_source_entropy", "Token" -> "q_gopher_rules",
    "Relational" -> "q_unpivot", "Event" -> "q_json_agg",
    "Similarity" -> "q_embed_neardup", "Retrieval" -> "q_phrase_search",
    "Corpus" -> "q_source_kl", "ML" -> "q_confusion_pairs",
    "Multimodal" -> "q_media_resample")

  val modules: Seq[(String, QueryModule)] = Seq(
    "Text" -> TextQueries, "Token" -> TokenQueries,
    "Relational" -> RelationalQueries, "Event" -> EventQueries,
    "Similarity" -> SimilarityQueries, "Retrieval" -> RetrievalQueries,
    "Corpus" -> CorpusQueries, "ML" -> MLQueries,
    "Multimodal" -> MultimodalQueries)

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => "d" + java.lang.Double.toString(d)
    case f: Float => "f" + java.lang.Float.toString(f)
    case b: Array[Byte] => "b" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case other => other.getClass.getSimpleName + ":" + other.toString
  }

  /** Order-insensitive hash of a result: the sum of per-row hashes (a
    * multiset hash, so duplicate rows count) and the row count. */
  def hash(rows: Seq[Row]): Long = {
    var h = rows.size.toLong * 0x9E3779B97F4A7C15L
    rows.foreach { r =>
      val s = canon(r)
      h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 71).toLong & 0xffffffffL)
    }
    h
  }
}
