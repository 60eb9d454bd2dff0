package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic PageRank (Brin & Page 1998) over an undirected pair
  * graph — used here the way dedup pipelines use centrality: pick the
  * CANONICAL survivor of a duplicate cluster as its most-central member
  * instead of the arbitrary lowest id.
  *
  * Determinism discipline (the [[UnigramLM]] money-sum trick, applied to
  * power iteration): ranks live on an integer NANO grid (1e9 = mass 1).
  * Each iteration computes every node's out-contribution `round(pr /
  * deg)` as ONE rounded double op per node, then sums CONTRIBUTIONS AS
  * INTEGERS over in-neighbors — integer addition is order-free, so the
  * result is bit-identical across partitionings, engines, and the DuckDB
  * mirror's unrolled CTEs. Total mass ≤ 1e9·ε drift per iteration from
  * the per-node rounding; ranks are compared, not integrated, so the
  * nano quantization is beyond any decision boundary.
  *
  * Variant notes (chosen for a clean cross-engine contract, documented
  * rather than hidden): teleport term is `0.15/N`; ISOLATED nodes (no
  * edges) keep only the teleport term; dangling mass is NOT
  * redistributed (an undirected pair graph has no one-way dangling
  * nodes — every edge endpoint has degree ≥ 1).
  *
  * Scale shape: each iteration is one equi-join of the rank frame
  * against the edge list on the source id plus one `groupBy(dst)` sum —
  * the standard Pregel-in-DataFrames layout; state is one long per
  * node, edges never mutate, and `iters` is a small constant. The
  * degree frame is computed once.
  */
object PageRank {

  private val Nano = 1e9

  /** SQL twin of [[ranks]]' loop body — unrolled (contrib, in-sum,
    * rank) CTE triples `pc_k/ps_k/pr_k`. Callers provide `nodes(id)`,
    * `edges(src, dst)`, `deg(src, deg)`, `stats(n)`, and `pr0(id, pr)`
    * CTEs; ONE definition serves every PageRank mirror (the doc
    * near-dup graph and the TextRank word graph). */
  def iterSql(iters: Int): String =
    (1 to iters).map { k =>
      s"""pc$k AS (SELECT p.id,
         |           CAST(round(CAST(p.pr AS DOUBLE) / d.deg) AS BIGINT) AS c
         |         FROM pr${k - 1} p JOIN deg d ON p.id = d.src),
         |ps$k AS (SELECT e.dst AS id, sum(c.c) AS s
         |         FROM edges e JOIN pc$k c ON e.src = c.id GROUP BY e.dst),
         |pr$k AS (SELECT n2.id,
         |           CAST(round((1.0 - 0.85) * 1000000000.0 / st.n) AS BIGINT)
         |           + CAST(round(0.85 * CAST(COALESCE(s.s, 0) AS DOUBLE))
         |                  AS BIGINT) AS pr
         |         FROM nodes n2 CROSS JOIN stats st
         |         LEFT JOIN ps$k s ON n2.id = s.id)""".stripMargin
    }.mkString(",\n")

  /** (id, pr_nano) for every id in `ids`; `pairs` holds undirected edges
    * (id_a, id_b). `damping` defaults to the classic 0.85. */
  def ranks(ids: DataFrame, idCol: String, pairs: DataFrame,
      iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val n = ids.count()
    require(n > 0, "PageRank over an empty node set")
    val teleportNano = math.round((1.0 - damping) * Nano / n)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val init = ids.select(col(idCol).as("id"),
      lit(math.round(Nano / n)).as("pr"))
    var pr = init
    for (_ <- 1 to iters) {
      val contrib = pr
        .join(deg, pr("id") === deg("src"))
        .select(col("id"),
          round(col("pr").cast("double") / col("deg")).cast("long")
            .as("c"))
      val inSum = edges
        .join(contrib, edges("src") === contrib("id"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      pr = init.select(col("id"))
        .join(inSum, init("id") === inSum("dst"), "left")
        .select(col("id"),
          (lit(teleportNano) +
            round(lit(damping) * coalesce(col("s"), lit(0L)).cast("double"))
              .cast("long")).as("pr"))
    }
    pr.select(col("id"), col("pr").as("pr_nano"))
  }

  /** Canonical survivor per duplicate component: the member with the
    * highest rank, ties to the lowest id — every node labeled with its
    * component's canonical representative. Composes
    * [[DedupGroups.connectedComponents]] (the cluster structure) with
    * [[ranks]] (the centrality) without re-deriving either. */
  def canonical(ids: DataFrame, idCol: String, pairs: DataFrame,
      iters: Int, damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = DedupGroups.connectedComponents(ids, idCol, pairs)
    val pr = ranks(ids, idCol, pairs, iters, damping)
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("pr_nano").desc, col("id"))
    comps.join(pr, "id")
      .withColumn("canonical", first(col("id")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("id"), col("comp").as("component"), col("pr_nano"),
        col("canonical"))
  }
}
