package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Duplicate-GROUP resolution: near-dup detectors (MinHash, SimHash,
  * embedding cosine) emit PAIRS, but a dedup pipeline must drop whole
  * transitive groups — A~B and B~C puts A,B,C in one group even when
  * A~C itself fell below threshold. pairs → connected components →
  * survivor per component → anti-join drop.
  *
  * Two component engines behind one API, picked by edge count:
  *
  *  - '''small graphs (the normal dedup case)''': candidate pairs are a
  *    tiny fraction of the corpus (dup-rate × corpus, post-LSH), so the
  *    edge list — NOT the corpus — is collected to the driver and solved
  *    with union-find in O(E α(E)), then broadcast back as a mapping.
  *    One collect, bounded at [[CollectThreshold]] + 1 rows, both picks
  *    the engine and IS the edge list: the pair set (often an expensive
  *    similarity join) runs once, with no checkpoint and no count job,
  *    and replaces a multi-round join loop whose per-round fixed cost (2
  *    shuffles + a checkpoint + a count) dwarfs the actual work at this
  *    size. Even at 100 TB corpus scale, 2M duplicate PAIRS is ~32 MB —
  *    driver-safe.
  *  - '''large graphs''': iterative min-label propagation with pointer
  *    jumping (comp-of-comp), converging in O(log diameter) rounds;
  *    each round is one neighbor-min shuffle + one self-join. For
  *    adversarially long chains beyond that, the same join primitives
  *    extend to large-star/small-star (Kiveris et al., "Connected
  *    Components in MapReduce and Beyond", SoCC'14). Lineage per round
  *    is cut with localCheckpoint (iterative self-joins otherwise stack
  *    exponentially growing plans). The pair set is checkpointed first
  *    (the bounded collect's rows are not the whole of it).
  *
  * [[resolve]] drops the non-survivors with an anti-join against the
  * loser set: broadcast from the driver's labels on the small path (one
  * narrow stage over the input, cheap for several readers to re-run),
  * and materialized on the distributed path, where it is a shuffle join.
  */
object DedupGroups {

  /** Edge lists at or below this row count are solved on the driver.
    * Honest sizing: 500k collected Rows with boxed long keys plus the
    * two union-find hash maps cost on the order of 100-150 MB of
    * transient driver heap (string keys proportionally more) — safe on
    * any realistically-confed driver, while still far above typical
    * post-LSH duplicate-pair counts. Beyond it, the distributed loop
    * runs; raise explicitly only with driver memory to match. */
  val CollectThreshold = 500000L

  /** (id, component) for every row of `ids`, where component = min id
    * reachable through `pairs` (id_a, id_b). Vertices without any pair
    * are their own singleton component.
    *
    * Component labels are computed over the PAIR vertex set only — in a
    * dedup workload that's a small fraction of the corpus — and stamped
    * onto the full `ids` frame in one final left join (broadcast when
    * the label map came from the driver path: it is a LocalRelation of
    * pair-vertices, always small relative to `ids`). Note: pairs whose
    * endpoints are not in `ids` still participate in traversal and can
    * become the component min; see [[resolve]] for the guarded form. */
  def connectedComponents(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxRounds: Int = 25,
      collectThreshold: Long = CollectThreshold): DataFrame = {
    val (labels, small) = pairComponents(pairs, maxRounds, collectThreshold)
    ids.select(col(idCol).as("id"))
      .join(if (small) broadcast(labels) else labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** (id, comp) over the vertices of `pairs` only, and whether the
    * labels came from the driver path (a small LocalRelation). One
    * collect of at most `collectThreshold` + 1 edges picks the path; on
    * the driver path it is the whole edge list, so `pairs` runs once. */
  private def pairComponents(pairs: DataFrame, maxRounds: Int,
      collectThreshold: Long): (DataFrame, Boolean) = {
    val p = pairs.select(col("id_a"), col("id_b"))
    val edges = p.limit(math.min(collectThreshold + 1, Int.MaxValue).toInt)
      .collect()
    if (edges.length <= collectThreshold)
      (driverComponents(p, edges), true)
    else (distributedComponents(p.localCheckpoint(), maxRounds), false)
  }

  /** Driver-side union-find over a collected edge list: path-compressed
    * find, union by attachment, then one pass labeling every vertex with
    * its component's min id. Returns a LocalRelation (id, comp) typed
    * like `p`'s edge columns. */
  private def driverComponents(p: DataFrame, edges: Array[Row]): DataFrame = {
    val spark = p.sparkSession
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val a = row.get(0); val b = row.get(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(ra, rb)
      }
    }
    // min id per root, matching the SQL min() ordering for the id types
    // dedup keys actually use (integral, string; numeric fallback).
    // Strings compare by UTF-8 BYTE order (UTF8String), not Java UTF-16
    // code units: the distributed path's min() orders UTF8String bytes,
    // and for supplementary-plane ids the two orders differ — the chosen
    // survivor must not depend on which side of CollectThreshold the
    // edge count landed.
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => x < y
      case (x: java.lang.Integer, y: java.lang.Integer) => x < y
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      case (x: java.lang.Number, y: java.lang.Number) =>
        x.doubleValue < y.doubleValue
      case _ => throw new IllegalArgumentException(
        s"unsupported id type for dedup components: ${a.getClass}")
    }
    val minOf = new java.util.HashMap[Any, Any]()
    parent.keySet().forEach { v =>
      val r = find(v)
      val cur = minOf.get(r)
      if (cur == null || lt(v, cur)) minOf.put(r, v)
    }
    val out = new java.util.ArrayList[Row](parent.size())
    parent.keySet().forEach(v => out.add(Row(v, minOf.get(find(v)))))
    val idType = p.schema("id_a").dataType
    spark.createDataFrame(out, StructType(Seq(
      StructField("id", idType), StructField("comp", idType))))
  }

  /** Iterative min-label propagation + pointer jumping over `edges`
    * vertices; the scale path when the edge list exceeds the collect
    * threshold. */
  private def distributedComponents(p: DataFrame, maxRounds: Int): DataFrame = {
    val edges = p
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint()
    // Loop shuffles run at session shuffle partitioning; AQE coalesces
    // the tiny post-shuffle partitions. (Deliberately NOT mutating the
    // session's shuffle.partitions conf here: a library operator must
    // not reconfigure concurrent queries on a shared session.)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      // min over neighbors' labels, per vertex...
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("comp")).as("ncomp"))
      // ...and pointer-jump through the own label (comp of comp):
      // neighbor propagation alone needs diameter rounds (a chain of
      // k sequential near-dups takes k rounds); the jump halves the
      // remaining path each round -> O(log diameter) total. Label ids
      // are unique in `labels`, so the rename-join is 1:1.
      val jumped = labels
        .join(labels.select(col("id").as("comp"), col("comp").as("jcomp")),
          Seq("comp"), "left")
      val step = jumped.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(least(col("comp"), coalesce(col("jcomp"), col("comp"))),
            coalesce(col("ncomp"), col("comp"))).as("newcomp"),
          col("comp"))
        .select(col("id"), col("newcomp").as("comp"),
          (col("newcomp") < col("comp")).as("changed"))
        .localCheckpoint()
      changed = step.filter(col("changed")).count()
      labels = step.select(col("id"), col("comp"))
      round += 1
    }
    if (round >= maxRounds && changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds")
    labels
  }

  /** Survivor selection + drop: keep exactly one row per duplicate
    * component (the min id — deterministic), all singletons untouched.
    *
    * Pairs are first restricted to edges whose BOTH endpoints exist in
    * `df` — a pair set mentioning foreign ids (e.g. pairs computed
    * against a superset corpus) would otherwise let a foreign id win
    * the component min, making every `df` row of that component
    * non-survivor and dropping the whole group.
    *
    * The drop is an anti-join against the losers (pair vertices whose
    * component is not themselves): broadcast on the driver path, so the
    * result is one narrow stage over `df`; checkpointed on the
    * distributed path, where the anti-join shuffles `df`. */
  def resolve(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val ids = df.select(col(idCol))
    val guarded = pairs
      .join(ids.select(col(idCol).as("id_a")).distinct(), Seq("id_a"), "left_semi")
      .join(ids.select(col(idCol).as("id_b")).distinct(), Seq("id_b"), "left_semi")
    val (labels, small) = pairComponents(guarded, 25, CollectThreshold)
    val losers = labels.filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    if (small) df.join(broadcast(losers), Seq(idCol), "left_anti")
    else df.join(losers, Seq(idCol), "left_anti").localCheckpoint()
  }
}
