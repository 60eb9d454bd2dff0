package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Upsert}

/** Star-schema relational layer (SURVEY.md §7 step 5): equi joins
  * (broadcast + shuffled), semi/anti joins, exact dedup, distinct
  * counting, top-k, set operations, rollup.
  *
  * Money-sum determinism: `sum(double)` is addition-order-dependent, and
  * even per-row `round(double, 2)` differs across engines (Spark rounds
  * the double's shortest decimal rendering, DuckDB the exact binary
  * value). Money aggregates therefore convert to EXACT integer cents
  * first — `round(x * 100)` is unambiguous because the source data is
  * 2dp — sum exactly as DECIMAL (no 64-bit overflow even at 100 TB), and
  * divide back to dollars once, at the end. This is also what a
  * production ledger pipeline should do anyway.
  */
object RelationalQueries extends QueryModule {

  /** Exact integer cents of a 2dp-valued double column. */
  private def cents(c: Column): Column = graft.functions.Money.cents(c)
  private def centsSql(e: String): String = graft.functions.Money.centsSql(e)

  /** One SQL text, two engines (q_sql_pricing): Spark SQL ∩ DuckDB
    * dialect subset, exact-cents money sums. */
  private val SharedPricingSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(CAST(round(l_quantity * 100) AS BIGINT)
      |    AS DECIMAL(20,0))) AS DOUBLE) / 100.0 AS sum_qty,
      |  CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    AS DECIMAL(20,0))) AS DOUBLE) / 100.0 AS sum_base_price,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // Per-lineitem revenue in units of 1e-4 dollars, exact:
  // price_cents * (100 - discount_percent). DECIMAL(20,0) term so the
  // sum is a 38-digit exact accumulator on both engines.
  private def revenueTerm =
    (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
      .cast("decimal(20,0)")
  private val revenueTermSql =
    s"CAST(${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")}) AS DECIMAL(20,0))"

  /** Exact decimal sum rendered as dollars (double). */
  private def dollars(sumCol: Column, scale: Double): Column =
    sumCol.cast("double") / scale

  /** One SQL text, two engines (q_grouping_sets) — the NULL→'ALL'
    * coalesce convention of q_rollup/q_cube. */
  private val SharedGroupingSetsSql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  val queries: Map[String, Q] = Map(
    // 4-dim star join. region/nation are tiny → explicit broadcast;
    // customer/orders are left to Catalyst + AQE (at 100 TB they exceed
    // any broadcast threshold and become shuffled hash / sort-merge on
    // the join keys — forcing broadcast here would be a scale bug).
    "q_join_star" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("l_returnflag"))
        .agg(dollars(sum(revenueTerm), 1e4).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("r_name"), col("l_returnflag"))
    }),

    // TPC-H Q1 shape: wide aggregate over the fact table, single shuffle
    // on the (tiny-cardinality) group key with map-side partial agg.
    "q_agg_pricing" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dollars(sum(cents(col("l_quantity")).cast("decimal(20,0)")), 1e2)
            .as("sum_qty"),
          dollars(sum(cents(col("l_extendedprice")).cast("decimal(20,0)")), 1e2)
            .as("sum_base_price"),
          dollars(sum(revenueTerm), 1e4).as("sum_disc_price"),
          (sum(cents(col("l_discount"))).cast("double") /
            (count(lit(1)) * lit(100.0))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // Left-semi: customers with at least one finished order (EXISTS).
    "q_semi_join" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Left-anti: parts with no 1999 shipment (NOT EXISTS).
    "q_anti_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      Tables.part(s, d)
        .join(li, col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    }),

    // Deterministic exact dedup (survivor = min doc_id per key).
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), Seq("lang", "source"), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("lang"), col("source"))),

    // Duplicate-group statistics (aggregation form, no window).
    "q_dedup_stats" -> ((s, d) =>
      Dedup.dupStats(Tables.documents(s, d), Seq("lang", "source"), "doc_id")
        .orderBy(col("lang"), col("source"))),

    // Exact distinct count per group (shuffle on group+distinct key,
    // Spark expands to two-phase agg automatically).
    "q_count_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))),

    // HLL++ approximate distinct — deterministic per engine but not
    // cross-engine, so rows-only + accuracy property test (DedupSpec).
    "q_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("n_parts_approx"))
        .orderBy(col("l_returnflag"))),

    // Executable data-quality contract: all rules counted in ONE
    // aggregation over the corpus (violations per rule).
    "q_expectations" -> ((s, d) => {
      import graft.operators.Expectations._
      check(Tables.documents(s, d),
        Seq(notNull("text"),
          inRange("n_chars", lit(1), lit(100000)),
          matches("lang", "^[a-z]{2}$")),
        uniqueKeys = Seq("doc_id"))
    }),

    // One-pass column profile (nulls / exact distinct / min / max per
    // column) — the pre-commit data-quality report.
    "q_profile" -> ((s, d) =>
      graft.operators.Profiling.profile(
          Tables.documents(s, d), Seq("doc_id", "lang", "source"))
        .orderBy(col("column"))),

    // Snapshot profile DIFF — the table-shape drift report between two
    // versions (Profiling.profileDiff): per column, both sides' counts,
    // the null-rate delta, and whether the min/max envelope moved. The
    // "new" snapshot derives deterministically on both engines (rows
    // %11 dropped, lang nulled on %13) — the three upstream-breakage
    // signatures (null spike / distinct collapse / envelope jump) all
    // light up.
    "q_profile_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mutated = docs.filter(col("doc_id") % 11 =!= 0)
        .withColumn("lang",
          when(col("doc_id") % 13 === 0, lit(null)).otherwise(col("lang")))
      graft.operators.Profiling.profileDiff(docs, mutated,
          Seq("doc_id", "lang", "source"))
        .orderBy(col("column"))
    }),

    // Mutual information I(lang; source) in nats — the association /
    // leakage screen beside chi²: how much one categorical column
    // reveals about another (Profiling.mutualInformation; contingency
    // cell table + margin windows, nano-grid terms).
    "q_mutual_info" -> ((s, d) =>
      graft.operators.Profiling.mutualInformation(
        Tables.documents(s, d), "lang", "source")),

    // Mergeable-sketch rollup — the 100 TB distinct-counting pattern:
    // build one datasketches-HLL sketch per (day, event_type) partition
    // (a partial agg any ingestion job can precompute and persist), then
    // answer "distinct users per event_type over any day range" by
    // UNIONING sketches — no re-scan of the raw events, no exact
    // distinct shuffle. Rows-only (sketch internals have no DuckDB
    // mirror); estimate accuracy + merge associativity are asserted in
    // RelationalSpec.
    "q_hll_rollup" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      daily.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("approx_users"),
          count(lit(1)).as("n_days"))
        .orderBy(col("event_type"))
    }),

    // Mergeable quantile digests (the GK member of the sketch triad
    // beside q_hll_rollup's HLL and q_heavy_hitters' Misra-Gries):
    // per-day order-amount digests, merged WITHOUT re-scanning raw
    // orders, p50/p90/p99 extracted from the union. Digest internals
    // are partitioning-dependent within the eps guarantee ⇒ rows-only;
    // QuantileSketchSpec proves the rank bound vs exact sorted data.
    "q_quantile_rollup" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(graft.functions.QuantileSketch
          .gk_sketch_agg(col("o_totalprice").cast("double"), 0.01).as("sk"))
      daily
        .agg(graft.functions.QuantileSketch.gk_union_agg(col("sk")).as("sk"),
          count(lit(1)).as("n_days"))
        .select(col("n_days"), posexplode(graft.functions.QuantileSketch
          .gk_quantiles(col("sk"), array(lit(0.5), lit(0.9), lit(0.99)))))
        .select(
          element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("pos") + 1)
            .as("p"),
          round(col("col"), 2).as("value"), col("n_days"))
        .orderBy(col("p"))
    }),

    // SQL-first entry path: the SAME SQL text runs through spark.sql
    // over registered views AND as the DuckDB oracle — proving a
    // SQL-only user gets identical results from this engine (dialect
    // kept to the shared subset; exact-cents discipline inline).
    "q_sql_pricing" -> ((s, d) => {
      Tables.registerViews(s, d)
      s.sql(SharedPricingSql)
    }),

    // Explicit GROUPING SETS — the arbitrary-set-list member of the
    // grouping family (rollup and cube above are its two canned
    // specializations; this set list ((status), (priority), ()) is
    // expressible by NEITHER). One SQL text, two engines, like
    // q_sql_pricing; Spark plans the same single Expand + one hash
    // aggregation as cube — rows replicate |sets|-fold map-side, one
    // shuffle, no per-set rescan.
    "q_grouping_sets" -> ((s, d) => {
      Tables.registerViews(s, d)
      s.sql(SharedGroupingSetsSql)
    }),

    // FULL OUTER reconciliation — the one join type with no query id
    // yet: daily order counts vs daily ship counts, days present on
    // either side only surfacing with zeros. Aggregate-then-join: both
    // sides shrink to day-cardinality BEFORE the join, so the full
    // outer moves calendar-sized frames, never facts.
    "q_full_outer" -> ((s, d) => {
      val od = Tables.orders(s, d)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val sd = Tables.lineitem(s, d)
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_ships"))
      od.join(sd, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_ships"), lit(0L)).as("n_ships"))
        .orderBy(col("day"))
    }),

    // MERGE INTO semantics, Spark-native (operators/Upsert): update rows
    // win on key match, unmatched update rows insert, everything else
    // carries over — ONE left-anti join against the update keys (never a
    // full-outer of both sides). The update batch here exercises BOTH
    // arms: matched (customers with >= 18 orders re-segmented 'VIP') and
    // inserted (one 'HOUSE' account per nation, keyed past the max via a
    // broadcast 1-row stats frame — no driver collect).
    "q_merge_upsert" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val heavy = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 18)
        .select(col("o_custkey").as("c_custkey"))
      val matched = cust.join(heavy, "c_custkey")
        .withColumn("c_mktsegment", lit("VIP"))
        .select(cust.columns.map(col): _*)
      val base = cust.agg((max(col("c_custkey")) + 1L).as("base"))
      val inserts = Tables.nation(s, d).crossJoin(broadcast(base))
        .select(
          (col("base") + col("n_nationkey")).as("c_custkey"),
          concat(lit("House#"), col("n_name")).as("c_name"),
          col("n_nationkey").as("c_nationkey"),
          lit(0.0).as("c_acctbal"),
          lit("HOUSE").as("c_mktsegment"))
      Upsert.upsert(cust, matched.unionByName(inserts), Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    // The MERGE triple with a DELETE arm (operators/Upsert.applyCdc):
    // one CDC batch exercising all three ops — heavy customers (>= 18
    // orders) re-segmented 'VIP' (U), churned low-activity customers
    // (< 4 orders) purged (D), one 'HOUSE' account per nation inserted
    // past the max key
    // (I). Same one-anti-join shape as q_merge_upsert; deletes are rows
    // that simply never union back.
    "q_cdc_apply" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val orderCounts = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      val updates = cust
        .join(orderCounts.filter(col("n") >= 18)
          .select(col("o_custkey").as("c_custkey")), "c_custkey")
        .withColumn("c_mktsegment", lit("VIP"))
        .select(cust.columns.map(col) :+ lit("U").as("op"): _*)
      val deletes = cust
        .join(orderCounts.filter(col("n") < 4)
          .select(col("o_custkey").as("c_custkey")), "c_custkey")
        .select(cust.columns.map(col) :+ lit("D").as("op"): _*)
      val base = cust.agg((max(col("c_custkey")) + 1L).as("base"))
      val inserts = Tables.nation(s, d).crossJoin(broadcast(base))
        .select(
          (col("base") + col("n_nationkey")).as("c_custkey"),
          concat(lit("House#"), col("n_name")).as("c_name"),
          col("n_nationkey").as("c_nationkey"),
          lit(0.0).as("c_acctbal"),
          lit("HOUSE").as("c_mktsegment"),
          lit("I").as("op"))
      Upsert.applyCdc(cust,
          updates.unionByName(deletes).unionByName(inserts),
          Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    // CDC feed GENERATION (Upsert.snapshotDiff — the inverse of
    // q_cdc_apply): diff two full order-book snapshots into the minimal
    // I/U/D batch. The "new" snapshot derives deterministically from
    // the raw table on BOTH engines: keys %97 deleted, %89 repriced
    // (+1.00), %83 re-inserted under a shifted key. One full-outer
    // key shuffle; unchanged rows emit nothing (minimality is specced,
    // and applyCdc(old, diff) == new round-trips in UpsertSpec).
    "q_snapshot_diff" -> ((s, d) => {
      val old = Tables.orders(s, d)
      val mutated = old.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val inserts = old.filter(col("o_orderkey") % 83 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
      Upsert.snapshotDiff(old, mutated.unionByName(inserts),
          Seq("o_orderkey"))
        .orderBy(col("op"), col("o_orderkey"))
    }),

    // Exact Gini coefficient per order priority — the inequality /
    // skew-audit number for "how concentrated is revenue over orders"
    // (1 − equality; 0 = uniform). With x sorted ascending,
    // G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx): one row_number window per
    // group (shared Exchange), decimal(38,0) moment sums (i·x wraps a
    // long near 10¹¹ rows·cents), ONE double division at the end.
    "q_value_gini" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      def dec(c: Column) = c.cast("decimal(19,0)")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("c"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          cents(col("o_totalprice")).as("c"))
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("c")).cast("decimal(38,0)")).as("s"),
          sum((dec(col("i")) * dec(col("c"))).cast("decimal(38,0)"))
            .as("sic"))
        .select(col("o_orderpriority"), col("n"),
          round((lit(2).cast("decimal(38,0)") * col("sic")
              - (dec(col("n")) + lit(1)).cast("decimal(38,0)") * col("s"))
              .cast("double")
            / (dec(col("n")).cast("decimal(38,0)") * col("s")).cast("double"),
            6).as("gini"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q17 shape (small-quantity orders): lineitems below 20% of
    // their part's average quantity. The fractional threshold is an
    // EXACT integer cross-multiply — q < Σq/(5n) ⟺ 5·q·n < Σq on the
    // cents grid, no division anywhere — and the part-level stats are
    // a vocabulary-sized aggregate joined back (the correlated-scalar-
    // subquery shape, decorrelated by construction).
    "q_small_orders" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_partkey"),
        cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("pc"))
      val stats = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"), sum(col("qc")).as("sq"))
      li.join(stats, "l_partkey")
        .filter(lit(5L) * col("qc") * col("n") < col("sq"))
        .agg(count(lit(1)).as("n_small"),
          (sum(col("pc").cast("decimal(20,0)")).cast("double") / 100.0)
            .as("revenue"))
    }),

    // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    // customer→orders with a FILTERED join predicate, orders counted per
    // customer (zero-order customers kept by the outer join), then the
    // distribution of those counts — the canonical "aggregate of an
    // aggregate over an outer join". Scale shape: orders pre-aggregate
    // to custkey-sized counts BEFORE the join (the orders-sized shuffle
    // happens once, map-side combined; the outer join then matches two
    // custkey-sized sides), identical semantics to joining raw orders
    // because the join filter touches only order columns.
    "q_custdist" -> ((s, d) => {
      val perCust = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q22 shape (global sales opportunity): positive-balance
    // customers above the AVERAGE positive balance — a scalar-aggregate
    // subquery — who have placed no urgent order (NOT EXISTS → anti
    // join), grouped by nation. The average threshold rides the exact
    // q_small_orders cross-multiply (bal·n > Σbal on the cents grid —
    // no float average anywhere; Σbal·bal_max ≈ 1e16·1e6 bounds the
    // long at ~1e12 customers); balances sum as exact cents, one
    // division at the end. Anti join's right side is the urgent-order
    // key column only (filter + projection pushed to the scan).
    "q_sales_opportunity" -> ((s, d) => {
      val bal = graft.functions.Money.cents(col("c_acctbal"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), bal.as("bal"))
      val stats = cust.filter(col("bal") > 0)
        .agg(sum(col("bal")).as("s"), count(lit(1)).as("n"))
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(stats))
        .filter(col("bal") * col("n") > col("s"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("bal")).cast("double") / 100.0, 2).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // TPC-H Q21 shape (suppliers who kept everyone waiting): suppliers
    // that were the ONLY late supplier (ship lag > 60 days) on a
    // multi-supplier finished order — the classic EXISTS + NOT EXISTS
    // double-correlation, decorrelated to one semi and one anti join
    // over deduped (order, supplier) pairs; every leg an equi-join on
    // the order key with a row-local inequality residual.
    "q_waiting_supplier" -> ((s, d) => {
      val pairs = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          (unix_micros(col("l_shipdate").cast("timestamp")) -
            unix_micros(col("o_orderdate").cast("timestamp"))
            > lit(60L * 86400000000L)).as("late"))
        .groupBy(col("ok"), col("sk"))
        .agg(max(col("late")).as("late"))
        .localCheckpoint() // three legs below read this one frame
      val l1 = pairs.filter(col("late"))
      val withOther = l1.as("a").join(pairs.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") =!= col("b.sk"),
          "left_semi")
      val onlyLate = withOther.as("a").join(l1.as("c"),
          col("a.ok") === col("c.ok") && col("a.sk") =!= col("c.sk"),
          "left_anti")
      onlyLate
        .join(Tables.supplier(s, d), col("sk") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),

    // TPC-H Q18 shape (large-volume customers): HAVING-filtered
    // aggregate subquery → left-semi onto the fact table → 3-way join →
    // re-aggregate. The big-order key set is pre-aggregated FIRST
    // (order-count-sized, then HAVING-thinned to the heavy tail), so
    // the fact table joins semi against a small key set instead of
    // carrying the full groupBy twice. Quantities ride the exact cents
    // grid; top-100 by (o_totalprice, date, key) is a heap, not a sort.
    "q_large_orders" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_quantity")).cast("decimal(20,0)")).as("__qc"))
        .filter(col("__qc") > lit(25000L)) // 250 units on the cents grid
        .select(col("l_orderkey").as("__bigkey"))
      li.join(big, col("l_orderkey") === col("__bigkey"), "left_semi")
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(dollars(sum(cents(col("l_quantity")).cast("decimal(20,0)")),
          1e2).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"),
          col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q5 shape (local supplier volume): the 6-table star with the
    // Q5 signature residual — the supplying nation must equal the
    // customer's nation (c_nationkey = s_nationkey rides the supplier
    // equi-join). Region/nation broadcast; revenue by nation on the
    // exact 1e-4 grid.
    "q_local_supplier_volume" -> ((s, d) => {
      val cut0 = lit("1996-01-01").cast("timestamp")
      val cut1 = lit("1997-01-01").cast("timestamp")
      val n = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= cut0 && col("o_orderdate") < cut1),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dollars(sum(revenueTerm), 1e4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q10 shape (returned-item reporting): one quarter of orders
    // joined to their RETURNED lineitems, revenue attributed per
    // customer, top 20 — the churn-investigation classic. Both filters
    // push to their scans; nation broadcasts; top-20 is a heap.
    "q_returned_items" -> ((s, d) => {
      val cut0 = lit("1996-01-01").cast("timestamp")
      val cut1 = lit("1996-04-01").cast("timestamp")
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= cut0 && col("o_orderdate") < cut1),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"), col("c_mktsegment"))
        .agg(dollars(sum(revenueTerm), 1e4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q6 shape (forecasting revenue change): the pure
    // filter-aggregate — every predicate pushes to the scan, no join,
    // one map-side-combined global sum. revenue = price·discount on the
    // exact 1e-4 cents×percent grid.
    "q_revenue_forecast" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2000-01-01").cast("timestamp") &&
          cents(col("l_discount")).between(5L, 7L) &&
          col("l_quantity") < 24)
        .agg((sum((cents(col("l_extendedprice")) * cents(col("l_discount")))
          .cast("decimal(20,0)")).cast("double") / 1e4).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q4 shape (order priority checking), adapted: with no
    // commit/receipt dates, "late" is a ship lag > 60 days (the
    // q_waiting_supplier grid) — orders with AT LEAST ONE late line,
    // counted per priority. The EXISTS decorrelates to a left-semi on
    // the order key with the lag residual pushed below the join.
    "q_late_order_priority" -> ((s, d) => {
      val late = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .select(col("o_orderkey").as("ok2"), col("o_orderdate")),
          col("l_orderkey") === col("ok2"))
        .filter(unix_micros(col("l_shipdate").cast("timestamp")) -
          unix_micros(col("o_orderdate").cast("timestamp"))
          > lit(60L * 86400000000L))
        .select(col("l_orderkey"))
      Tables.orders(s, d)
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q7 shape (volume shipping between two nations): the
    // bidirectional nation-pair filter rides the two BROADCAST nation
    // dimension joins as a post-join residual over broadcast-local
    // columns — the fact table shuffles only for its three equi-joins,
    // and the ship-date range pushes to the lineitem scan. Revenue per
    // (supp_nation, cust_nation, year) on the exact 1e-4 grid.
    "q_volume_shipping" -> ((s, d) => {
      val n1 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(dollars(sum(revenueTerm), 1e4).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape (national market share): the 7-table star —
    // lineitem joins part (PROMO filter pushed to the part scan, the
    // most selective leg first), orders (date-bounded), customer,
    // supplier, region-restricted customer nation, and the supplier
    // nation whose share is measured. share = NATION_5's revenue over
    // all revenue per year: both sums exact decimal on the 1e-4 grid,
    // ONE double division at the end (round 6).
    "q_market_share" -> ((s, d) => {
      val custNation = broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk")))
      val suppNation = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("2001-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(custNation, col("c_nationkey") === col("c_nk"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(suppNation, col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_5", revenueTerm)
            .otherwise(lit(0).cast("decimal(20,0)"))).cast("double") /
            sum(revenueTerm).cast("double"), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q14 shape (promotion effect): one ship-month of lineitem
    // joined to part, promo revenue as a percentage of total — the
    // conditional-aggregate ratio. The month filter pushes to the fact
    // scan; part joins broadcast-shaped (vocabulary-sized dimension);
    // both sums exact decimal, one division at the close.
    "q_promo_revenue" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1999-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-10-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", revenueTerm)
            .otherwise(lit(0).cast("decimal(20,0)"))).cast("double") /
          sum(revenueTerm).cast("double"), 6).as("promo_pct"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    // then every supplier tied at the GLOBAL max — the correlated
    // max-subquery, decorrelated to a 1-row broadcast scalar join over
    // the supplier-sized aggregate (the q_sales_opportunity shape).
    // Max-equality is EXACT because revenue stays on the integer 1e-4
    // grid until the final presentation division.
    "q_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1999-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revenueTerm).as("rev4"))
      val mx = rev.agg(max(col("rev4")).as("mx4"))
      rev.crossJoin(broadcast(mx))
        .filter(col("rev4") === col("mx4"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          dollars(col("rev4"), 1e4).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q2 shape (minimum-cost supplier), adapted to the fixture's
    // partsupp surrogate (lineitem is the part↔supplier bridge; a
    // supplier's "offer" for a part is its MINIMUM extendedprice in
    // exact cents): for each SMALL part of size ≤ 10, every EUROPE
    // supplier tied at the part's minimum cost. The correlated min-cost
    // subquery decorrelates to a per-part aggregate joined back by
    // EQUALITY ON THE EXACT CENTS GRID (the q_top_supplier discipline —
    // min-equality on BIGINT cents never drifts); the min frame is
    // co-partitioned with its source on p_partkey, so the join-back
    // adds no shuffle. Dims broadcast.
    "q_min_cost_supplier" -> ((s, d) => {
      val eu = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
      val costs = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_type") === "SMALL" && col("p_size") <= 10)
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(eu), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("s_acctbal"), col("n_name"))
        .agg(min(cents(col("l_extendedprice"))).as("cost_c"))
      val minc = costs.groupBy(col("p_partkey"))
        .agg(min(col("cost_c")).as("min_c"))
      costs.join(minc, Seq("p_partkey"))
        .filter(col("cost_c") === col("min_c"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"),
          (col("cost_c").cast("double") / 1e2).as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q11 shape (important stock), adapted: per-part "inventory
    // value" = Σ extendedprice·quantity (exact cents×cents products
    // summed as DECIMAL) over one nation's suppliers, keeping parts
    // whose value exceeds TWICE THE MEAN share. The HAVING-over-scalar-
    // subquery decorrelates to ONE materialized aggregate reused for
    // both sides: its 1-row (total, n) summary broadcasts back over the
    // part-sized frame, and the threshold compares in exact integer
    // space (val·n > 2·total — no fraction, no double drift). The
    // mean-multiple form is scale-free where Q11's literal 0.0001
    // fraction would empty out as the part count grows.
    "q_important_parts" -> ((s, d) => {
      val valueTerm = (cents(col("l_extendedprice")) *
        cents(col("l_quantity"))).cast("decimal(30,0)")
      val v = Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)
          .filter(col("s_nationkey") === 7).select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(valueTerm).as("val"))
      val t = v.agg(sum(col("val")).as("total"),
        count(lit(1)).as("n"))
      v.crossJoin(broadcast(t))
        .filter(col("val") * col("n") > col("total") * 2)
        .select(col("l_partkey").as("p_partkey"),
          (col("val").cast("double") / 1e4).as("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    }),

    // TPC-H Q16 shape (parts/supplier relationship count), adapted:
    // distinct suppliers per (brand, type, size) bucket over the
    // lineitem part↔supplier bridge, excluding negative-balance
    // suppliers (the "customer complaints" analog). Q16's NOT IN
    // decorrelates to a LEFT ANTI join on the filtered key set (never
    // NOT IN's three-valued logic); the part filter broadcasts; the
    // count-distinct is one shuffle on the group key.
    "q_supplier_part_cnt" -> ((s, d) => {
      val pairs = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val bad = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      pairs
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q20 shape (potential part promotion), adapted: the nested
    // semi-join chain — suppliers who shipped > 50 units (exact cents
    // grid) of any single 'small'-named part, restricted to one nation.
    // Each IN level becomes a LEFT SEMI join: part-name filter
    // broadcasts into lineitem, the (supplier, part) HAVING aggregate
    // reduces to a supplier key set, and supplier semi-joins it; no
    // subquery survives in the plan.
    "q_potential_promotion" -> ((s, d) => {
      val hot = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_name").startsWith("small "))
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(cents(col("l_quantity"))).as("qty_c"))
        .filter(col("qty_c") > 5000)
        .select(col("l_suppkey"))
      Tables.supplier(s, d)
        .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === "NATION_9")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    }),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates): the
    // equi-join on partkey carries an OR-of-ANDs residual mixing both
    // sides' columns (brand × quantity-band × size-band) — the classic
    // "join key plus disjunctive filter" plan: Catalyst must keep the
    // equi-key (hash join, never nested-loop) and evaluate the residual
    // post-match. Single-row output on the exact grid.
    "q_disjunctive_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
      val p = broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      li.join(p, col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" &&
            col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" &&
            col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" &&
            col("l_quantity").between(20, 30) && col("p_size").between(1, 15))))
        .agg(dollars(sum(revenueTerm), 1e4).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q9 shape (product-type profit by nation and year), adapted
    // to this schema's columns: with no partsupp table, supply cost is
    // proxied as 60% of the part's retail price per unit — the JOIN
    // TOPOLOGY (fact × part × supplier × orders × nation, grouped by
    // nation × year) is the point, not the cost constant. Profit stays
    // exact on a 1e-5 grid: 10·revenue_1e4 − 6·price_cents·qty_cents,
    // summed as decimal, divided once.
    "q_nation_profit" -> ((s, d) => {
      val profitTerm = (revenueTerm * lit(10L) -
        (cents(col("p_retailprice")) * cents(col("l_quantity")) * lit(6L))
          .cast("decimal(20,0)")).cast("decimal(38,0)")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_type") === "ECONOMY")
            .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(profitTerm).cast("double") / 1e5, 2)
          .as("profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    }),

    // TPC-H Q12 shape (shipping-delay priority audit), adapted: with no
    // l_shipmode column, lines bucket by ship DELAY (days from order to
    // ship — the operational quantity shipmode proxies), counting
    // critical-priority vs other orders per bucket. One fact-dimension
    // equi-join, delay arithmetic row-local on the day grid, conditional
    // counts in one aggregate pass.
    "q_ship_delay_priority" -> ((s, d) => {
      val delay = datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(
          when(delay < 30, "0-fast").when(delay <= 90, "1-normal")
            .otherwise("2-slow").as("delay_bucket"),
          (col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH").as("crit"))
        .groupBy(col("delay_bucket"))
        .agg(count(when(col("crit"), 1)).as("high_line_count"),
          count(when(!col("crit"), 1)).as("low_line_count"))
        .orderBy(col("delay_bucket"))
    }),

    // Schema-evolution read (sources/SchemaEvolution): one logical
    // customer table served from an OLD-schema shard (written without
    // c_mktsegment — even keys) and a NEW-schema shard (full — odd
    // keys) through a mergeSchema parquet read; old rows surface the
    // added column as NULL. The oracle recomputes the expected
    // null-fill from the source table, so the union'd schema, column
    // order, and null semantics are all hash-checked.
    "q_schema_evolution" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      graft.sources.SchemaEvolution.mergedRead(s, s"$d/customer-evolve",
          cust.filter(col("c_custkey") % 2 === 0).drop("c_mktsegment"),
          cust.filter(col("c_custkey") % 2 =!= 0))
        .groupBy(coalesce(col("c_mktsegment"), lit("__MISSING__"))
          .as("segment"))
        .agg(count(lit(1)).as("n"),
          count(col("c_mktsegment")).as("n_present"))
        .orderBy(col("segment"))
    }),

    // Benford first-digit audit (Profiling.benfordDigits): leading-digit
    // frequency of order totals vs the log-law expectation — the
    // fabricated-data / broken-ingest screen. Digit from the exact cents
    // integer's decimal string (log10-free extraction); a ≤9-group
    // aggregate plus a 9-row total window — nothing corpus-shaped.
    "q_benford" -> ((s, d) =>
      graft.operators.Profiling.benfordDigits(
          Tables.orders(s, d), col("o_totalprice"))
        .orderBy(col("digit"))),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    // operators/Sampling.weightedSample): 100 orders drawn with
    // inclusion probability ∝ o_totalprice. The draw u derives from
    // poly_hash under a seed tag, so the mirror RECOMPUTES the
    // randomness (the q_dsir_sample discipline) — an oracle-checked
    // weighted sampler, not a rows-only one. Row-local keys +
    // TakeOrderedAndProject; no shuffle.
    "q_weighted_sample" -> ((s, d) => {
      // Emit the exact integer-grid key, NOT a rounded double: the
      // top-100 keys are tiny negatives that round to zero, and IEEE
      // zero carries a sign — Spark's round lands on +0.0 where
      // DuckDB's lands on -0.0, a value-equal/hash-different split the
      // r15 driver flagged. key_nano is already exact on the 1e-9 grid
      // (Sampling.weightedSample), so the BIGINT is the honest output.
      graft.operators.Sampling.weightedSample(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
          "o_orderkey", col("o_totalprice"), k = 100, seed = 7)
        .select(col("o_orderkey"), col("o_totalprice"), col("key_nano"))
    }),

    // STRATIFIED weighted sampling (Sampling.weightedSamplePerGroup):
    // 10 orders per priority, inclusion probability ∝ total price
    // within the stratum — the per-group quota form of q_weighted_sample
    // (same deterministic A-ES key, same BIGINT grid; the mirror
    // recomputes the draw). One group-keyed shuffle + per-group top-k
    // heap; never a global sort.
    "q_group_weighted" -> ((s, d) => {
      graft.operators.Sampling.weightedSamplePerGroup(
          Tables.orders(s, d).select(col("o_orderkey"),
            col("o_orderpriority"), col("o_totalprice")),
          "o_orderkey", col("o_totalprice"), "o_orderpriority",
          kPerGroup = 10, seed = 11)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          col("key_nano"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // Pre-flight join-explosion report (operators/JoinDiagnostics): the
    // exact output cardinality of the lineitem-lineitem self-join on
    // part — the candidate-pair shape — per key, top 10 exploding keys,
    // computed from vocabulary-sized histograms WITHOUT running the
    // join. The guard form (requireBounded) is specced separately.
    "q_join_cardinality" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_partkey"))
      // JoinDiagnostics keeps n_pairs as decimal(38,0) internally (the
      // module exists to catch silent long-wrap), but DECLARED query
      // outputs must never carry DECIMAL: the driver's hash cannot
      // canonicalize Decimal vs int across engines (r15 red). The top-10
      // values here are ≤ a few thousand, so BIGINT presentation is exact.
      graft.operators.JoinDiagnostics
        .joinCardinality(li, li, Seq("l_partkey"))
        .orderBy(col("n_pairs").desc, col("l_partkey"))
        .limit(10)
        .withColumn("n_pairs", col("n_pairs").cast("long"))
    }),

    // Distribution-rank window family: ntile / percent_rank / cume_dist
    // in ONE window pass per priority group (all three share the same
    // partitioning and sort, so Catalyst plans a single shuffle+sort).
    // The (totalprice, orderkey) ordering is UNIQUE — ntile's bucket
    // assignment is order-dependent under ties, so a non-unique sort
    // would be nondeterministic and oracle-unverifiable.
    "q_window_dist" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    // Top-k: TakeOrderedAndProject — never a full global sort at scale.
    "q_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10)),

    // Per-GROUP top-k (the QUALIFY verb): top-3 orders by total price
    // within each priority — ONE window over the group shuffle, filter
    // on row_number, never a global sort (the global q_topk's
    // TakeOrderedAndProject can't express per-group cuts). Unique
    // (price desc, orderkey) ordering makes the cut deterministic.
    "q_topk_per_group" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), row_number().over(w).cast("long").as("rk"))
        .filter(col("rk") <= 3)
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // EXISTS correlated subquery — the declarative SQL form. Catalyst
    // rewrites it to a left-semi join (plan-pinned): the subquery never
    // executes per-row, it becomes the same join q_semi_join spells
    // manually. The DataFrame API and SQL surface converge on one plan.
    "q_exists" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_exists_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("graft_exists_lineitem")
      s.sql(
        """SELECT o_orderkey, o_orderpriority
          |FROM graft_exists_orders o
          |WHERE EXISTS (
          |  SELECT 1 FROM graft_exists_lineitem l
          |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // Set ops over dimension keys.
    "q_set_intersect" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))),

    "q_set_except" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))),

    "q_set_union" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"),
          lit("c").as("side")).distinct()
        .unionByName(Tables.supplier(s, d)
          .select(col("s_nationkey").as("nationkey"), lit("s").as("side"))
          .distinct())
        .orderBy(col("nationkey"), col("side"))),

    // Exact percentiles (linear interpolation — same definition as
    // DuckDB's quantile_cont); approx_percentile is the scale path and
    // is property-tested instead (sketches aren't cross-engine).
    "q_percentile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Date-part extraction + aggregation (calendar analytics).
    "q_date_parts" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy(col("yr"), col("mo"))),

    // Pivot with an EXPLICIT value list — one pass, no extra
    // distinct-values job (pivot without the list runs a collect to
    // discover columns: an anti-pattern at scale and nondeterministic
    // column order). Spark plans this as a single partial+final
    // aggregation over pivot-conditional counts; null combos filled 0
    // to match SQL's count-FILTER semantics.
    "q_pivot" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .count()
        .na.fill(0L)
        .orderBy(col("source"))),

    // UNPIVOT (wide → long): the inverse of q_pivot, via the native
    // Dataset.unpivot (one Expand over the 3-row aggregate — no join,
    // no extra shuffle; the wide frame is group-count-sized so the
    // Expand multiplies rows AFTER aggregation, never the fact table).
    // All measures are exact BIGINTs (cents sums ride the DECIMAL
    // discipline first, cast once at the end) so the long-format value
    // column is cross-engine hash-exact.
    "q_unpivot" -> ((s, d) => {
      val wide = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(cents(col("l_quantity")).cast("decimal(20,0)"))
            .cast("bigint").as("qty_cents"),
          sum(cents(col("l_extendedprice")).cast("decimal(20,0)"))
            .cast("bigint").as("price_cents"),
          count(lit(1)).as("n_lines"))
      wide.unpivot(
          Array(col("l_returnflag")),
          Array(col("qty_cents"), col("price_cents"), col("n_lines")),
          "measure", "value")
        .orderBy(col("l_returnflag"), col("measure"))
    }),

    // TABLESAMPLE — the SQL sampling verb (scan-level Bernoulli sample:
    // the filter applies AT the scan, before any shuffle). REPEATABLE
    // seed makes the row set stable run-over-run in THIS engine;
    // cross-engine the RNG differs → rows-only (the fraction band and
    // same-seed determinism are specced, mirroring q_sample's contract).
    "q_tablesample" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("graft_tablesample_src")
      s.sql(
        """SELECT l_orderkey, l_linenumber, l_returnflag
          |FROM graft_tablesample_src TABLESAMPLE (10 PERCENT) REPEATABLE (42)
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }),

    // The z-order (Morton) layout key over (customer, order-day), the
    // clustering key Compaction.compactZOrder sorts by so a filter on
    // EITHER dimension prunes row groups via parquet min/max stats.
    // Plain shift/mask Column arithmetic (codegen-folded, no UDF) —
    // mirrored bit-for-bit in the DuckDB oracle. Dimension mapping to
    // [0, 2^8) is the caller's schema choice: customer mod 256, epoch
    // day mod 256 here.
    "q_zorder_key" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(256L)).as("xd"),
          pmod(datediff(to_date(col("o_orderdate")),
            to_date(lit("1970-01-01"))).cast("long"), lit(256L)).as("yd"))
        .withColumn("zkey",
          graft.sources.Compaction.zorderKey(Seq(col("xd"), col("yd")), 8))
        .orderBy(col("o_orderkey"))),

    // Skew-salted two-phase aggregation — identical results to the
    // plain groupBy (oracle-checked), resilient to hot keys.
    "q_salted_count" -> ((s, d) =>
      graft.operators.Salting.saltedCount(
          Tables.lineitem(s, d), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))),

    // Rollup (grouping sets); group cols coalesced so NULL-ordering
    // differences between engines can't perturb the compare.
    "q_rollup" -> ((s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
        .orderBy(col("status"), col("priority"))),

    // Cube: ALL 2^k grouping sets (rollup's superset — adds the
    // (priority-only) slice rollup omits); same coalesce discipline.
    // Spark plans one Expand + one hash aggregation — rows replicate
    // 2^k-fold map-side, still a single shuffle, no per-set rescan.
    "q_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"))
        .orderBy(col("status"), col("priority"))),

    // Correlation / least-squares regression of price on quantity, per
    // returnflag — the money-sum discipline applied to second moments:
    // every power sum (Σx, Σy, Σxy, Σx², Σy²) is an EXACT integer
    // (quantity is integer-valued, price in integer cents; products
    // FORM in DECIMAL/HUGEINT — not long — and sum exactly, so neither
    // a huge single amount nor 100 TB of rows can overflow), and the
    // Pearson/OLS closed forms are then the SAME IEEE double op chain
    // in both engines. One partial+final hash aggregation — the five
    // moments travel together, a single scan.
    "q_corr_stats" -> ((s, d) => {
      val x = col("l_quantity").cast("long")
      val y = cents(col("l_extendedprice"))
      def dsum(c: Column) = sum(c).cast("double")
      // products form in DECIMAL, not long — y² wraps a long once a
      // single amount passes ~$960M (review finding r16)
      def dec(c: Column) = c.cast("decimal(38,0)")
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dsum(dec(col("x"))).as("sx"), dsum(dec(col("y"))).as("sy"),
          dsum(dec(col("x")) * dec(col("y"))).as("sxy"),
          dsum(dec(col("x")) * dec(col("x"))).as("sxx"),
          dsum(dec(col("y")) * dec(col("y"))).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("slope_cents_per_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // TPC-H Q3 shape (shipping priority): selective filters on all three
    // inputs reach the scans (PushedFilters), the two equi-joins shuffle
    // on their keys (AQE picks broadcast for the filtered customer side
    // when it fits — forcing it would be the 100 TB bug), and the top-10
    // is TakeOrderedAndProject: per-partition heads, never a global
    // sort. Revenue on the exact 1e-4-dollar grid; ties broken by
    // orderkey so the cut is deterministic.
    "q_ship_priority" -> ((s, d) => {
      val cut = lit("1998-06-01").cast("timestamp")
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dollars(sum(revenueTerm), 1e4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Winsorized mean (quartile clipping) per returnflag — the robust
    // cousin of q_agg_pricing. The clip bounds are the EXACT p25/p75:
    // at quarter probabilities the interpolation position 0.25·(n−1)
    // and fraction (∈ {0, ¼, ½, ¾}) are exactly representable, so the
    // interpolated value is an exact quarter-cent rational in BOTH
    // engines regardless of how each arranges the lerp — at p05/p95
    // the 0.05 fraction is inexact and a 1-ulp formula difference
    // could flip round() by a whole cent (review finding r16). Rounded
    // onto the cents grid, clipped values stay integers and the mean
    // is a single division of an exact DECIMAL sum. Bounds broadcast
    // back — the fact table scans twice, never shuffles for the clip.
    "q_winsorize" -> ((s, d) => winsorize(s, d)),

    // The GK-digest form of q_winsorize — the scale path its guard
    // message points at, now a declared query instead of a doc note.
    // Rows-only (digest cut points are merge-order dependent within ε).
    "q_winsorize_gk" -> ((s, d) => winsorizeGk(s, d)),

    // Median/MAD robust outliers over PER-ORDER totals (uniform unit
    // prices have no tails; order totals compound into them). The
    // half-grid trick keeps everything integer: a median of integers is
    // integer-or-half, so med2 = 2·median is EXACT, deviations
    // |2·tot − med2| are exact longs, and mad4 = 2·median(dev) is exact
    // again — robust z is then one double division of integer terms.
    // Exact global percentiles collect the orders-sized total set into
    // one aggregation buffer: the oracle-checkable baseline; at 100 TB
    // the same report rides the mergeable GK digests
    // (q_quantile_rollup) with an ε bound instead. The two scalar
    // stats rows broadcast back (1-row nested-loop by construction,
    // like the BM25 corpus-stats row).
    "q_robust_outliers" -> ((s, d) => robustOutliers(s, d))
  )

  /** q_winsorize body, with the exact-percentile scale guard
    * parameterized so WinsorizeGuardSpec can prove it trips. The guard
    * probe counts the SAME per-flag groups the percentile aggregates —
    * one cheap count pass before the buffered pass
    * ([[graft.operators.ExactStats]]; at over-threshold scale ride the
    * GK digests of q_quantile_rollup instead). */
  private[graft] def winsorize(s: org.apache.spark.sql.SparkSession,
      d: String,
      maxGroupRows: Long = graft.operators.ExactStats.DefaultMaxGroupRows)
      : org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("cents"))
    graft.operators.ExactStats.guardExactPercentile(
      li, Seq("l_returnflag"), "winsorized mean (exact p25/p75 clip)",
      maxGroupRows, memoKey = Some(s"winsorize|$d"))
    // BOTH cut points from ONE percentile buffer: two scalar
    // `percentile(cents, p)` calls each buffered every group value
    // independently (the plan showed one ObjectHashAggregate carrying
    // two full-group buffers); the array form sorts one buffer and
    // reads both ranks off it — identical interpolation arithmetic per
    // element, half the aggregation state (guide §5; r18 verdict #3).
    val st = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(cents, array(0.25D, 0.75D))").as("pq"))
      .select(col("l_returnflag"),
        round(element_at(col("pq"), 1)).cast("long").as("lo_cents"),
        round(element_at(col("pq"), 2)).cast("long").as("hi_cents"))
    clipMean(li, st)
  }

  /** The winsorize tail shared by the exact and GK-digest clip-point
    * sources: clip to [lo, hi], exact-decimal sum, 2dp mean. */
  private def clipMean(li: org.apache.spark.sql.DataFrame,
      st: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    li.join(broadcast(st), "l_returnflag")
      .select(col("l_returnflag"), col("lo_cents"), col("hi_cents"),
        least(greatest(col("cents"), col("lo_cents")), col("hi_cents"))
          .as("w"))
      .groupBy(col("l_returnflag"), col("lo_cents"), col("hi_cents"))
      .agg(count(lit(1)).as("n"),
        sum(col("w").cast("decimal(38,0)")).as("sw"))
      .select(col("l_returnflag"), col("n"), col("lo_cents"),
        col("hi_cents"),
        round(col("sw").cast("double") / col("n").cast("double") / 100.0,
          6).as("winsorized_mean"))
      .orderBy(col("l_returnflag"))

  /** q_winsorize_gk body — the 100 TB path the exact form's guard
    * points at: the same winsorized mean with p25/p75 clip points read
    * from the mergeable GK digests (ε=0.01), O(1/ε·log(εn)) state per
    * group at ANY row count, no ExactStats guard needed. Digest cut
    * points are merge-order dependent within the ε rank guarantee ⇒
    * rows-only; QuantileSketchSpec bounds the clips by exact rank-ε
    * envelopes and the means against the exact form. */
  private[graft] def winsorizeGk(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("cents"))
    val st = li.groupBy(col("l_returnflag"))
      .agg(graft.functions.QuantileSketch
        .gk_sketch_agg(col("cents").cast("double"), 0.01).as("sk"))
      .select(col("l_returnflag"), graft.functions.QuantileSketch
        .gk_quantiles(col("sk"), array(lit(0.25), lit(0.75))).as("q"))
      .select(col("l_returnflag"),
        round(element_at(col("q"), 1)).cast("long").as("lo_cents"),
        round(element_at(col("q"), 2)).cast("long").as("hi_cents"))
    clipMean(li, st)
  }

  /** q_robust_outliers body, guard parameterized (see [[winsorize]]).
    * The global median/MAD buffer holds one value per ORDER, so the
    * probe counts the aggregated totals frame, not lineitem. */
  private[graft] def robustOutliers(s: org.apache.spark.sql.SparkSession,
      d: String,
      maxGroupRows: Long = graft.operators.ExactStats.DefaultMaxGroupRows)
      : org.apache.spark.sql.DataFrame = {
    // localCheckpoint: med, mad and the closing filter are FOUR distinct
    // consumers of the per-order totals (med's broadcast subtree, mad's —
    // which nests med's again — and the main leg); uncheckpointed, each
    // re-ran the lineitem groupBy, 5 corpus aggregations per invocation
    // for one result (guide §5 — materialize a reused intermediate). The
    // checkpoint is order-count sized (~150k rows at sf0.1), built once
    // per invocation inside the timed region.
    val t = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("tot"))
      .localCheckpoint()
    graft.operators.ExactStats.guardExactPercentile(
      t, Seq.empty, "median/MAD outliers (exact global percentiles)",
      maxGroupRows)
    val med = t.agg(
      (expr("percentile(tot, 0.5)") * 2).cast("long").as("med2"))
    val tm = t.crossJoin(broadcast(med))
    val mad = tm.agg(
      (expr("percentile(abs(tot * 2 - med2), 0.5)") * 2).cast("long")
        .as("mad4"))
    val z = (col("tot") * 4 - col("med2") * 2).cast("double") /
      (lit(1.4826) * col("mad4").cast("double"))
    tm.crossJoin(broadcast(mad))
      .filter(abs(z) > 3.5)
      .select(col("l_orderkey"),
        (col("tot").cast("double") / 100.0).as("order_total"),
        round(z, 6).as("z"))
      .orderBy(col("l_orderkey"))
  }

  val oracle: Map[String, String] = Map(
    "q_join_star" ->
      s"""SELECT r_name, l_returnflag,
         |  CAST(sum($revenueTermSql) AS DOUBLE) / 1e4 AS revenue,
         |  CAST(count(*) AS BIGINT) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, l_returnflag
         |ORDER BY r_name, l_returnflag""".stripMargin,

    "q_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(${centsSql("l_quantity")} AS DECIMAL(20,0))) AS DOUBLE) / 1e2 AS sum_qty,
         |  CAST(sum(CAST(${centsSql("l_extendedprice")} AS DECIMAL(20,0))) AS DOUBLE) / 1e2 AS sum_base_price,
         |  CAST(sum($revenueTermSql) AS DOUBLE) / 1e4 AS sum_disc_price,
         |  CAST(sum(${centsSql("l_discount")}) AS DOUBLE) / (count(*) * 100.0) AS avg_disc,
         |  CAST(count(*) AS BIGINT) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey
        |    AND l_shipdate >= TIMESTAMP '1999-01-01'
        |    AND l_shipdate < TIMESTAMP '2000-01-01')
        |ORDER BY p_partkey""".stripMargin,

    "q_dedup_exact" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1
        |ORDER BY lang, source""".stripMargin,

    "q_dedup_stats" ->
      """SELECT lang, source, CAST(min(doc_id) AS BIGINT) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin,

    "q_exists" ->
      """SELECT o_orderkey, o_orderpriority
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin,

    "q_full_outer" ->
      """WITH od AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
        |              AS day, CAST(count(*) AS BIGINT) AS n_orders
        |            FROM orders GROUP BY 1),
        |sd AS (SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d')
        |         AS day, CAST(count(*) AS BIGINT) AS n_ships
        |       FROM lineitem GROUP BY 1)
        |SELECT COALESCE(od.day, sd.day) AS day,
        |  COALESCE(n_orders, 0) AS n_orders,
        |  COALESCE(n_ships, 0) AS n_ships
        |FROM od FULL OUTER JOIN sd ON od.day = sd.day
        |ORDER BY day""".stripMargin,

    "q_merge_upsert" ->
      """WITH heavy AS (SELECT o_custkey AS c_custkey FROM orders
        |               GROUP BY 1 HAVING count(*) >= 18),
        |matched AS (SELECT c.c_custkey, c.c_name, c.c_nationkey,
        |                   c.c_acctbal, 'VIP' AS c_mktsegment
        |            FROM customer c JOIN heavy USING (c_custkey)),
        |base AS (SELECT max(c_custkey) + 1 AS b FROM customer),
        |inserts AS (SELECT b + n_nationkey AS c_custkey,
        |                   'House#' || n_name AS c_name,
        |                   n_nationkey AS c_nationkey,
        |                   0.0 AS c_acctbal, 'HOUSE' AS c_mktsegment
        |            FROM nation CROSS JOIN base),
        |updates AS (SELECT * FROM matched UNION ALL SELECT * FROM inserts)
        |SELECT * FROM updates
        |UNION ALL
        |SELECT c.* FROM customer c
        |WHERE c.c_custkey NOT IN (SELECT c_custkey FROM updates)
        |ORDER BY c_custkey""".stripMargin,

    "q_cdc_apply" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
        |updates AS (SELECT c.c_custkey, c.c_name, c.c_nationkey,
        |                   c.c_acctbal, 'VIP' AS c_mktsegment
        |            FROM customer c JOIN oc ON oc.o_custkey = c.c_custkey
        |            WHERE oc.n >= 18),
        |deletes AS (SELECT c.c_custkey FROM customer c
        |            JOIN oc ON oc.o_custkey = c.c_custkey
        |            WHERE oc.n < 4),
        |base AS (SELECT max(c_custkey) + 1 AS b FROM customer),
        |inserts AS (SELECT b + n_nationkey AS c_custkey,
        |                   'House#' || n_name AS c_name,
        |                   n_nationkey AS c_nationkey,
        |                   0.0 AS c_acctbal, 'HOUSE' AS c_mktsegment
        |            FROM nation CROSS JOIN base),
        |allkeys AS (SELECT c_custkey FROM updates
        |            UNION ALL SELECT c_custkey FROM deletes
        |            UNION ALL SELECT c_custkey FROM inserts)
        |SELECT c.* FROM customer c
        |WHERE c.c_custkey NOT IN (SELECT c_custkey FROM allkeys)
        |UNION ALL SELECT * FROM updates
        |UNION ALL SELECT * FROM inserts
        |ORDER BY c_custkey""".stripMargin,

    "q_small_orders" ->
      s"""WITH li AS (SELECT l_partkey,
        |    ${centsSql("l_quantity")} AS qc,
        |    ${centsSql("l_extendedprice")} AS pc
        |  FROM lineitem),
        |st AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(qc) AS BIGINT) AS sq
        |       FROM li GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(sum(CAST(pc AS HUGEINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM li JOIN st USING (l_partkey)
        |WHERE 5 * qc * n < sq""".stripMargin,

    "q_waiting_supplier" ->
      """WITH pairs AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    max(CASE WHEN epoch_us(l_shipdate) - epoch_us(o_orderdate)
        |             > 60 * 86400000000 THEN 1 ELSE 0 END) = 1 AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |l1 AS (SELECT ok, sk FROM pairs WHERE late)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM l1 a JOIN supplier ON a.sk = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM pairs b
        |              WHERE b.ok = a.ok AND b.sk <> a.sk)
        |  AND NOT EXISTS (SELECT 1 FROM l1 c
        |                  WHERE c.ok = a.ok AND c.sk <> a.sk)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,

    // A-ES mirror: the identical ln((h+1)/(P+1))/w chain, quantized to
    // the 1e-9 grid before ordering, ties by key
    "q_weighted_sample" -> {
      val ph = graft.functions.PolyHashF.polyHashSql(
        "md5('w7:' || CAST(o_orderkey AS VARCHAR))")
      s"""WITH keyed AS (
         |  SELECT o_orderkey, o_totalprice,
         |    CAST(round(ln(CAST($ph + 1 AS DOUBLE) / 1000000008.0)
         |      / CAST(o_totalprice AS DOUBLE) * 1e9) AS BIGINT) AS key_nano
         |  FROM orders WHERE o_totalprice >= 1e-8)
         |SELECT o_orderkey, o_totalprice, key_nano
         |FROM keyed ORDER BY key_nano DESC, o_orderkey LIMIT 100""".stripMargin
    },

    // stratified A-ES mirror: the q_weighted_sample draw under seed w11,
    // ranked within each priority stratum
    "q_group_weighted" -> {
      val ph = graft.functions.PolyHashF.polyHashSql(
        "md5('w11:' || CAST(o_orderkey AS VARCHAR))")
      s"""WITH keyed AS (
         |  SELECT o_orderpriority, o_orderkey,
         |    CAST(round(ln(CAST($ph + 1 AS DOUBLE) / 1000000008.0)
         |      / CAST(o_totalprice AS DOUBLE) * 1e9) AS BIGINT) AS key_nano
         |  FROM orders WHERE o_totalprice >= 1e-8),
         |ranked AS (
         |  SELECT o_orderpriority, o_orderkey, key_nano,
         |    CAST(row_number() OVER (PARTITION BY o_orderpriority
         |      ORDER BY key_nano DESC, o_orderkey) AS BIGINT) AS rk
         |  FROM keyed)
         |SELECT o_orderpriority, rk, o_orderkey, key_nano
         |FROM ranked WHERE rk <= 10
         |ORDER BY o_orderpriority, rk""".stripMargin
    },

    // snapshot-diff mirror: same deterministic mutation, textbook
    // full-outer diff with IS NOT DISTINCT FROM (null-safe) compares
    "q_snapshot_diff" ->
      """WITH newt AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 83 = 0),
        |j AS (SELECT
        |    coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_orderkey IS NOT NULL AS in_old,
        |    n.o_orderkey IS NOT NULL AS in_new,
        |    n.o_custkey, n.o_orderstatus, n.o_totalprice, n.o_orderdate,
        |    n.o_orderpriority,
        |    (n.o_custkey IS NOT DISTINCT FROM o.o_custkey
        |     AND n.o_orderstatus IS NOT DISTINCT FROM o.o_orderstatus
        |     AND n.o_totalprice IS NOT DISTINCT FROM o.o_totalprice
        |     AND n.o_orderdate IS NOT DISTINCT FROM o.o_orderdate
        |     AND n.o_orderpriority IS NOT DISTINCT FROM o.o_orderpriority)
        |      AS same
        |  FROM orders o FULL OUTER JOIN newt n
        |    ON o.o_orderkey = n.o_orderkey)
        |SELECT CASE WHEN NOT in_old THEN 'I'
        |            WHEN NOT in_new THEN 'D'
        |            ELSE 'U' END AS op,
        |  o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM j WHERE NOT in_old OR NOT in_new OR NOT same
        |ORDER BY op, o_orderkey""".stripMargin,

    // Gini mirror: identical sorted-index moment sums in HUGEINT, one
    // double division
    "q_value_gini" -> {
      val c = graft.functions.Money.centsSql("o_totalprice")
      s"""WITH r AS (SELECT o_orderpriority, $c AS c,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY $c, o_orderkey) AS i
        |  FROM orders),
        |a AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |        sum(CAST(c AS HUGEINT)) AS s,
        |        sum(CAST(i AS HUGEINT) * c) AS sic
        |      FROM r GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n,
        |  round(CAST(2 * sic - (n + 1) * s AS DOUBLE)
        |    / CAST(n * s AS DOUBLE), 6) AS gini
        |FROM a ORDER BY o_orderpriority""".stripMargin
    },

    // Q22 mirror: textbook NOT EXISTS + scalar-subquery form, threshold
    // as the same integer cross-multiply
    "q_sales_opportunity" ->
      s"""WITH c AS (SELECT c_custkey, c_nationkey,
        |    ${graft.functions.Money.centsSql("c_acctbal")} AS bal
        |  FROM customer),
        |t AS (SELECT sum(bal) AS s, count(*) AS n FROM c WHERE bal > 0),
        |e AS (SELECT c_nationkey, bal FROM c CROSS JOIN t
        |      WHERE bal * n > s
        |        AND NOT EXISTS (SELECT 1 FROM orders o
        |                        WHERE o.o_custkey = c.c_custkey
        |                          AND o.o_orderpriority = '1-URGENT'))
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |  round(CAST(sum(bal) AS DOUBLE) / 100.0, 2) AS totacctbal
        |FROM e GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // the textbook Q13 form (filter in the ON clause) — equivalent to
    // the engine's pre-aggregated plan because the predicate touches
    // only order columns
    "q_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_join_cardinality" ->
      """WITH h AS (SELECT l_partkey, count(*) AS n
        |           FROM lineitem GROUP BY 1)
        |SELECT l_partkey, n AS n_left, n AS n_right,
        |  CAST(CAST(n AS HUGEINT) * n AS BIGINT) AS n_pairs
        |FROM h
        |ORDER BY n_pairs DESC, l_partkey LIMIT 10""".stripMargin,

    "q_window_dist" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS prank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    // literally the same text the Spark side executes (see queries map)
    "q_sql_pricing" -> SharedPricingSql,
    "q_grouping_sets" -> SharedGroupingSetsSql,

    "q_expectations" ->
      """WITH c AS (
        |  SELECT
        |    CAST(COALESCE(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS nn,
        |    CAST(COALESCE(sum(CASE WHEN n_chars IS NOT NULL
        |      AND (n_chars < 1 OR n_chars > 100000) THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS ir,
        |    CAST(COALESCE(sum(CASE WHEN lang IS NOT NULL
        |      AND NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS mt,
        |    CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS uq
        |  FROM documents)
        |SELECT r.rule, r.n_violations FROM c, LATERAL (VALUES
        |  ('in_range(n_chars)', ir), ('matches(lang)', mt),
        |  ('not_null(text)', nn), ('unique(doc_id)', uq))
        |  AS r(rule, n_violations)
        |ORDER BY r.rule""".stripMargin,

    "q_profile" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin
      Seq("doc_id", "lang", "source").map(branch)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q_profile_diff" -> {
      def side(from: String) = {
        def branch(c: String) =
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS dist,
             |  CAST(min($c) AS VARCHAR) AS mn,
             |  CAST(max($c) AS VARCHAR) AS mx
             |FROM $from""".stripMargin
        Seq("doc_id", "lang", "source").map(branch)
          .mkString("", "\nUNION ALL\n", "")
      }
      s"""WITH newd AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
         |    source
         |  FROM documents WHERE doc_id % 11 <> 0),
         |po AS (${side("documents")}),
         |pn AS (${side("newd")})
         |SELECT po."column", po.n AS n_old, pn.n AS n_new,
         |  po.nulls AS nulls_old, pn.nulls AS nulls_new,
         |  po.dist AS distinct_old, pn.dist AS distinct_new,
         |  round(CAST(pn.nulls AS DOUBLE) / CAST(pn.n AS DOUBLE)
         |    - CAST(po.nulls AS DOUBLE) / CAST(po.n AS DOUBLE), 6)
         |    AS null_rate_delta,
         |  (pn.mn IS DISTINCT FROM po.mn OR pn.mx IS DISTINCT FROM po.mx)
         |    AS minmax_changed
         |FROM po JOIN pn USING ("column")
         |ORDER BY po."column"""".stripMargin
    },

    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang AS x, source AS y, count(*) AS c FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT c,
        |        sum(c) OVER (PARTITION BY x) AS nx,
        |        sum(c) OVER (PARTITION BY y) AS ny,
        |        sum(c) OVER () AS n
        |      FROM cells),
        |q AS (SELECT n, CAST(round(
        |        (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |        * ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
        |          / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
        |        * 1e9) AS BIGINT) AS t
        |      FROM m)
        |SELECT CAST(max(n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  round(CAST(sum(t) AS DOUBLE) / 1e9, 6) AS mi_nats
        |FROM q""".stripMargin,

    "q_set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_set_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_set_union" ->
      """SELECT nationkey, side FROM (
        |  SELECT DISTINCT c_nationkey AS nationkey, 'c' AS side FROM customer
        |  UNION ALL
        |  SELECT DISTINCT s_nationkey AS nationkey, 's' AS side FROM supplier)
        |ORDER BY nationkey, side""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_date_parts" ->
      """SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
        |  CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,

    "q_unpivot" ->
      s"""WITH wide AS (
         |  SELECT l_returnflag,
         |    CAST(sum(CAST(${centsSql("l_quantity")} AS DECIMAL(20,0)))
         |      AS BIGINT) AS qty_cents,
         |    CAST(sum(CAST(${centsSql("l_extendedprice")} AS DECIMAL(20,0)))
         |      AS BIGINT) AS price_cents,
         |    CAST(count(*) AS BIGINT) AS n_lines
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, measure, value FROM (
         |  SELECT l_returnflag, 'qty_cents' AS measure, qty_cents AS value FROM wide
         |  UNION ALL
         |  SELECT l_returnflag, 'price_cents' AS measure, price_cents AS value FROM wide
         |  UNION ALL
         |  SELECT l_returnflag, 'n_lines' AS measure, n_lines AS value FROM wide)
         |ORDER BY l_returnflag, measure""".stripMargin,

    "q_pivot" ->
      """SELECT source,
        |  CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
        |  CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
        |  CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
        |  CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
        |  CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_zorder_key" -> {
      // the Morton interleave mirrored from Compaction.zorderKey's
      // shift/mask loop: dim j's bit i lands at position i*ndims + j —
      // generated from the same (ndims=2, bits=8) constants, OR of
      // disjoint bit positions
      val zExpr = (for {
        (dim, j) <- Seq("xd", "yd").zipWithIndex
        i <- 0 until 8
      } yield s"((($dim >> $i) & 1) << ${i * 2 + j})").mkString(" | ")
      s"""WITH dims AS (
         |  SELECT o_orderkey,
         |         o_custkey % 256 AS xd,
         |         datediff('day', DATE '1970-01-01', o_orderdate::DATE) % 256 AS yd
         |  FROM orders)
         |SELECT o_orderkey, CAST(xd AS BIGINT) AS xd, CAST(yd AS BIGINT) AS yd,
         |       CAST($zExpr AS BIGINT) AS zkey
         |FROM dims ORDER BY o_orderkey""".stripMargin
    },

    "q_salted_count" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    // Power sums exact (DuckDB sum(BIGINT) accumulates in HUGEINT), then
    // the identical double op chain as the Spark side: (n*sxy - sx*sy)
    // first, sqrt of the product of the two centered second moments.
    "q_corr_stats" ->
      s"""WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |          ${centsSql("l_extendedprice")} AS y
        |        FROM lineitem)
        |  GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |    AS corr_qty_price,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |    AS slope_cents_per_qty
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q_ship_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum($revenueTermSql) AS DOUBLE) / 1e4 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_large_orders" ->
      s"""WITH big AS (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(${centsSql("l_quantity")} AS DECIMAL(20,0)))
        |    > 25000)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum(CAST(${centsSql("l_quantity")} AS DECIMAL(20,0)))
        |    AS DOUBLE) / 1e2 AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_orderkey IN (SELECT l_orderkey FROM big)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    // Q2 mirror: same decorrelation spelled as CTEs; min-equality on
    // the exact BIGINT cents grid; identical total order + limit.
    "q_min_cost_supplier" ->
      s"""WITH costs AS (
        |  SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name,
        |         min(${centsSql("l_extendedprice")}) AS cost_c
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'SMALL' AND p_size <= 10 AND r_name = 'EUROPE'
        |  GROUP BY 1, 2, 3, 4, 5),
        |mc AS (SELECT p_partkey, min(cost_c) AS min_c
        |       FROM costs GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey,
        |  CAST(cost_c AS DOUBLE) / 1e2 AS supplycost
        |FROM costs JOIN mc USING (p_partkey)
        |WHERE cost_c = min_c
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    // Q11 mirror: one value CTE reused for both the rows and the 1-row
    // (total, n) summary; exact integer threshold val·n > 2·total.
    "q_important_parts" ->
      s"""WITH v AS (
        |  SELECT l_partkey,
        |    sum(CAST(${centsSql("l_extendedprice")}
        |        * ${centsSql("l_quantity")} AS DECIMAL(30,0))) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey = 7
        |  GROUP BY 1),
        |t AS (SELECT sum(val) AS total, count(*) AS n FROM v)
        |SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) / 1e4 AS value
        |FROM v CROSS JOIN t
        |WHERE val * n > total * 2
        |ORDER BY value DESC, p_partkey""".stripMargin,

    // Q16 mirror: NOT EXISTS (the anti-join spelling — never NOT IN's
    // three-valued logic) against the negative-balance supplier set.
    "q_supplier_part_cnt" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND NOT EXISTS (SELECT 1 FROM bad
        |                  WHERE bad.s_suppkey = pairs.l_suppkey)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // Q20 mirror: the nested IN chain kept literal (DuckDB decorrelates
    // it itself); the engine side spells the same chain as semi joins.
    "q_potential_promotion" ->
      s"""SELECT s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_9'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'small %')
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING sum(${centsSql("l_quantity")}) > 5000)
        |ORDER BY s_name""".stripMargin,

    "q_local_supplier_volume" ->
      s"""SELECT n_name,
        |  CAST(sum($revenueTermSql) AS DOUBLE) / 1e4 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |              AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_returned_items" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
        |  CAST(sum($revenueTermSql) AS DOUBLE) / 1e4 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_revenue_forecast" ->
      s"""SELECT CAST(sum(CAST(${centsSql("l_extendedprice")}
        |      * ${centsSql("l_discount")} AS DECIMAL(20,0)))
        |    AS DOUBLE) / 1e4 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |  AND l_shipdate < TIMESTAMP '2000-01-01'
        |  AND ${centsSql("l_discount")} BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,

    "q_late_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
        |      - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
        |      > 60 * 86400000000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_volume_shipping" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum($revenueTermSql) AS DOUBLE) / 1e4 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |  AND l_shipdate < TIMESTAMP '2001-01-01'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(CAST(sum(CASE WHEN ns.n_name = 'NATION_5'
        |      THEN $revenueTermSql ELSE CAST(0 AS DECIMAL(20,0)) END)
        |    AS DOUBLE) / CAST(sum($revenueTermSql) AS DOUBLE), 6)
        |    AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation nc ON c_nationkey = nc.n_nationkey
        |JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |  AND o_orderdate < TIMESTAMP '2001-01-01'
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q_promo_revenue" ->
      s"""SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN $revenueTermSql ELSE CAST(0 AS DECIMAL(20,0)) END)
        |    AS DOUBLE) / CAST(sum($revenueTermSql) AS DOUBLE), 6)
        |    AS promo_pct,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1999-09-01'
        |  AND l_shipdate < TIMESTAMP '1999-10-01'""".stripMargin,

    "q_top_supplier" ->
      s"""WITH rev AS (
        |  SELECT l_suppkey, sum($revenueTermSql) AS rev4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |    AND l_shipdate < TIMESTAMP '1999-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(rev4 AS DOUBLE) / 1e4 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev4 = (SELECT max(rev4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q_disjunctive_revenue" ->
      s"""SELECT CAST(sum($revenueTermSql) AS DOUBLE) / 1e4 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
        |       AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
        |       AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
        |       AND p_size BETWEEN 1 AND 15)""".stripMargin,

    "q_nation_profit" ->
      s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(CAST(sum(CAST($revenueTermSql * 10
        |      - ${centsSql("p_retailprice")} * ${centsSql("l_quantity")} * 6
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1e5, 2) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, o_year
        |ORDER BY n_name, o_year DESC""".stripMargin,

    "q_ship_delay_priority" ->
      """SELECT CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
        |                 CAST(l_shipdate AS DATE)) < 30 THEN '0-fast'
        |            WHEN datediff('day', CAST(o_orderdate AS DATE),
        |                 CAST(l_shipdate AS DATE)) <= 90 THEN '1-normal'
        |            ELSE '2-slow' END AS delay_bucket,
        |  CAST(count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS BIGINT) AS high_line_count,
        |  CAST(count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY delay_bucket ORDER BY delay_bucket""".stripMargin,

    "q_schema_evolution" ->
      """SELECT CASE WHEN c_custkey % 2 = 0 THEN '__MISSING__'
        |            ELSE c_mktsegment END AS segment,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN c_custkey % 2 <> 0 THEN 1 END) AS BIGINT)
        |    AS n_present
        |FROM customer GROUP BY segment ORDER BY segment""".stripMargin,

    "q_benford" ->
      s"""WITH d AS (
        |  SELECT CAST(substr(CAST(${centsSql("o_totalprice")} AS VARCHAR),
        |    1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE ${centsSql("o_totalprice")} > 0),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY digit)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER () AS DOUBLE), 6) AS obs_freq,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_freq
        |FROM g ORDER BY digit""".stripMargin,

    "q_winsorize" ->
      s"""WITH li AS (
        |  SELECT l_returnflag, ${centsSql("l_extendedprice")} AS cents
        |  FROM lineitem),
        |st AS (
        |  SELECT l_returnflag,
        |    CAST(round(quantile_cont(cents, 0.25)) AS BIGINT) AS lo_cents,
        |    CAST(round(quantile_cont(cents, 0.75)) AS BIGINT) AS hi_cents
        |  FROM li GROUP BY l_returnflag)
        |SELECT li.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  st.lo_cents, st.hi_cents,
        |  round(CAST(sum(least(greatest(cents, lo_cents), hi_cents))
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0, 6)
        |    AS winsorized_mean
        |FROM li JOIN st ON li.l_returnflag = st.l_returnflag
        |GROUP BY li.l_returnflag, st.lo_cents, st.hi_cents
        |ORDER BY li.l_returnflag""".stripMargin,

    "q_robust_outliers" ->
      s"""WITH t AS (
        |  SELECT l_orderkey, sum(${centsSql("l_extendedprice")}) AS tot
        |  FROM lineitem GROUP BY l_orderkey),
        |med AS (SELECT CAST(quantile_cont(tot, 0.5) * 2 AS BIGINT) AS med2
        |        FROM t),
        |mad AS (SELECT CAST(quantile_cont(abs(tot * 2 - med2), 0.5) * 2
        |          AS BIGINT) AS mad4
        |        FROM t, med)
        |SELECT l_orderkey,
        |  CAST(tot AS DOUBLE) / 100.0 AS order_total,
        |  round(CAST(tot * 4 - med2 * 2 AS DOUBLE) /
        |    (1.4826 * CAST(mad4 AS DOUBLE)), 6) AS z
        |FROM t, med, mad
        |WHERE abs(CAST(tot * 4 - med2 * 2 AS DOUBLE) /
        |    (1.4826 * CAST(mad4 AS DOUBLE))) > 3.5
        |ORDER BY l_orderkey""".stripMargin
  )
}
