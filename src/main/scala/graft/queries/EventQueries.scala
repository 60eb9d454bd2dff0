package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{EventOps, Scd}

/** Windowed event analytics + JSON extraction (SURVEY.md §7 step 6, §2.7).
  * All timestamps are UTC micros; interval math is done on unix_micros /
  * epoch_us integers so both engines compare exactly.
  */
object EventQueries extends QueryModule {

  val queries: Map[String, Q] = Map(
    // Ranking window: top-3 events per user by value.
    "q_window_rank" -> ((s, d) =>
      EventOps.topPerKey(Tables.events(s, d), Seq("user_id"),
          Seq(col("value").desc, col("event_id")), 3)
        .select(col("user_id"), col("event_id"), col("value"), col("rn"))
        .orderBy(col("user_id"), col("rn"))),

    // Cumulative sum per user in event-time order (exact cents).
    "q_running_sum" -> ((s, d) =>
      EventOps.runningTotal(Tables.events(s, d),
          "user_id", "ts", "event_id", "value")
        .select(col("user_id"), col("event_id"), col("cum_value"))
        .orderBy(col("user_id"), col("event_id"))),

    // Tumbling 1-hour aggregation via Spark's window() operator.
    "q_tumbling_count" -> ((s, d) =>
      EventOps.tumbling(Tables.events(s, d), "ts", "1 hour")
        .orderBy(col("window_start"))),

    // Hopping 1h window every 30min.
    "q_sliding_count" -> ((s, d) =>
      EventOps.sliding(Tables.events(s, d), "ts", "1 hour", "30 minutes")
        .orderBy(col("window_start"))),

    // JSON path extraction from the props column.
    "q_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id"))),

    // The same extraction through Spark 4's VARIANT engine: parse_json
    // builds the binary-encoded semi-structured value ONCE and
    // variant_get navigates it natively — at scale this replaces
    // re-parsing the JSON string per accessed field (the q_json_extract
    // path re-tokenizes per get_json_object call). Same answers, newer
    // engine path, both oracle-checked against the same SQL.
    "q_variant_agg" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          variant_get(parse_json(col("props")), "$.k", "long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    // Aggregate over an extracted JSON field, grouped by event type.
    "q_json_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // As-of join: each event picks up the customer's latest order at or
    // before the event time (right side deduped to a deterministic
    // winner per (key, ts): max orderkey).
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
      val ord = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      graft.operators.AsOfJoin.asof(ev, ord,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTs = "ts", rightTs = "o_orderdate",
          payload = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy(col("event_id"))
    }),

    // Attribution interval join: each click paired with the same user's
    // purchases within the next 30 minutes (equi-join on user, range
    // predicate on ts). Streaming twin verified in EventStreamSpec.
    "q_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      graft.operators.EventOps.intervalJoin(clicks, purchases,
          "user_id", "click_ts", "purchase_ts", withinMinutes = 30)
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // As-of with a staleness bound (merge_asof tolerance semantics):
    // each purchase picks up the user's latest click at or before it,
    // but ONLY if that click is at most 30 minutes old — the
    // attribution-window variant of q_asof_join. Same one-shuffle union
    // trick; the bound is a row-local filter on the carried right
    // timestamp, never a range join.
    "q_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // deterministic winner per (user, ts): max click id
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.operators.AsOfJoin.asof(purchases, clicks,
          leftKey = "user_id", rightKey = "c_user",
          leftTs = "ts", rightTs = "c_ts",
          payload = Seq("click_id"),
          toleranceUs = Some(30L * 60 * 1000000))
        .select(col("event_id"), col("user_id"), col("click_id"))
        .orderBy(col("event_id"))
    }),

    // Gap-based sessionization (30-minute inactivity) → session stats.
    "q_sessionize" -> ((s, d) =>
      EventOps.sessionStats(
        EventOps.sessionize(Tables.events(s, d), "user_id", "ts", "event_id", 30),
        "user_id", "ts")
        .orderBy(col("user_id"), col("session_id"))),

    // Session paths (EventOps.sessionPaths): each session's ordered
    // event-type sequence as one string — the SFT sample-assembly verb
    // (event log → "what did this user do, in order" training rows).
    // Ordering is (ts, event_id) inside one collect+array_sort
    // aggregation; the mirror's string_agg(… ORDER BY ts, event_id)
    // must reproduce it exactly.
    "q_session_paths" -> ((s, d) =>
      EventOps.sessionPaths(Tables.events(s, d), "user_id", "ts",
          "event_id", "event_type", gapMinutes = 30)
        .orderBy(col("user_id"), col("session_id"))),

    // Native session_window operator (same gap semantics as
    // q_sessionize; window.start == first event of the session).
    "q_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))),

    // Two-proportion z-test: per-user HIGH-VALUE purchase conversion
    // (value >= 100 — the fixture's every user has a plain purchase, a
    // saturated outcome with zero pooled variance) between the parity
    // arms — the binary-outcome member of the A/B trio (t-test for
    // means, CUPED for variance reduction, this for rates).
    "q_ab_proportions" -> ((s, d) =>
      graft.operators.Profiling.proportionZTest(Tables.events(s, d),
        col("user_id"),
        concat(lit("arm"), pmod(col("user_id"), lit(2)).cast("string")),
        col("event_type") === "purchase" && col("value") >= 100.0,
        "arm0", "arm1")),

    // CUPED variance-reduced A/B difference: per-user pre-period
    // (Jan 1-15) spend adjusts the post-period metric; arms are the
    // deterministic user_id parity. One unit-keyed shuffle, exact
    // integer moments, every derived double deterministic.
    "q_cuped" -> ((s, d) =>
      graft.operators.Profiling.cupedDiff(Tables.events(s, d),
        col("user_id"),
        concat(lit("arm"), pmod(col("user_id"), lit(2)).cast("string")),
        col("ts") < lit("2024-01-16").cast("timestamp"),
        col("value"), "arm0", "arm1")),

    // Welch's unequal-variance t-test between the click and purchase
    // value distributions — the A/B readout. Exact-integer moments
    // (cents long, cents² decimal) in ONE map-side-combined aggregate
    // behind a pushed isin filter; every derived double deterministic.
    "q_ab_welch" -> ((s, d) =>
      graft.operators.Profiling.welchTTest(Tables.events(s, d),
        col("value"), col("event_type"), "click", "purchase")),

    // Ordered conversion funnel signup -> click -> purchase: per user,
    // first signup, first click AT OR AFTER it, first purchase at or
    // after that click. Three chained unbounded window mins over the
    // SAME user partitioning — Catalyst plans ONE Exchange reused by all
    // three Window operators (pinned in PlanSpec), then a global
    // conditional count. No self-joins, no per-stage re-scan.
    "q_funnel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("s_ts",
          min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("c_ts",
          min(when(col("event_type") === "click" && col("ts") >= col("s_ts"),
            col("ts"))).over(w))
        .withColumn("p_ts",
          min(when(col("event_type") === "purchase" && col("ts") >= col("c_ts"),
            col("ts"))).over(w))
        .agg(
          count_distinct(when(col("s_ts").isNotNull, col("user_id")))
            .as("n_signup"),
          count_distinct(when(col("c_ts").isNotNull, col("user_id")))
            .as("n_click_after"),
          count_distinct(when(col("p_ts").isNotNull, col("user_id")))
            .as("n_purchase_after"))
    }),

    // Bounded-conversion-window funnel (the product-analytics form of
    // q_funnel): a click only converts within 30 days of the first
    // signup, a purchase within 7 days of that click. Same one-Exchange
    // chained-window shape; the bounds are exact micros arithmetic on
    // the already-selected stage timestamps, so no extra shuffle and no
    // calendar drift between engines.
    "q_funnel_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      val clickBudget = 30L * 86400L * 1000000L
      val purchaseBudget = 7L * 86400L * 1000000L
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("s_us",
          min(when(col("event_type") === "signup", col("us"))).over(w))
        .withColumn("c_us",
          min(when(col("event_type") === "click" &&
            col("us") >= col("s_us") &&
            col("us") <= col("s_us") + clickBudget, col("us"))).over(w))
        .withColumn("p_us",
          min(when(col("event_type") === "purchase" &&
            col("us") >= col("c_us") &&
            col("us") <= col("c_us") + purchaseBudget, col("us"))).over(w))
        .agg(
          count_distinct(when(col("s_us").isNotNull, col("user_id")))
            .as("n_signup"),
          count_distinct(when(col("c_us").isNotNull, col("user_id")))
            .as("n_click_within"),
          count_distinct(when(col("p_us").isNotNull, col("user_id")))
            .as("n_purchase_within"))
    }),

    // Weekly cohort retention: cohort = Monday of each user's first
    // event week; n_users = distinct users from that cohort active at
    // each whole-week offset. Both week boundaries are UTC Monday
    // midnights, so the offset is an exact integer division of the
    // micros difference — engine-stable, no calendar arithmetic drift.
    "q_retention" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val weekUs = 7L * 24 * 3600 * 1000000L
      ev.join(cohort, "user_id")
        .select(col("user_id"), col("cohort_week"),
          ((unix_micros(date_trunc("week", col("ts"))) -
            unix_micros(col("cohort_week"))) / lit(weekUs))
            .cast("long").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Hourly grid + forward fill (LOCF): per user, every hour between
    // the first and last event hour carries the value of the latest
    // event at or before it (exact cents; latest = max (ts, event_id),
    // so ties are impossible). The grid explodes from ONE per-user
    // min/max aggregate — never a driver-side loop — and the fill is a
    // running `last(ignoreNulls)` over the same user partitioning the
    // (user, hour) join already produced.
    "q_gapfill" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          graft.functions.Money.cents(col("value")).as("cents"))
        .withColumn("hour", date_trunc("hour", col("ts")))
      val hourly = ev.groupBy(col("user_id"), col("hour"))
        .agg(max_by(col("cents"), struct(col("ts"), col("event_id")))
          .as("cents"))
      val grid = ev.groupBy(col("user_id"))
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("hour"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hour"), "left")
        .withColumn("value_filled",
          last(col("cents"), ignoreNulls = true).over(w)
            .cast("double") / 100.0)
        .select(col("user_id"), col("hour"), col("value_filled"))
        .orderBy(col("user_id"), col("hour"))
    }),

    // Association rules over per-user event-type sets (market-basket):
    // unordered type pairs with co-occurrence counts, support, and lift
    // — "users who error also purchase?" is a lift read. The pair space
    // is users × (types-per-user choose 2) with a 5-type vocabulary —
    // the self-join is user-keyed (equi) and the output is ≤10 rows;
    // totals and the 1-row user count broadcast back. Ratios are exact
    // integer products into one double division each.
    "q_assoc_rules" -> ((s, d) => {
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val nUsers = ut.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
        .join(broadcast(totals.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), Seq("type_a"))
        .join(broadcast(totals.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), Seq("type_b"))
        .crossJoin(broadcast(nUsers))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_ab"),
          round(col("n_ab").cast("double") /
            col("n_users").cast("double"), 6).as("support"),
          round((col("n_ab") * col("n_users")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // RFM segmentation: per-user recency (days since last event, date
    // grid), frequency, monetary (exact cents), each cut into ntile(5)
    // buckets with deterministic user-id tie-breaks. The windows sort
    // the USER-dimension frame (one aggregate row per user), never the
    // event log; at 1e9+ users swap ntile for quantile-threshold cuts
    // (q_quantile_rollup's GK digests) — the doc'd scale path.
    "q_rfm" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(datediff(lit("2024-02-01").cast("date"),
            max(col("ts")).cast("date")).cast("long").as("r_days"),
          count(lit(1)).as("f"),
          sum(graft.functions.Money.cents(col("value"))).as("m_cents"))
      def bucket(order: org.apache.spark.sql.Column*) =
        ntile(5).over(Window.orderBy(order: _*)).cast("long")
      perUser.select(col("user_id"), col("r_days"), col("f"),
          (col("m_cents").cast("double") / 100.0).as("monetary"),
          bucket(col("r_days"), col("user_id")).as("r_bucket"),
          bucket(col("f").desc, col("user_id")).as("f_bucket"),
          bucket(col("m_cents").desc, col("user_id")).as("m_bucket"))
        .orderBy(col("user_id"))
    }),

    // Recency-weighted engagement (EventOps.decayScore): per-user
    // Σ value·exp(−age/7d) as of a pinned reference instant — the
    // trending/feature-store aggregate. Age on the exact micros grid,
    // weight on the 1e-9 nano grid, value on the cents grid; one
    // map-side-combined aggregate, no window, no scalar join.
    "q_decay_score" -> ((s, d) =>
      graft.operators.EventOps.decayScore(Tables.events(s, d),
          "user_id", col("ts"), col("value"), asOf = "2024-02-01")
        .orderBy(col("user_id"))),

    // Navigation window family over one (user, ts, event_id) sort:
    // lag/lead of the exact-cents value, ntile quartile, percent_rank.
    // All four share a single Window spec — one shuffle, one sort.
    // percent_rank = (rank-1)/(n-1) over a UNIQUE ordering, so the
    // double is the same IEEE division in both engines.
    "q_window_lag" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          graft.functions.Money.cents(col("value")).as("cents"))
        .select(col("user_id"), col("event_id"),
          (lag(col("cents"), 1).over(w).cast("double") / 100.0)
            .as("prev_value"),
          (lead(col("cents"), 1).over(w).cast("double") / 100.0)
            .as("next_value"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pr"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Time-based rolling aggregate: the RANGE frame (trailing 1 hour of
    // EVENT TIME per user) — a different verb from every ROWS frame in
    // this family: the frame bound is a value offset on the ordering
    // column, so ties and gaps are handled by time, not row position.
    // Exact cents in the sum; count rides the same frame.
    "q_rolling_range" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(-3600000000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          graft.functions.Money.cents(col("value")).as("cents"))
        .select(col("user_id"), col("event_id"), col("us"),
          sum(col("cents")).over(w).as("hour_cents"),
          count(lit(1)).over(w).as("hour_events"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ORC source/sink round-trip (sources/OrcTable): events written as
    // ORC once per session, read back, and aggregated — the oracle
    // reads the PARQUET side, so any write/read drift in timestamps,
    // doubles, strings or longs through the ORC boundary breaks the
    // hash. The second columnar format next to parquet (the
    // Hive/Trino interop edge).
    "q_orc_scan" -> ((s, d) =>
      graft.sources.OrcTable.roundTrip(s, d, Tables.events(s, d))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(unix_micros(col("ts"))).as("min_us"),
          max(unix_micros(col("ts"))).as("max_us"),
          sum(graft.functions.Money.cents(col("value"))).as("total_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))),

    // OHLC candlestick bars: per (event_type, tumbling day) open/close
    // at the first/last event plus extrema, count and exact-cents
    // volume — min_by/max_by over the (us, event_id) total order, one
    // hash aggregate, no window sort (see EventOps.ohlcBars).
    "q_ohlc" -> ((s, d) =>
      EventOps.ohlcBars(Tables.events(s, d), "event_type",
          unix_micros(col("ts")), "event_id",
          graft.functions.Money.cents(col("value")), widthUs = 86400000000L)
        .orderBy(col("event_type"), col("bar_us"))),

    // Two-sample KS drift screen (operators/Drift): did the purchase
    // value distribution shift vs clicks — exact integer ECDF gap
    // |C1·n2 − C2·n1| over the value GRID (value-cardinality-sized;
    // the single global cumsum window sorts the grid, never the data),
    // one division at the end, smallest value wins gap ties.
    "q_ks_drift" -> ((s, d) =>
      graft.operators.Drift.ksStatistic(
        Tables.events(s, d).select(col("event_type"),
          graft.functions.Money.cents(col("value")).as("cents")),
        col("event_type"), col("cents"), "click", "purchase")),

    // PSI drift score (operators/Drift.psi): the bucketed
    // (actual%−expected%)·ln(actual%/expected%) scorecard number between
    // the click and purchase value distributions, 10-unit (1000-cent)
    // buckets. The corpus reduces to a bucket grid first; per-bucket
    // terms ride the 1e-9 quantize-then-integer-sum discipline.
    "q_psi_drift" -> ((s, d) => {
      val cents = graft.functions.Money.cents(col("value"))
      val bucket = ((cents - pmod(cents, lit(1000L))) / lit(1000L))
        .cast("long")
      graft.operators.Drift.psi(
        Tables.events(s, d).select(col("event_type"), bucket.as("bk")),
        col("event_type"), col("bk"), "click", "purchase")
    }),

    // Seasonal-naive forecast error (MASE, Hyndman & Koehler 2006): per
    // event_type, the weekly-seasonal-naive forecast (lag-7 over the
    // observed daily count grid) scored against the one-step naive
    // baseline — MASE < 1 means weekly seasonality genuinely predicts.
    // The metric every monitoring stack uses to decide if a metric IS
    // forecastable. All errors are exact integer counts; MASE rides ONE
    // double division via the integer cross-multiply (s7·c1)/(s1·c7).
    "q_forecast_mase" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val us = unix_micros(col("ts"))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          (us - pmod(us, lit(86400000000L))).as("day_us"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day_us"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
      daily
        .withColumn("e7", abs(col("n") - lag(col("n"), 7).over(w)))
        .withColumn("e1", abs(col("n") - lag(col("n"), 1).over(w)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("e7")).as("s7"), count(col("e7")).as("c7"),
          sum(col("e1")).as("s1"), count(col("e1")).as("c1"))
        .select(col("event_type"), col("n_days"),
          round(col("s7").cast("double") / col("c7").cast("double"), 6)
            .as("mae_seasonal"),
          round((dec(col("s7")) * dec(col("c1"))).cast("double")
            / (dec(col("s1")) * dec(col("c7"))).cast("double"), 6)
            .as("mase"))
        .orderBy(col("event_type"))
    }),

    // Simple exponential smoothing (alpha=0.3) over per-type daily
    // value totals: next-day level forecast + in-sample one-step rmse —
    // the smoothing sibling of q_forecast_mase's seasonal-naive
    // backtest. Day-grid reduce, then a row-local sorted fold.
    "q_exp_smooth" -> ((s, d) =>
      graft.operators.EventOps.expSmoothDaily(Tables.events(s, d),
          "event_type", col("ts"), col("value"))
        .orderBy(col("event_type"))),

    // The PSI MONITOR: per-day PSI of the bucketed value distribution
    // against the global one — "which day's scorecard moved", one
    // frame, dense union-support grid (days × buckets, size-guarded)
    // like the KS monitor beside it.
    "q_psi_daily" -> ((s, d) => {
      val us = unix_micros(col("ts"))
      val cents = graft.functions.Money.cents(col("value"))
      graft.operators.Drift.psiByPartition(
          Tables.events(s, d).select(
            (us - pmod(us, lit(86400000000L))).as("day_us"),
            ((cents - pmod(cents, lit(1000L))) / lit(1000L)).cast("long")
              .as("bk")),
          col("day_us"), col("bk"))
        .select(col("p").as("day_us"), col("n_part"), col("n_buckets"),
          col("psi"))
        .orderBy(col("day_us"))
    }),

    // The drift MONITOR: per-day KS of the value distribution against
    // the global one — "which day drifted", one frame, no driver loop
    // (see Drift.ksByPartition: union-support dense grid, loudly
    // size-guarded, value-ordered cumsum windows over the GRID).
    "q_ks_daily" -> ((s, d) => {
      val us = unix_micros(col("ts"))
      graft.operators.Drift.ksByPartition(
          Tables.events(s, d).select(
            (us - pmod(us, lit(86400000000L))).as("day_us"),
            graft.functions.Money.cents(col("value")).as("cents")),
          col("day_us"), col("cents"))
        .select(col("p").as("day_us"), col("n_part"), col("ks_d"))
        .orderBy(col("day_us"))
    }),

    // Inter-arrival statistics + burstiness (Goh & Barabási 2008):
    // per event_type, the gap distribution between consecutive events —
    // exact integer micros off one lag() window (the family's shared
    // single-Exchange layout), moments as exact decimal sums (the
    // q_corr_stats construction: gap² wraps a long at month-scale
    // gaps × big streams), burstiness B = (σ−μ)/(σ+μ) as the identical
    // IEEE double chain on both engines (the n in σ and μ cancels,
    // so B = (√(n·Σg²−(Σg)²) − Σg)/(√(n·Σg²−(Σg)²) + Σg) exactly).
    "q_interarrival" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("us"), col("event_id"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val root = sqrt(col("n_gaps") * col("sgg") - col("sg") * col("sg"))
      Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap")).as("min_gap_us"),
          max(col("gap")).as("max_gap_us"),
          sum(dec(col("gap"))).cast("double").as("sg"),
          sum(dec(col("gap")) * dec(col("gap"))).cast("double").as("sgg"))
        .select(col("event_type"), col("n_gaps"), col("min_gap_us"),
          col("max_gap_us"),
          round(col("sg") / col("n_gaps"), 6).as("mean_gap_us"),
          round((root - col("sg")) / (root + col("sg")), 6)
            .as("burstiness"))
        .orderBy(col("event_type"))
    }),

    // CUSUM change-point: where each event_type's cumulative deviation
    // from its own mean peaks, on the exact integer grid (the n-scaled
    // |n·S_i − i·S_n| statistic — see EventOps.cusumChangepoint).
    "q_changepoint" -> ((s, d) =>
      EventOps.cusumChangepoint(Tables.events(s, d), "event_type",
          unix_micros(col("ts")), "event_id",
          graft.functions.Money.cents(col("value")))
        .select(col("event_type"), col("n_events"), col("cp_pos"),
          col("cp_id").as("cp_event_id"), col("cusum_stat"))
        .orderBy(col("event_type"))),

    // Last-touch attribution WITHOUT the self-join: q_asof_join answers
    // "latest click before each purchase" as a join of two derived
    // tables; this is the same logical ask as ONE window pass over ONE
    // scan — running conditional max for the last click, running
    // conditional count differenced at purchases for the touch count
    // since the previous purchase. At scale the join form shuffles the
    // events table twice; this shape shuffles it once. Equal-timestamp
    // events attribute by (ts, event_id) order — same contract as every
    // window in this family, mirrored identically.
    "q_attribution" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("last_click_us",
          max(when(col("event_type") === "click", col("us"))).over(w))
        .withColumn("cum_clicks",
          count(when(col("event_type") === "click", lit(1))).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("touches", col("cum_clicks") -
          coalesce(lag(col("cum_clicks"), 1).over(wp), lit(0L)))
        .select(col("user_id"), col("event_id"),
          col("us").as("purchase_us"), col("last_click_us"),
          col("touches"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Per-user event-type transition counts (the first-order Markov
    // matrix behind behavior modeling): one lag() pass in event-time
    // order, then a 25-cell pair count — the second shuffle moves only
    // type-pair cardinality.
    "q_transition_matrix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Percentile-bootstrap CI for the mean daily value per type, with
    // poly_hash-derived resampling so even the randomness is
    // oracle-recomputable (B=50 replicates, 95%): the dashboard error
    // bar, hash-checked instead of property-tested.
    "q_bootstrap_ci" -> ((s, d) => {
      graft.operators.EventOps.bootstrapMeanCi(Tables.events(s, d),
          "event_type", col("ts"), col("value"))
        .orderBy(col("event_type"))
    }),

    // Holt linear-trend forecast + conformal interval per event type:
    // the trended sibling of q_exp_smooth with a distribution-free
    // uncertainty band (90th |one-step residual| percentile).
    "q_holt_forecast" -> ((s, d) =>
      graft.operators.EventOps.holtForecast(Tables.events(s, d),
          "event_type", col("ts"), col("value"))
        .orderBy(col("event_type"))),

    // Classical additive seasonal decomposition + robust anomaly flag
    // per event type: trend (centered 7-day MA), day-slot seasonal,
    // residual, and |residual| > 3*MAD — "is today unusual, or just
    // Saturday". One corpus reduce; grid-sized everything after.
    "q_seasonal_decomp" -> ((s, d) =>
      graft.operators.EventOps.seasonalDecompose(Tables.events(s, d),
          "event_type", col("ts"), col("value"))
        .orderBy(col("event_type"), col("day"))),

    // Theil-Sen robust daily trend per event type: median over all
    // day-pair slopes — the outlier-proof trend beside q_exp_smooth's
    // level and q_forecast_mase's backtest. Grid-pair join, time²-
    // bounded; direct sorted-element median (no interpolation).
    "q_theil_sen" -> ((s, d) =>
      graft.operators.EventOps.theilSenDaily(Tables.events(s, d),
          "event_type", col("ts"), col("value"))
        .orderBy(col("event_type"))),

    // Stationary distribution of the event-type Markov chain: 20
    // quantized power-iteration rounds over the row-normalized
    // transition matrix (PageRank's 1-D cousin on the behavior graph).
    // Corpus pays one lag pass; the iteration is codebook-sized.
    "q_markov_stationary" -> ((s, d) =>
      graft.operators.EventOps.markovStationary(Tables.events(s, d),
          "user_id", col("ts"), col("event_id"), "event_type")
        .orderBy(col("state"))),

    // Time-weighted average value (TWAP): each event's exact-cents value
    // weighted by its holding duration (micros until the next event of
    // the same user). Both factors are exact integers; the products sum
    // as DECIMAL (cents×micros ≈ 1e17/row — longs would overflow on a
    // month of data, let alone 100 TB), and ONE double division renders
    // the average. One lead() pass, one grouped aggregation.
    "q_twap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("ts"),
          graft.functions.Money.cents(col("value")).as("cents"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          // cents casts to DECIMAL BEFORE the multiply — a long product
          // wraps at ~$10k held for ~107 days (review finding r16)
          sum(col("cents").cast("decimal(38,0)") *
            (col("next_us") - col("us")).cast("decimal(38,0)")).as("wv"),
          sum((col("next_us") - col("us")).cast("decimal(38,0)")).as("dur"))
        .select(col("user_id"),
          round(col("wv").cast("double") / col("dur").cast("double") / 100.0,
            6).as("twap"),
          col("dur").cast("long").as("held_us"))
        .orderBy(col("user_id"))
    }),

    // SCD Type-2 dimension history: the event stream as a CDC feed of a
    // per-user attribute (the props.k value bucketed into 4 tiers), so
    // runs of equal tiers collapse and versioned validity intervals
    // come out. One Exchange total — change-detect lag, version
    // row_number and interval-closing lead all share the (user | ts,
    // event_id) window layout.
    "q_scd2_history" -> ((s, d) =>
      Scd.history(Tables.events(s, d), "user_id", "ts", "event_id",
          tierAttr)
        .orderBy(col("user_id"), col("version"))),

    // Point-in-time read off the history: every user's tier as of
    // mid-month. The consumption side of SCD2 — a range filter on the
    // intervals, never a replay of the feed.
    "q_scd2_snapshot" -> ((s, d) =>
      Scd.snapshotAt(
          Scd.history(Tables.events(s, d), "user_id", "ts", "event_id",
            tierAttr),
          ScdT)
        .select(col("user_id"), col("attr"), col("valid_from"))
        .orderBy(col("user_id"))),

    // Sequential pattern mining (n-gram form): global frequency + user
    // support of every consecutive event-type trigram. lead() builds
    // runs in the shared single-Exchange window layout; the aggregate
    // output is ≤ |event_types|³ rows however long the stream grows.
    "q_event_trigrams" -> ((s, d) =>
      EventOps.sequenceNgrams(Tables.events(s, d), "user_id", "ts",
          "event_id", "event_type", 3)
        .orderBy(col("n_occurrences").desc, col("s0"), col("s1"),
          col("s2")))
  )

  /** props.k (0–99) bucketed into 4 tiers — the slowly-changing
    * attribute the SCD2 queries version. */
  // private[graft]: the streaming twin's seam spec feeds the SAME
  // attribute expression to EventStream.scdIntervals — one definition
  private[graft] def tierAttr =
    floor(get_json_object(col("props"), "$.k").cast("long") / lit(25))

  /** 2024-01-16T00:00:00Z in unix micros — the snapshot instant. */
  private val ScdT = 1705363200000000L

  /** Shared SCD2 mirror CTEs: change-detect → version/close intervals,
    * textually mirroring [[graft.operators.Scd.history]]. */
  private val scd2Ctes =
    """ev AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS attr
      |  FROM events),
      |ch AS (SELECT user_id, ts, event_id, attr,
      |         lag(attr) OVER cw AS prev,
      |         lag(1) OVER cw IS NULL AS opens
      |       FROM ev
      |       WINDOW cw AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |chg AS (SELECT * FROM ch WHERE opens OR prev IS DISTINCT FROM attr),
      |h AS (SELECT user_id, attr,
      |        CAST(row_number() OVER w AS BIGINT) AS version,
      |        epoch_us(ts) AS valid_from,
      |        epoch_us(lead(ts, 1) OVER w) AS valid_to
      |      FROM chg
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_scd2_history" ->
      s"""WITH $scd2Ctes
         |SELECT user_id, version, attr, valid_from, valid_to,
         |       valid_to IS NULL AS is_current
         |FROM h ORDER BY user_id, version""".stripMargin,

    "q_scd2_snapshot" ->
      s"""WITH $scd2Ctes
         |SELECT user_id, attr, valid_from FROM h
         |WHERE valid_from <= 1705363200000000
         |  AND (valid_to IS NULL OR valid_to > 1705363200000000)
         |ORDER BY user_id""".stripMargin,

    "q_event_trigrams" ->
      """WITH s AS (
        |  SELECT user_id, event_type AS s0,
        |    lead(event_type, 1) OVER w AS s1,
        |    lead(event_type, 2) OVER w AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT s0, s1, s2, CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM s WHERE s1 IS NOT NULL AND s2 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n_occurrences DESC, s0, s1, s2""".stripMargin,
    "q_window_rank" ->
      """SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 3
        |ORDER BY user_id, rn""".stripMargin,

    "q_running_sum" ->
      s"""SELECT user_id, event_id,
        |  CAST(sum(${graft.functions.Money.centsSql("value")}) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
        |    AS cum_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q_tumbling_count" ->
      s"""SELECT date_trunc('hour', ts) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(${graft.functions.Money.centsSql("value")}) AS DOUBLE) / 100.0
        |    AS total_value
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin,

    "q_sliding_count" ->
      """WITH x AS (
        |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                 time_bucket(INTERVAL '30 minutes', ts)
        |                   - INTERVAL '30 minutes']) AS window_start
        |  FROM events)
        |SELECT window_start, CAST(count(*) AS BIGINT) AS n
        |FROM x GROUP BY window_start ORDER BY window_start""".stripMargin,

    "q_variant_agg" ->
      """SELECT event_type,
        |  CAST(count(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS n,
        |  CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(max(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_json_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_asof_join" ->
      """WITH ord AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, ord.o_orderkey
        |FROM events e
        |ASOF LEFT JOIN ord
        |  ON e.user_id = ord.o_custkey AND e.ts >= ord.o_orderdate
        |ORDER BY event_id""".stripMargin,

    "q_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(c.ts)
        | AND epoch_us(p.ts) < epoch_us(c.ts) + 1800000000
        |ORDER BY click_id, purchase_id""".stripMargin,

    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM x)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  max(ts) AS session_end, CAST(count(*) AS BIGINT) AS n_events
        |FROM y GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_session_paths" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM x)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |FROM y GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // NOTE boundary: native session_window windows are [ts, ts+gap), so a
    // gap of EXACTLY 30min starts a new session -> oracle uses >=, unlike
    // the lag-based q_sessionize rule above (gap > 30min stays together).
    "q_session_window" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM x)
        |SELECT user_id, min(ts) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM y GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "q_ab_proportions" ->
      """WITH pu AS (
        |  SELECT user_id, 'arm' || CAST(user_id % 2 AS VARCHAR) AS g,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 100.0
        |        THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT
        |    count(*) FILTER (WHERE g = 'arm0') AS na,
        |    sum(c) FILTER (WHERE g = 'arm0') AS ca,
        |    count(*) FILTER (WHERE g = 'arm1') AS nb,
        |    sum(c) FILTER (WHERE g = 'arm1') AS cb
        |  FROM pu)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 6) AS conv_a,
        |  round(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS conv_b,
        |  round(CASE WHEN (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
        |               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) > 0.0
        |          AND (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
        |               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) < 1.0
        |    THEN (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |          - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
        |    / sqrt(((CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
        |            / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        |      * (1.0 - (CAST(ca AS DOUBLE) + CAST(cb AS DOUBLE))
        |               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
        |      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
        |    END, 6) AS z_stat
        |FROM m""".stripMargin,

    // per-unit exact-cents X/Y, pooled second moments, the same double
    // expression order as Profiling.cupedDiff
    "q_cuped" -> {
      val c = graft.functions.Money.centsSql("value")
      s"""WITH pu AS (
         |  SELECT user_id,
         |    'arm' || CAST(user_id % 2 AS VARCHAR) AS g,
         |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN $c
         |        ELSE 0 END) AS x,
         |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0
         |        ELSE $c END) AS y
         |  FROM events GROUP BY 1, 2),
         |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |    sum(x * x) AS sxx, sum(x * y) AS sxy,
         |    count(*) FILTER (WHERE g = 'arm0') AS na,
         |    sum(x) FILTER (WHERE g = 'arm0') AS sxa,
         |    sum(y) FILTER (WHERE g = 'arm0') AS sya,
         |    count(*) FILTER (WHERE g = 'arm1') AS nb,
         |    sum(x) FILTER (WHERE g = 'arm1') AS sxb,
         |    sum(y) FILTER (WHERE g = 'arm1') AS syb
         |  FROM pu)
         |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  round((CAST(sxy AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
         |           / CAST(n AS DOUBLE))
         |        / (CAST(sxx AS DOUBLE)
         |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         |             / CAST(n AS DOUBLE)), 6) AS theta,
         |  round(CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0
         |        - CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) / 100.0, 6)
         |    AS diff_raw,
         |  round((CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0
         |         - CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) / 100.0)
         |        - ((CAST(sxy AS DOUBLE)
         |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
         |              / CAST(n AS DOUBLE))
         |           / (CAST(sxx AS DOUBLE)
         |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         |                / CAST(n AS DOUBLE)))
         |          * (CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0
         |             - CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 100.0),
         |    6) AS diff_cuped
         |FROM m""".stripMargin
    },

    // exact-integer moments (sum(BIGINT) lands in HUGEINT — cast after,
    // mirroring the engine's long/DECIMAL accumulators), then the same
    // double-expression order as Profiling.welchTTest
    "q_ab_welch" -> {
      val c = graft.functions.Money.centsSql("value")
      def mean(p: String) =
        s"CAST(s1$p AS DOUBLE) / CAST(n$p AS DOUBLE) / 100.0"
      def vr(p: String) =
        s"""(CAST(s2$p AS DOUBLE) - CAST(s1$p AS DOUBLE)
           | * CAST(s1$p AS DOUBLE) / CAST(n$p AS DOUBLE))
           | / (CAST(n$p AS DOUBLE) - 1.0) / 10000.0""".stripMargin
          .replace("\n", "")
      def se(p: String) = s"(${vr(p)}) / CAST(n$p AS DOUBLE)"
      val se2 = s"(${se("a")} + ${se("b")})"
      s"""WITH q AS (SELECT event_type, $c AS cq FROM events
         |           WHERE event_type IN ('click', 'purchase')),
         |m AS (SELECT
         |    count(*) FILTER (WHERE event_type = 'click') AS na,
         |    sum(cq) FILTER (WHERE event_type = 'click') AS s1a,
         |    sum(cq * cq) FILTER (WHERE event_type = 'click') AS s2a,
         |    count(*) FILTER (WHERE event_type = 'purchase') AS nb,
         |    sum(cq) FILTER (WHERE event_type = 'purchase') AS s1b,
         |    sum(cq * cq) FILTER (WHERE event_type = 'purchase') AS s2b
         |  FROM q)
         |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         |  CASE WHEN na > 0 THEN round(${mean("a")}, 6) END AS mean_a,
         |  CASE WHEN nb > 0 THEN round(${mean("b")}, 6) END AS mean_b,
         |  CASE WHEN na > 1 AND nb > 1 AND $se2 > 0 THEN
         |    round((${mean("a")} - ${mean("b")}) / sqrt($se2), 6)
         |  END AS t_stat,
         |  CASE WHEN na > 1 AND nb > 1 AND $se2 > 0 THEN
         |    round($se2 * $se2 /
         |      ((${se("a")}) * (${se("a")}) / (CAST(na AS DOUBLE) - 1.0)
         |       + (${se("b")}) * (${se("b")}) / (CAST(nb AS DOUBLE) - 1.0)),
         |      6)
         |  END AS df_welch
         |FROM m""".stripMargin
    },

    "q_funnel" ->
      """WITH s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND s.s_ts IS NOT NULL
        |    AND e.ts >= s.s_ts
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        |  GROUP BY e.user_id)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM s WHERE s_ts IS NOT NULL)
        |    AS n_signup,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_after,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_after""".stripMargin,

    "q_funnel_window" ->
      """WITH s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND s.s_us IS NOT NULL
        |    AND epoch_us(e.ts) >= s.s_us
        |    AND epoch_us(e.ts) <= s.s_us + 2592000000000
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.c_us
        |    AND epoch_us(e.ts) <= c.c_us + 604800000000
        |  GROUP BY e.user_id)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM s WHERE s_us IS NOT NULL)
        |    AS n_signup,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_within,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_within""".stripMargin,

    "q_retention" ->
      """WITH cohort AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        |  FROM events GROUP BY user_id)
        |SELECT c.cohort_week,
        |  CAST((epoch_us(CAST(date_trunc('week', e.ts) AS TIMESTAMP))
        |        - epoch_us(c.cohort_week)) // 604800000000 AS BIGINT)
        |    AS week_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN cohort c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_gapfill" ->
      s"""WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    ${graft.functions.Money.centsSql("value")} AS cents,
        |    date_trunc('hour', ts) AS hour
        |  FROM events),
        |hourly AS (
        |  SELECT user_id, hour, cents FROM (
        |    SELECT user_id, hour, cents,
        |      row_number() OVER (PARTITION BY user_id, hour
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |        FROM ev GROUP BY user_id))
        |SELECT g.user_id, g.hour,
        |  CAST(last_value(h.cents IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / 100.0 AS value_filled
        |FROM grid g LEFT JOIN hourly h
        |  ON g.user_id = h.user_id AND g.hour = h.hour
        |ORDER BY g.user_id, g.hour""".stripMargin,

    "q_window_lag" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_id, ts,
        |    ${graft.functions.Money.centsSql("value")} AS cents
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(lag(cents, 1) OVER w AS DOUBLE) / 100.0 AS prev_value,
        |  CAST(lead(cents, 1) OVER w AS DOUBLE) / 100.0 AS next_value,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_rolling_range" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    ${graft.functions.Money.centsSql("value")} AS cents
        |  FROM events)
        |SELECT user_id, event_id, us,
        |  CAST(sum(cents) OVER w AS BIGINT) AS hour_cents,
        |  count(*) OVER w AS hour_events
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_orc_scan" ->
      s"""SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(epoch_us(ts)) AS min_us,
        |  max(epoch_us(ts)) AS max_us,
        |  CAST(sum(${graft.functions.Money.centsSql("value")}) AS BIGINT)
        |    AS total_cents,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // open/close via DuckDB's ordered first/last over the same
    // (us, event_id) total order min_by/max_by walks in the engine.
    // Bucketing is FLOOR-mod (((us % w) + w) % w) to match the engine's
    // pmod: DuckDB's plain % truncates toward zero, which disagrees with
    // pmod on pre-epoch (negative-micros) timestamps by a full bar.
    "q_ohlc" ->
      s"""WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS us, event_id,
        |    ${graft.functions.Money.centsSql("value")} AS cents
        |  FROM events)
        |SELECT event_type,
        |  us - ((us % 86400000000) + 86400000000) % 86400000000 AS bar_us,
        |  first(cents ORDER BY us, event_id) AS open_cents,
        |  last(cents ORDER BY us, event_id) AS close_cents,
        |  max(cents) AS high_cents,
        |  min(cents) AS low_cents,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS volume_cents
        |FROM ev GROUP BY 1, 2
        |ORDER BY event_type, bar_us""".stripMargin,

    "q_ks_drift" ->
      s"""WITH vals AS (
        |  SELECT event_type AS s, ${graft.functions.Money.centsSql("value")} AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |grid AS (SELECT v,
        |    sum(CASE WHEN s = 'click' THEN 1 ELSE 0 END) AS da,
        |    sum(CASE WHEN s = 'purchase' THEN 1 ELSE 0 END) AS db
        |  FROM vals GROUP BY v),
        |c AS (SELECT v, sum(da) OVER w AS ca, sum(db) OVER w AS cb,
        |        sum(da) OVER () AS na, sum(db) OVER () AS nb
        |      FROM grid
        |      WINDOW w AS (ORDER BY v
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT v,
        |        abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
        |          AS gap, na, nb
        |      FROM c)
        |SELECT CAST(max(na) AS BIGINT) AS n_a,
        |  CAST(max(nb) AS BIGINT) AS n_b,
        |  round(CAST(max(gap) AS DOUBLE)
        |    / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)), 6)
        |    AS ks_d,
        |  first(v ORDER BY gap DESC, v ASC) AS ks_at
        |FROM g""".stripMargin,

    // PSI mirror: identical IEEE chain per bucket — floor at 1e-6,
    // (pa−pe)·ln(pa/pe), quantize 1e9, integer sum, divide back once
    "q_psi_drift" ->
      s"""WITH v AS (
        |  SELECT event_type AS s,
        |    (${graft.functions.Money.centsSql("value")}
        |      - ((${graft.functions.Money.centsSql("value")} % 1000) + 1000)
        |        % 1000) // 1000 AS k
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |grid AS (SELECT k,
        |    sum(CASE WHEN s = 'click' THEN 1 ELSE 0 END) AS da,
        |    sum(CASE WHEN s = 'purchase' THEN 1 ELSE 0 END) AS db
        |  FROM v GROUP BY k),
        |t AS (SELECT k, da, db,
        |        sum(da) OVER () AS na, sum(db) OVER () AS nb
        |      FROM grid),
        |q AS (SELECT na, nb,
        |        CAST(round(
        |          (greatest(CAST(db AS DOUBLE) / CAST(nb AS DOUBLE), 1.0E-6)
        |            - greatest(CAST(da AS DOUBLE) / CAST(na AS DOUBLE), 1.0E-6))
        |          * ln(greatest(CAST(db AS DOUBLE) / CAST(nb AS DOUBLE), 1.0E-6)
        |            / greatest(CAST(da AS DOUBLE) / CAST(na AS DOUBLE), 1.0E-6))
        |          * 1e9) AS BIGINT) AS qt
        |      FROM t)
        |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  round(CAST(sum(qt) AS DOUBLE) / 1e9, 6) AS psi
        |FROM q""".stripMargin,

    // MASE mirror: same lag windows over the observed daily grid, same
    // integer cross-multiply for the ratio
    "q_forecast_mase" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    epoch_us(ts)
        |      - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000
        |      AS day_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |e AS (SELECT event_type,
        |        abs(n - lag(n, 7) OVER w) AS e7,
        |        abs(n - lag(n, 1) OVER w) AS e1
        |      FROM daily
        |      WINDOW w AS (PARTITION BY event_type ORDER BY day_us)),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |        sum(e7) AS s7, count(e7) AS c7,
        |        sum(e1) AS s1, count(e1) AS c1
        |      FROM e GROUP BY event_type)
        |SELECT event_type, n_days,
        |  round(CAST(s7 AS DOUBLE) / CAST(c7 AS DOUBLE), 6) AS mae_seasonal,
        |  round(CAST(s7 * c1 AS DOUBLE) / CAST(s1 * c7 AS DOUBLE), 6) AS mase
        |FROM a ORDER BY event_type""".stripMargin,

    // The recurrence mirrors as a RECURSIVE CTE stepping the day index,
    // NOT list_reduce: duckdb v1.0 misfolds a struct accumulator
    // (probed: the sse member reads a level from the wrong step), and a
    // closed-form pow(0.7, k) rewrite would diverge in the last bit
    // from the engine's iterated multiply. Recursion keeps the double
    // operation order IDENTICAL to Spark's fold.
    "q_exp_smooth" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type,
         |    epoch_us(ts)
         |      - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000
         |      AS day_us,
         |    sum(${graft.functions.Money.centsSql("value")}) AS cents
         |  FROM events GROUP BY 1, 2),
         |di AS (SELECT event_type, CAST(cents AS DOUBLE) / 100.0 AS x,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day_us)
         |      AS i,
         |    count(*) OVER (PARTITION BY event_type) AS n_days
         |  FROM daily),
         |rec AS (
         |  SELECT event_type, i, n_days, x AS level, CAST(0.0 AS DOUBLE) AS sse
         |  FROM di WHERE i = 1
         |  UNION ALL
         |  SELECT d.event_type, d.i, d.n_days,
         |    0.3 * d.x + 0.7 * r.level,
         |    r.sse + (d.x - r.level) * (d.x - r.level)
         |  FROM rec r JOIN di d
         |    ON d.event_type = r.event_type AND d.i = r.i + 1)
         |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
         |  round(level, 6) AS level,
         |  round(CASE WHEN n_days > 1
         |    THEN sqrt(sse / (CAST(n_days AS DOUBLE) - 1.0))
         |    ELSE 0.0 END, 6) AS rmse
         |FROM rec WHERE i = n_days ORDER BY event_type""".stripMargin,

    // per-day PSI mirror: dense day×bucket grid (0-fill), global
    // proportions as expected, the identical floored IEEE term chain
    "q_psi_daily" ->
      s"""WITH v AS (
        |  SELECT epoch_us(ts)
        |      - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000
        |      AS p,
        |    (${graft.functions.Money.centsSql("value")}
        |      - ((${graft.functions.Money.centsSql("value")} % 1000) + 1000)
        |        % 1000) // 1000 AS k
        |  FROM events),
        |grid AS (SELECT p, k, count(*) AS c FROM v GROUP BY 1, 2),
        |gl AS (SELECT k, sum(c) AS g FROM grid GROUP BY k),
        |ps AS (SELECT DISTINCT p FROM grid),
        |dense AS (SELECT ps.p, gl.k, gl.g, coalesce(grid.c, 0) AS c
        |          FROM ps CROSS JOIN gl
        |          LEFT JOIN grid ON grid.p = ps.p AND grid.k = gl.k),
        |w AS (SELECT p, k, g, c,
        |        sum(c) OVER (PARTITION BY p) AS np,
        |        sum(c) OVER () AS ng
        |      FROM dense),
        |q AS (SELECT p, np,
        |        CAST(round(
        |          (greatest(CAST(c AS DOUBLE) / CAST(np AS DOUBLE), 1.0E-6)
        |            - greatest(CAST(g AS DOUBLE) / CAST(ng AS DOUBLE), 1.0E-6))
        |          * ln(greatest(CAST(c AS DOUBLE) / CAST(np AS DOUBLE), 1.0E-6)
        |            / greatest(CAST(g AS DOUBLE) / CAST(ng AS DOUBLE), 1.0E-6))
        |          * 1e9) AS BIGINT) AS qt
        |      FROM w)
        |SELECT p AS day_us, CAST(max(np) AS BIGINT) AS n_part,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  round(CAST(sum(qt) AS DOUBLE) / 1e9, 6) AS psi
        |FROM q GROUP BY p ORDER BY day_us""".stripMargin,

    // day bucket is floor-mod for the same pre-epoch reason as q_ohlc
    "q_ks_daily" ->
      s"""WITH vals AS (
        |  SELECT epoch_us(ts)
        |      - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000
        |      AS p,
        |    ${graft.functions.Money.centsSql("value")} AS v
        |  FROM events),
        |grid AS (SELECT p, v, count(*) AS c FROM vals GROUP BY 1, 2),
        |sup AS (SELECT DISTINCT v FROM grid),
        |ps AS (SELECT DISTINCT p FROM grid),
        |dense AS (SELECT ps.p, sup.v, coalesce(grid.c, 0) AS c
        |          FROM ps CROSS JOIN sup
        |          LEFT JOIN grid ON grid.p = ps.p AND grid.v = sup.v),
        |gcum AS (SELECT v, sum(g) OVER (ORDER BY v
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cg
        |         FROM (SELECT v, sum(c) AS g FROM grid GROUP BY v)),
        |cum AS (SELECT d.p, d.v, d.c,
        |          sum(d.c) OVER (PARTITION BY d.p ORDER BY d.v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS cd,
        |          sum(d.c) OVER (PARTITION BY d.p) AS nd,
        |          sum(d.c) OVER () AS ng,
        |          g.cg
        |        FROM dense d JOIN gcum g ON d.v = g.v)
        |SELECT p AS day_us, CAST(max(nd) AS BIGINT) AS n_part,
        |  round(CAST(max(abs(CAST(cd AS HUGEINT) * ng
        |      - CAST(cg AS HUGEINT) * nd)) AS DOUBLE)
        |    / (CAST(max(nd) AS DOUBLE) * CAST(max(ng) AS DOUBLE)), 6)
        |    AS ks_d
        |FROM cum GROUP BY p ORDER BY day_us""".stripMargin,

    "q_interarrival" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS us, event_id FROM events),
        |g AS (SELECT event_type,
        |        us - lag(us) OVER (PARTITION BY event_type
        |                           ORDER BY us, event_id) AS gap
        |      FROM ev),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |        CAST(min(gap) AS BIGINT) AS min_gap_us,
        |        CAST(max(gap) AS BIGINT) AS max_gap_us,
        |        CAST(sum(gap) AS DOUBLE) AS sg,
        |        CAST(sum(CAST(gap AS HUGEINT) * gap) AS DOUBLE) AS sgg
        |      FROM g WHERE gap IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_gaps, min_gap_us, max_gap_us,
        |  round(sg / n_gaps, 6) AS mean_gap_us,
        |  round((sqrt(n_gaps * sgg - sg * sg) - sg)
        |      / (sqrt(n_gaps * sgg - sg * sg) + sg), 6) AS burstiness
        |FROM m ORDER BY event_type""".stripMargin,

    "q_changepoint" ->
      s"""WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS us, event_id,
        |    ${graft.functions.Money.centsSql("value")} AS cents
        |  FROM events),
        |tot AS (SELECT event_type, count(*) AS n, sum(cents) AS tot
        |        FROM ev GROUP BY event_type),
        |sc AS (SELECT event_type, event_id,
        |         CAST(row_number() OVER w AS BIGINT) AS i,
        |         CAST(sum(cents) OVER w AS BIGINT) AS cum
        |       FROM ev
        |       WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)),
        |st AS (SELECT s.event_type, s.event_id, s.i,
        |         abs(t.n * s.cum - s.i * CAST(t.tot AS BIGINT)) AS stat,
        |         t.n
        |       FROM sc s JOIN tot t USING (event_type))
        |SELECT event_type,
        |  CAST(max(n) AS BIGINT) AS n_events,
        |  first(i ORDER BY stat DESC, i ASC) AS cp_pos,
        |  first(event_id ORDER BY stat DESC, i ASC) AS cp_event_id,
        |  CAST(max(stat) AS BIGINT) AS cusum_stat
        |FROM st GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |runw AS (
        |  SELECT user_id, event_id, event_type, us,
        |    max(CASE WHEN event_type = 'click' THEN us END)
        |      OVER w AS last_click_us,
        |    count(CASE WHEN event_type = 'click' THEN 1 END)
        |      OVER w AS cum_clicks
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, us AS purchase_us, last_click_us,
        |  cum_clicks - COALESCE(lag(cum_clicks, 1)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id), 0)
        |    AS touches
        |FROM runw WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,

    // The latest click overall, if within the window, IS the latest
    // within the window; if it is older than the bound, every other
    // click is older still — so the bounded-range mirror equals the
    // engine's fill-then-reject form.
    "q_asof_tolerance" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS c_user, ts AS c_ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (
        |  SELECT p.event_id, c.click_id,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.c_ts DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.c_user
        |    AND c.c_ts <= p.ts
        |    AND epoch_us(c.c_ts) >= epoch_us(p.ts) - 1800000000)
        |SELECT p.event_id, p.user_id, j.click_id
        |FROM p LEFT JOIN (SELECT event_id, click_id FROM j WHERE rn = 1) j
        |  ON p.event_id = j.event_id
        |ORDER BY p.event_id""".stripMargin,

    "q_transition_matrix" ->
      """WITH x AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM x WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical resample derivation: the same poly_hash string, the
    // same pmod idiom, exact-cents replicate means, direct sorted picks
    // at ceil(B*alpha/2) / ceil(B*(1-alpha/2))
    "q_bootstrap_ci" -> {
      val ph = graft.functions.PolyHashF.polyHashSql(
        "('boot:' || event_type || ':' || CAST(rep AS VARCHAR)" +
          " || ':' || CAST(j AS VARCHAR))")
      s"""WITH daily AS (
         |  SELECT event_type,
         |    (epoch_us(ts)
         |      - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
         |      // 86400000000 AS day,
         |    sum(${graft.functions.Money.centsSql("value")}) AS cents
         |  FROM events GROUP BY 1, 2),
         |grid AS (SELECT event_type, cents,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM daily),
         |ks AS (SELECT DISTINCT event_type, n FROM grid),
         |draws AS (
         |  SELECT event_type, n, rep, j,
         |    ((($ph) % n) + n) % n + 1 AS idx
         |  FROM ks,
         |       unnest(generate_series(1, 50)) AS r(rep),
         |       unnest(generate_series(1, CAST(n AS BIGINT))) AS s(j)),
         |mm AS (SELECT d.event_type, d.rep,
         |    CAST(sum(g.cents) AS DOUBLE) / CAST(d.n AS DOUBLE) / 100.0 AS m
         |  FROM draws d JOIN grid g
         |    ON g.event_type = d.event_type AND g.i = d.idx
         |  GROUP BY d.event_type, d.rep, d.n),
         |agg AS (SELECT event_type, list_sort(list(m)) AS ms
         |        FROM mm GROUP BY event_type),
         |nn AS (SELECT event_type, max(n) AS n_days FROM grid
         |       GROUP BY event_type)
         |SELECT a.event_type, CAST(nn.n_days AS BIGINT) AS n_days,
         |  round(ms[2], 6) AS lo, round(ms[49], 6) AS hi
         |FROM agg a JOIN nn USING (event_type)
         |ORDER BY event_type""".stripMargin
    },

    // the Holt recurrence as a RECURSIVE CTE (the q_exp_smooth duckdb
    // list_reduce caveat); b' repeats l''s expression textually exactly
    // as the engine's fold does; residuals recompute from the (l, b)
    // sequence via an i-1 self-join, quantile is a direct sorted pick
    "q_holt_forecast" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type,
         |    epoch_us(ts)
         |      - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000
         |      AS day_us,
         |    sum(${graft.functions.Money.centsSql("value")}) AS cents
         |  FROM events GROUP BY 1, 2),
         |di AS (SELECT event_type, CAST(cents AS DOUBLE) / 100.0 AS x,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day_us)
         |      AS i,
         |    count(*) OVER (PARTITION BY event_type) AS n_days
         |  FROM daily),
         |rec AS (
         |  SELECT event_type, i, n_days, x, x AS l, CAST(0.0 AS DOUBLE) AS b
         |  FROM di WHERE i = 1
         |  UNION ALL
         |  SELECT d.event_type, d.i, d.n_days, d.x,
         |    0.3 * d.x + 0.7 * (r.l + r.b),
         |    0.2 * ((0.3 * d.x + 0.7 * (r.l + r.b)) - r.l) + 0.8 * r.b
         |  FROM rec r JOIN di d
         |    ON d.event_type = r.event_type AND d.i = r.i + 1),
         |resid AS (
         |  SELECT c.event_type, abs(c.x - (p.l + p.b)) AS ar
         |  FROM rec c JOIN rec p
         |    ON p.event_type = c.event_type AND p.i = c.i - 1),
         |q AS (SELECT event_type, list_sort(list(ar)) AS rs
         |      FROM resid GROUP BY event_type),
         |hw AS (SELECT event_type,
         |    CASE WHEN len(rs) > 0
         |      THEN rs[greatest(1, CAST(ceil(len(rs) * 0.9) AS INT))]
         |      ELSE 0.0 END AS half_width
         |  FROM q),
         |fin AS (SELECT event_type, n_days, l, b FROM rec
         |        WHERE i = n_days)
         |SELECT f.event_type, CAST(f.n_days AS BIGINT) AS n_days,
         |  round(f.l, 6) AS level, round(f.b, 6) AS trend,
         |  round(f.l + f.b, 6) AS forecast,
         |  round(coalesce(h.half_width, 0.0), 6) AS half_width,
         |  round((f.l + f.b) - coalesce(h.half_width, 0.0), 6) AS lo,
         |  round((f.l + f.b) + coalesce(h.half_width, 0.0), 6) AS hi
         |FROM fin f LEFT JOIN hw h USING (event_type)
         |ORDER BY event_type""".stripMargin,

    // the same grid-quantized means and direct sorted-pick MAD; trend
    // NULLs where the centered window is short of 7 rows
    "q_seasonal_decomp" ->
      s"""WITH daily AS (
         |  SELECT event_type,
         |    (epoch_us(ts)
         |      - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
         |      // 86400000000 AS day,
         |    sum(${graft.functions.Money.centsSql("value")}) AS cents
         |  FROM events GROUP BY 1, 2),
         |wt AS (SELECT event_type, day,
         |    CAST(cents AS DOUBLE) / 100.0 AS x,
         |    CASE WHEN count(*) OVER w = 7
         |      THEN (CAST(sum(cents) OVER w AS DOUBLE) / 7.0) / 100.0
         |    END AS trend,
         |    ((day % 7) + 7) % 7 AS slot
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY day
         |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |dq AS (SELECT *, CAST(round((x - trend) * 1e9) AS BIGINT) AS detq
         |       FROM wt),
         |sm AS (SELECT event_type, slot,
         |         CAST(sum(detq) AS DOUBLE) / 1e9 / count(*) AS slot_mean
         |       FROM dq WHERE detq IS NOT NULL GROUP BY 1, 2),
         |ct AS (SELECT event_type,
         |         CAST(sum(CAST(round(slot_mean * 1e9) AS BIGINT))
         |              AS DOUBLE) / 1e9 / count(*) AS slot_center
         |       FROM sm GROUP BY event_type),
         |se AS (SELECT sm.event_type, sm.slot,
         |         sm.slot_mean - ct.slot_center AS seasonal
         |       FROM sm JOIN ct USING (event_type)),
         |wr AS (SELECT dq.event_type, dq.day, dq.x, dq.trend, se.seasonal,
         |         dq.x - dq.trend - se.seasonal AS residual
         |       FROM dq LEFT JOIN se
         |         ON dq.event_type = se.event_type AND dq.slot = se.slot),
         |md AS (SELECT event_type, list_sort(list(abs(residual))) AS rs
         |       FROM wr WHERE residual IS NOT NULL GROUP BY event_type),
         |mad AS (SELECT event_type,
         |    CASE WHEN len(rs) % 2 = 1 THEN rs[(len(rs) + 1) // 2]
         |    ELSE (rs[len(rs) // 2] + rs[len(rs) // 2 + 1]) / 2.0 END AS mad
         |  FROM md)
         |SELECT wr.event_type, wr.day, round(wr.x, 2) AS x,
         |  round(wr.trend, 6) AS trend, round(wr.seasonal, 6) AS seasonal,
         |  round(wr.residual, 6) AS residual,
         |  (wr.residual IS NOT NULL AND abs(wr.residual) > mad.mad * 3.0)
         |    AS is_anomaly
         |FROM wr LEFT JOIN mad USING (event_type)
         |ORDER BY event_type, day""".stripMargin,

    "q_theil_sen" ->
      s"""WITH daily AS (
         |  SELECT event_type,
         |    (epoch_us(ts)
         |      - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
         |      // 86400000000 AS day,
         |    sum(${graft.functions.Money.centsSql("value")}) AS cents
         |  FROM events GROUP BY 1, 2),
         |sl AS (SELECT a.event_type,
         |    CAST(b.cents - a.cents AS DOUBLE) / 100.0
         |      / CAST(b.day - a.day AS DOUBLE) AS m
         |  FROM daily a JOIN daily b
         |    ON a.event_type = b.event_type AND a.day < b.day),
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         |        list_sort(list(m)) AS ms
         |      FROM sl GROUP BY event_type)
         |SELECT event_type, n_pairs,
         |  round(CASE WHEN len(ms) % 2 = 1 THEN ms[(len(ms) + 1) // 2]
         |        ELSE (ms[len(ms) // 2] + ms[len(ms) // 2 + 1]) / 2.0 END,
         |    6) AS slope_per_day
         |FROM g ORDER BY event_type""".stripMargin,

    // 20 unrolled power-iteration CTE rounds (the kmeans-mirror
    // discipline): each round quantizes every pi(prev)*P(next|prev)
    // product to the 1e-9 grid before the per-state sum, matching the
    // engine's exact-long accumulation. The final projection LEFT JOINs
    // the state list so a state with no incoming edges reads pi = 0
    // instead of vanishing.
    "q_markov_stationary" -> {
      val rounds = (1 to 20).map { i =>
        s"""pi$i AS (SELECT t2.next AS s,
           |  sum(CAST(round((CAST(piq AS DOUBLE) / 1e9) * p * 1e9)
           |      AS BIGINT)) AS piq
           |  FROM pi${i - 1} JOIN t2 ON t2.prev = pi${i - 1}.s
           |  GROUP BY t2.next)""".stripMargin
      }.mkString(",\n")
      s"""WITH x AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev
         |  FROM events),
         |trans AS (SELECT prev, event_type AS next, count(*) AS c
         |          FROM x WHERE prev IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT prev, sum(c) AS ct FROM trans GROUP BY prev),
         |t2 AS (SELECT t.prev, t.next,
         |         CAST(t.c AS DOUBLE) / CAST(tot.ct AS DOUBLE) AS p
         |       FROM trans t JOIN tot USING (prev)),
         |states AS (SELECT DISTINCT s FROM
         |  (SELECT prev AS s FROM trans UNION SELECT next FROM trans)),
         |ns AS (SELECT count(*) AS n FROM states),
         |pi0 AS (SELECT s, CAST(round(1e9 / n) AS BIGINT) AS piq
         |        FROM states CROSS JOIN ns),
         |$rounds
         |SELECT states.s AS state,
         |  round(CAST(coalesce(pi20.piq, 0) AS DOUBLE) / 1e9, 6) AS pi
         |FROM states LEFT JOIN pi20 ON pi20.s = states.s
         |ORDER BY state""".stripMargin
    },

    "q_twap" ->
      s"""WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    ${graft.functions.Money.centsSql("value")} AS cents,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_us
        |  FROM events),
        |agg AS (
        |  SELECT user_id,
        |    sum(CAST(cents AS HUGEINT) * (next_us - us)) AS wv,
        |    sum(CAST(next_us - us AS HUGEINT)) AS dur
        |  FROM ev WHERE next_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id,
        |  round(CAST(wv AS DOUBLE) / CAST(dur AS DOUBLE) / 100.0, 6) AS twap,
        |  CAST(dur AS BIGINT) AS held_us
        |FROM agg ORDER BY user_id""".stripMargin,

    // association-rule mirror: same distinct (user, type) base, same
    // ordered pair join, same exact-integer ratio shapes
    "q_assoc_rules" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |        FROM ut GROUP BY event_type),
        |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |       FROM ut),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        CAST(count(*) AS BIGINT) AS n_ab
        |      FROM ut a JOIN ut b ON a.user_id = b.user_id
        |        AND a.event_type < b.event_type
        |      GROUP BY type_a, type_b)
        |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, n_ab,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
        |    AS support,
        |  round(CAST(n_ab * n_users AS DOUBLE)
        |    / CAST(ta.n * tb.n AS DOUBLE), 6) AS lift
        |FROM p
        |JOIN tot ta ON p.type_a = ta.event_type
        |JOIN tot tb ON p.type_b = tb.event_type
        |CROSS JOIN nu
        |ORDER BY type_a, type_b""".stripMargin,

    // RFM mirror: same date-grid recency, exact-cents monetary, and
    // ntile(5) cuts under identical deterministic orderings
    "q_rfm" ->
      s"""WITH pu AS (SELECT user_id,
        |    CAST(datediff('day', CAST(max(ts) AS DATE), DATE '2024-02-01')
        |      AS BIGINT) AS r_days,
        |    CAST(count(*) AS BIGINT) AS f,
        |    sum(${graft.functions.Money.centsSql("value")}) AS m_cents
        |  FROM events GROUP BY user_id)
        |SELECT user_id, r_days, f,
        |  CAST(m_cents AS DOUBLE) / 100.0 AS monetary,
        |  CAST(ntile(5) OVER (ORDER BY r_days, user_id) AS BIGINT)
        |    AS r_bucket,
        |  CAST(ntile(5) OVER (ORDER BY f DESC, user_id) AS BIGINT)
        |    AS f_bucket,
        |  CAST(ntile(5) OVER (ORDER BY m_cents DESC, user_id) AS BIGINT)
        |    AS m_bucket
        |FROM pu ORDER BY user_id""".stripMargin,

    // decayScore mirror: the IDENTICAL fixed-shape double chain
    // ((Δus/86400e6)/τ — every step correctly rounded, bit-equal both
    // engines) into the 1e-9 weight grid; cents·w_nano exact integer,
    // decimal sum, one close
    "q_decay_score" ->
      s"""WITH ev AS (
        |  SELECT user_id,
        |    ${graft.functions.Money.centsSql("value")} AS cents,
        |    CAST(round(exp(-((CAST(epoch_us(TIMESTAMP '2024-02-01')
        |        - epoch_us(ts) AS DOUBLE) / 86400000000.0) / 7.0)) * 1e9)
        |      AS BIGINT) AS wnano
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(cents AS HUGEINT) * wnano) AS DOUBLE)
        |    / 1e11, 6) AS decay_score
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
