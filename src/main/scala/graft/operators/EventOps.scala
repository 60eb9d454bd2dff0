package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over a timestamped fact table (batch forms;
  * streaming counterparts in graft.streaming).
  *
  * Scale notes: every operator here shuffles once, on the entity key
  * (`user_id`) or the time bucket — never on the raw event id. Window
  * functions sort per-partition only (keys are hashed apart); the tumbling/
  * sliding aggregations are plain hash aggs with map-side combine.
  *
  * STREAMING-TWIN AUDIT (every verb closed one way or the other —
  * either a twin in [[graft.streaming.EventStream]] or a documented
  * batch-only contract):
  *
  *  - twins: [[tumbling]]→tumblingCounts, [[sliding]]→slidingCounts,
  *    [[sessionize]]/[[sessionStats]]→sessionCounts,
  *    [[sessionPaths]]→sessionPathsStream, [[intervalJoin]]→
  *    intervalJoin, [[ohlcBars]]→ohlcBars, [[decayScore]]→decayScores,
  *    [[runningTotal]]→runningUserTotals, [[sequenceNgrams]]→
  *    sequenceDeltas (n ≥ 2; transitionDeltas is the lean n = 2 form),
  *    the lag-pair transition matrix→transitionDeltas, the RANGE-frame
  *    window→rollingRange, KS/PSI drift→ksDaily/psiDaily,
  *    dedup→dedupEvents, funnel→funnelStages, last-click
  *    attribution→attributedPurchases, SCD2 history ([[graft.operators
  *    .Scd.history]])→scdIntervals (closed intervals stream, the open
  *    interval is state — the r18 twin; snapshotAt stays a batch range
  *    read over the emitted history).
  *  - twin (moment state): the A/B readouts (Profiling.welchTTest /
  *    cupedDiff / proportionZTest) close over exact integer moments,
  *    and EventStream.armMoments maintains that state incrementally —
  *    the ≤2-row t/θ close stays consumer-side by design (chained
  *    streaming aggregations would force complete mode); specced:
  *    prefix-exact moments + the streamed close == q_ab_welch's t.
  *  - bounded-summary twin: [[topPerKey]]'s "who dominates" question is
  *    served by heavyUsersByType (Misra-Gries, the PODS'12 mergeable
  *    bound) — an EXACT streaming top-k per key would need unbounded
  *    per-key state, so the sketch IS the honest streaming form.
  *  - batch-only by documented contract: [[cusumChangepoint]] (a
  *    retrospective argmax over the COMPLETE series — any prefix's
  *    answer can be overturned by one more event; see the contract note
  *    in EventStream.ksDaily). Likewise retrospective-by-nature
  *    composites in the query layer (RFM
  *    scoring at an as-of date, burstiness over closed windows,
  *    forecast backtests — [[expSmoothDaily]]'s rmse included: its
  *    LEVEL recurrence is prefix-computable, but the backtest score is
  *    over closed history; [[holtForecast]] is the same split one level
  *    up (the level+trend recurrences are prefix-computable, but its
  *    CONFORMAL band is a quantile of the COMPLETE one-step residual
  *    history — a prefix band would un-calibrate with every event);
  *    [[bootstrapMeanCi]] resamples the CLOSED window by construction
  *    (the deterministic index scheme is a function of the final n —
  *    resamples under n and n+1 share nothing);
  *    [[theilSenDaily]]'s median-of-pair-slopes,
  *    [[markovStationary]]'s fixed point, and [[seasonalDecompose]]'s
  *    CENTERED trend (each day's value needs days after it) are
  *    likewise whole-series statistics any prefix answer can overturn)
  *    recompute from closed history by design — their inputs are
  *    already the batch outputs of the twins above.
  */
object EventOps {

  /** Top-k rows per key by `order` columns (deterministic — pass explicit
    * tiebreaks). One shuffle on `keys`. */
  def topPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int)
      : DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Running (cumulative) total of `valueCol` per key in (ts, tiebreak)
    * order. Uses exact integer cents so the running double is
    * reproducible across engines/runs. */
  def runningTotal(df: DataFrame, key: String, ts: String, tiebreak: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_cents",
        sum(graft.functions.Money.cents(col(valueCol))).over(w))
      .withColumn("cum_value", col("cum_cents").cast("double") / 100.0)
  }

  /** Tumbling-window counts+sums; `width` e.g. "1 hour". Emits
    * window_start as a flat timestamp column. */
  def tumbling(df: DataFrame, ts: String, width: String,
      valueCol: String = "value"): DataFrame =
    df.groupBy(window(col(ts), width).getField("start").as("window_start"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Money.centsTotal(col(valueCol)).as("total_value"))

  /** Hopping (sliding) window counts: `width` window every `slide`. Each
    * event lands in width/slide buckets — the blowup is explicit in the
    * plan (generator), not hidden state. */
  def sliding(df: DataFrame, ts: String, width: String, slide: String)
      : DataFrame =
    df.groupBy(window(col(ts), width, slide).getField("start").as("window_start"))
      .agg(count(lit(1)).as("n"))

  /** Gap-based sessionization: a new session starts after `gapMinutes` of
    * inactivity. Two stacked windows (lag → running sum of break flags),
    * both partitioned by the entity key — one shuffle total. Session ids
    * are per-user ordinals (deterministic with the event-id tiebreak). */
  def sessionize(df: DataFrame, key: String, ts: String, tiebreak: String,
      gapMinutes: Int): DataFrame = {
    val order = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    df.withColumn("__prev_us", lag(unix_micros(col(ts)), 1).over(order))
      .withColumn("__brk",
        when(col("__prev_us").isNull ||
          unix_micros(col(ts)) - col("__prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk")).over(cum))
      .drop("__prev_us", "__brk")
  }

  /** Session-level rollup from sessionize output. */
  def sessionStats(df: DataFrame, key: String, ts: String): DataFrame =
    df.groupBy(col(key), col("session_id"))
      .agg(min(col(ts)).as("session_start"), max(col(ts)).as("session_end"),
        count(lit(1)).as("n_events"))

  /** Session paths — assemble each session's ordered label sequence
    * into one string (the SFT/behavioral-cloning sample-assembly verb:
    * turning an event log into "what did this user do, in order"
    * training rows; also the funnel-exploration view). Ordering inside
    * a session is (ts, tiebreak) — unique by the event-id contract —
    * and the assembly is ONE aggregation: `collect_list(struct(ts,
    * tiebreak, label))` sorted row-locally by `array_sort` (struct
    * comparison is field-order lexicographic, exactly the (ts,
    * tiebreak) sort key), so no second window pass and no
    * nondeterministic collect order survives. Per-session arrays are
    * session-sized — the same boundedness argument as every per-user
    * window here; a pathological single session is capped by `maxLen`
    * elements (loud `require` via the rollup, not silent truncation).
    * Output: (key, session_id, session_start, n_events, path). */
  def sessionPaths(df: DataFrame, key: String, ts: String,
      tiebreak: String, labelCol: String, gapMinutes: Int,
      maxLen: Int = 100000): DataFrame = {
    val s = sessionize(df, key, ts, tiebreak, gapMinutes)
      .localCheckpoint() // guard + assembly legs share the two windows
    // guard BEFORE assembling: the count aggregate is a cheap map-side
    // combine, the string assembly is not — never build the unbounded
    // string just to learn it was unbounded
    val hot = s.groupBy(col(key), col("session_id"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxLen)
      .limit(1).collect()
    require(hot.isEmpty, {
      val r = hot.head
      s"sessionPaths: session (${r.get(0)}, ${r.get(1)}) holds " +
        s"${r.getLong(2)} events > maxLen=$maxLen — a runaway session " +
        "(bot traffic / broken gap config) would assemble an unbounded " +
        "string; fix the gap or cap upstream, or raise maxLen knowingly."
    })
    s.groupBy(col(key), col("session_id"))
      .agg(min(col(ts)).as("session_start"),
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(
              struct(col(ts).as("t"), col(tiebreak).as("tb"),
                col(labelCol).as("l")))),
            x => x.getField("l")),
          ">").as("path"))
  }

  /** Interval (time-range) join: pair every `left` row with the `right`
    * rows of the same key whose timestamp falls in
    * [leftTs, leftTs + within) — the attribution-join shape (click →
    * purchase within N minutes). Physically an equi-join on the key
    * (ONE shuffle per side; the range predicate rides along as the
    * join condition), so it scales like any keyed join — no cartesian.
    * Comparisons are on microseconds (unix_micros) to pin cross-engine
    * semantics for nanosecond sources. Timestamp columns must be
    * pre-renamed to distinct names; the key keeps one column in the
    * output. Streaming twin: [[graft.streaming.EventStream.intervalJoin]]
    * (same pairs, plus watermark-bounded state). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, withinMinutes: Long): DataFrame = {
    require(leftTs != rightTs,
      "rename the two timestamp columns to distinct names before joining")
    val us = withinMinutes * 60L * 1000000L
    val r = right.withColumnRenamed(key, "__rk")
    left.join(r, col(key) === col("__rk") &&
        unix_micros(col(rightTs)) >= unix_micros(col(leftTs)) &&
        unix_micros(col(rightTs)) < unix_micros(col(leftTs)) + us)
      .drop("__rk")
  }

  /** Sequential pattern mining, the n-gram form: frequency and user
    * support of every length-`n` consecutive run of `labelCol` values in
    * each key's (ts, tiebreak)-ordered stream — "view→click→purchase
    * happened 312 times across 41 users". The n-gram restriction of
    * GSP/PrefixSpan keeps it one windowed pass: `lead` builds the runs
    * in the same single Exchange the other window operators here use
    * (no self-join — a length-n join on position would shuffle the
    * stream n times), then a hash agg over the label^n key space — the
    * output is at most |labels|^n rows, vocabulary-sized, regardless of
    * stream length. */
  def sequenceNgrams(df: DataFrame, key: String, ts: String,
      tiebreak: String, labelCol: String, n: Int): DataFrame = {
    require(n >= 2 && n <= 5, s"sequence n-gram length $n outside [2,5]")
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val steps = (0 until n).map { i =>
      val c = if (i == 0) col(labelCol) else lead(col(labelCol), i).over(w)
      c.as(s"s$i")
    }
    val runs = df.select((col(key) +: steps): _*)
      .filter((1 until n).map(i => col(s"s$i").isNotNull)
        .reduce(_ && _))
    runs.groupBy((0 until n).map(i => col(s"s$i")): _*)
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(key)).as("n_users"))
  }

  /** OHLC bar resample: per (`key`, tumbling `widthUs` bucket of `tsUs`)
    * candlestick — open/close = the value at the FIRST/LAST event of the
    * bucket, high/low = extrema, plus count and exact-cents volume. The
    * time-series downsampling verb next to [[tumbling]]'s count and
    * TWAP's integral: one hash aggregate, ONE shuffle on (key, bucket),
    * map-side combined — `min_by`/`max_by` over a (ts, tiebreak) struct
    * replaces the window row_number alternative that would sort-shuffle
    * every bucket. `tiebreak` must make the ordering total (a unique id)
    * so open/close are deterministic on both engines. All values ride
    * the integer cents grid — cross-engine exact, no float anywhere. */
  def ohlcBars(df: DataFrame, key: String, tsUs: Column, tiebreak: String,
      cents: Column, widthUs: Long): DataFrame = {
    require(widthUs > 0, s"bar width must be positive, got $widthUs")
    df.select(col(key), tsUs.as("us"), col(tiebreak), cents.as("cents"))
      .groupBy(col(key),
        (col("us") - pmod(col("us"), lit(widthUs))).as("bar_us"))
      .agg(
        min_by(col("cents"), struct(col("us"), col(tiebreak))).as("open_cents"),
        max_by(col("cents"), struct(col("us"), col(tiebreak))).as("close_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("volume_cents"))
  }

  /** CUSUM change-point detection (Page 1954): for each `key`'s
    * (ts, tiebreak)-ordered value series, the position where the
    * cumulative deviation from the series mean peaks — the standard
    * "did the level shift, and when" screen over metric streams. The
    * statistic is kept EXACT by scaling out the division: with
    * S_i = Σ_{j≤i} x_j, the textbook |S_i − i·x̄| maximizes at the same
    * i as the integer |n·S_i − i·S_n|, so everything stays on the cents
    * grid and both engines agree bit-for-bit (`cusum_stat` is the
    * n-scaled statistic, stated loudly in the name of reproducibility).
    *
    * Shape: one window pass (row_number + running sum share a single
    * (key | ts, tiebreak) Exchange), the key-cardinality (n, total)
    * frame broadcast back, then a vocabulary-sized argmax aggregate —
    * `max_by` over (stat, −i) picks the highest peak, earliest position
    * on ties, deterministically. Bound: |n·S_i| ≤ n²·max|cents|, so the
    * long grid holds to ~10⁹ rows per key at 10⁴ cents — beyond that,
    * pre-aggregate the series to coarser bars ([[ohlcBars]]) first. */
  def cusumChangepoint(df: DataFrame, key: String, tsUs: Column,
      tiebreak: String, cents: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("us"), col(tiebreak))
    val ev = df.select(col(key), tsUs.as("us"), col(tiebreak),
      cents.as("cents"))
    val totals = ev.groupBy(col(key))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
    ev.withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cents")).over(w))
      .join(broadcast(totals), Seq(key))
      .withColumn("stat",
        abs(col("n_events") * col("cum") - col("i") * col("total_cents")))
      .groupBy(col(key))
      .agg(
        max(col("n_events")).as("n_events"),
        max_by(struct(col("i"), col(tiebreak)),
          struct(col("stat"), -col("i"))).as("cp"),
        max(col("stat")).as("cusum_stat"))
      .select(col(key), col("n_events"), col("cp.i").as("cp_pos"),
        col(s"cp.$tiebreak").as("cp_id"), col("cusum_stat"))
  }

  /** Exponentially time-decayed value sum per key, as of a FIXED
    * reference instant: score = Σ value·exp(−age/τ) — the recency-
    * weighted popularity/engagement aggregate (feature stores, trending
    * rankers, freshness-weighted corpus mixing). `asOf` is an explicit
    * parameter, not max(ts): a data-derived reference would re-weight
    * every historical score each ingest tick AND need a global scalar
    * join; a pinned as-of keeps scores immutable and the plan one
    * map-side-combined aggregate.
    *
    * Determinism across engines: age rides the exact micros grid (the
    * module's epoch-integer discipline) into ONE fixed-shape double
    * expression `(Δus / 86400e6) / τ` (each step correctly rounded, so
    * bit-identical on both engines); the weight exp(−age) quantizes to
    * the 1e-9 integer grid (UnigramLM's −ln p discipline); the per-row
    * product cents·w_nano is exact integer (≤1e13, inside the long),
    * summed as decimal, divided once at the close. */
  /** Percentile-bootstrap confidence interval for each key's MEAN daily
    * value — the error bar a dashboard should carry, with the
    * randomness made ORACLE-RECOMPUTABLE (the Gumbel-sampling trick a
    * third time): resample j of replicate b draws day index
    * pmod(poly_hash("boot:key:b:j"), n) + 1, so both engines rebuild
    * the identical B resamples and the interval itself hash-checks —
    * unlike every rand()-based bootstrap, which could only ever be
    * property-tested.
    *
    * Scale shape: one corpus reduce to the day grid, then a generated
    * (key × B × n) resample frame — grid-sized × B, never
    * corpus-shaped — one equi-join back to the grid and exact-cents
    * means per replicate; the CI is a direct sorted pick of the B
    * replicate means (floor/ceil index rule, no interpolation). */
  def bootstrapMeanCi(df: DataFrame, key: String, ts: Column,
      value: Column, b: Int = 50, conf: Double = 0.95): DataFrame = {
    require(b >= 10, s"need at least 10 replicates, got $b")
    require(conf > 0.0 && conf < 1.0, s"conf must sit in (0,1), got $conf")
    val us = unix_micros(ts)
    val daily = df
      .groupBy(col(key),
        ((us - pmod(us, lit(86400000000L))) / lit(86400000000L))
          .cast("long").as("day"))
      .agg(sum(graft.functions.Money.cents(value)).as("cents"))
    val w = Window.partitionBy(col(key)).orderBy(col("day"))
    // consumed by both the draw generator and the resample join —
    // checkpoint the grid-sized frame so the corpus reduces once
    val grid = daily
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(key)))
        .cast("long"))
      .localCheckpoint()
    val draws = grid.filter(col("i") === 1)
      .select(col(key), col("n"),
        explode(sequence(lit(1), lit(b))).as("rep"))
      .select(col(key), col("n"), col("rep"),
        explode(sequence(lit(1L), col("n"))).as("j"))
      .withColumn("idx", pmod(graft.functions.PolyHashF.poly_hash(
        concat(lit("boot:"), col(key), lit(":"),
          col("rep").cast("string"), lit(":"), col("j").cast("string"))),
        col("n")) + 1L)
    val means = draws
      .join(grid.select(col(key), col("i"), col("cents")),
        draws(key) === grid(key) && col("idx") === col("i"))
      .groupBy(draws(key).as(key), col("rep"), col("n"))
      .agg((sum(col("cents")).cast("double") / col("n").cast("double")
        / 100.0).as("m"))
    val alpha = 1.0 - conf
    val loIdx = math.max(1, math.ceil(b * (alpha / 2.0)).toInt)
    val hiIdx = math.min(b, math.ceil(b * (1.0 - alpha / 2.0)).toInt)
    means.groupBy(col(key))
      .agg(max(col("n")).as("n_days"),
        array_sort(collect_list(col("m"))).as("ms"))
      .select(col(key), col("n_days"),
        round(element_at(col("ms"), loIdx), 6).as("lo"),
        round(element_at(col("ms"), hiIdx), 6).as("hi"))
  }

  /** Holt linear-trend forecast with a conformal interval: double
    * exponential smoothing over each key's daily cents grid —
    * l′ = α·x + (1−α)(l+b), b′ = β(l′−l) + (1−β)b, l₁ = x₁, b₁ = 0 —
    * returning the one-step-ahead point forecast l+b AND an honest
    * uncertainty band: the 90th percentile of the |one-step residuals|
    * (split-conformal, distribution-free — the coverage claim needs no
    * normality the residuals don't have). The trended sibling of
    * [[expSmoothDaily]]; same day-sorted row-local fold, same
    * time-bounded grid, no window, no second shuffle.
    *
    * Determinism: one fixed fold order; b′ recomputes l′'s expression
    * textually (mirrored identically); the quantile is a direct
    * sorted-element pick at ceil(0.9·m). */
  def holtForecast(df: DataFrame, key: String, ts: Column, value: Column,
      alpha: Double = 0.3, beta: Double = 0.2): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0 && beta >= 0.0 && beta <= 1.0,
      s"need alpha in (0,1] and beta in [0,1], got ($alpha, $beta)")
    val us = unix_micros(ts)
    val daily = df
      .groupBy(col(key), (us - pmod(us, lit(86400000000L))).as("day_us"))
      .agg(sum(graft.functions.Money.cents(value)).as("cents"))
    val series = daily.groupBy(col(key)).agg(
      count(lit(1)).as("n_days"),
      transform(array_sort(collect_list(struct(col("day_us"), col("cents")))),
        e => e.getField("cents").cast("double") / lit(100.0)).as("xs"))
    val folded = aggregate(
      slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
      struct(element_at(col("xs"), 1).as("l"), lit(0.0).as("b"),
        array().cast("array<double>").as("rs")),
      (acc, x) => {
        val f = acc.getField("l") + acc.getField("b")
        val lNew = lit(alpha) * x + lit(1.0 - alpha) * f
        struct(lNew.as("l"),
          (lit(beta) * (lNew - acc.getField("l")) +
            lit(1.0 - beta) * acc.getField("b")).as("b"),
          concat(acc.getField("rs"), array(x - f)).as("rs"))
      })
    val rs = array_sort(transform(col("r").getField("rs"), abs(_)))
    val m = size(rs)
    val halfWidth = when(m > 0,
      element_at(rs, greatest(lit(1), ceil(m * lit(0.9)).cast("int"))))
      .otherwise(0.0)
    val forecast = col("r").getField("l") + col("r").getField("b")
    series.select(col(key), col("n_days"), folded.as("r"))
      .select(col(key), col("n_days"),
        round(col("r").getField("l"), 6).as("level"),
        round(col("r").getField("b"), 6).as("trend"),
        round(forecast, 6).as("forecast"),
        round(halfWidth, 6).as("half_width"),
        round(forecast - halfWidth, 6).as("lo"),
        round(forecast + halfWidth, 6).as("hi"))
  }

  /** Classical additive seasonal decomposition of each key's daily
    * value totals (x = trend + seasonal + residual) plus a robust
    * anomaly flag — the monitoring readout behind "is today actually
    * unusual, or is it just Saturday":
    *
    *   - trend: centered `period`-wide moving average, NULL until the
    *     window is full (the classical edge rule). `period` must be ODD
    *     — an even period has no symmetric window (classical
    *     decomposition uses a 2×m double MA there, which this verb does
    *     not implement), so it is rejected rather than silently
    *     computed over an asymmetric rowsBetween;
    *   - seasonal: per day-slot (day index mod `period`) mean of the
    *     detrended series, centered so the slots sum to ~0;
    *   - residual = x − trend − seasonal; a day flags anomalous when
    *     |residual| > 3 × MAD of the key's residuals (exact median —
    *     day-grid-sized, the [[theilSenDaily]] boundedness argument).
    *
    * Determinism: the trend is an exact-cents window sum over a counted
    * full window; detrended values and dow means quantize onto the
    * 1e-9 grid before every cross-row mean (order-free sums), and the
    * MAD medians are direct sorted-element picks. One corpus reduce;
    * everything after moves grid-sized rows. */
  def seasonalDecompose(df: DataFrame, key: String, ts: Column,
      value: Column, period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be an odd integer >= 3 (a centered $period-wide " +
        "moving average needs a symmetric window; even periods need the " +
        s"2×m double MA this verb does not implement), got $period")
    val us = unix_micros(ts)
    // the grid is consumed by four legs (trend window, slot means,
    // residuals, MAD) — checkpoint the grid-sized reduce so the corpus
    // scans once, not once per leg
    val daily = df
      .groupBy(col(key),
        ((us - pmod(us, lit(86400000000L))) / lit(86400000000L))
          .cast("long").as("day"))
      .agg(sum(graft.functions.Money.cents(value)).as("cents"))
      .localCheckpoint()
    val half = (period - 1) / 2
    val w = Window.partitionBy(col(key)).orderBy(col("day"))
      .rowsBetween(-half, period - 1 - half)
    def grid(c: Column) = round(c * lit(1e9)).cast("long")
    val withTrend = daily
      .withColumn("x", col("cents").cast("double") / 100.0)
      .withColumn("trend",
        when(count(lit(1)).over(w) === period,
          (sum(col("cents")).over(w).cast("double") /
            lit(period.toDouble)) / 100.0))
      .withColumn("slot", pmod(col("day"), lit(period.toLong)))
      .withColumn("detq", grid(col("x") - col("trend")))
    val slotMeans = withTrend.filter(col("detq").isNotNull)
      .groupBy(col(key), col("slot"))
      .agg((sum(col("detq")).cast("double") / lit(1e9) /
        count(lit(1)).cast("double")).as("slot_mean"))
    val centered = slotMeans
      .groupBy(col(key))
      .agg((sum(grid(col("slot_mean"))).cast("double") / lit(1e9) /
        count(lit(1)).cast("double")).as("slot_center"))
    val seasonal = slotMeans.join(centered, key)
      .select(col(key), col("slot"),
        (col("slot_mean") - col("slot_center")).as("seasonal"))
    val withResid = withTrend
      .join(broadcast(seasonal), Seq(key, "slot"), "left")
      .withColumn("residual", col("x") - col("trend") - col("seasonal"))
    // robust per-key scale: MAD of the residuals (day-grid-sized sorted
    // pick; 0-residual series get MAD 0 and flag nothing: 0 > 3*0 fails)
    val madF = withResid.filter(col("residual").isNotNull)
      .groupBy(col(key))
      .agg(array_sort(collect_list(abs(col("residual")))).as("rs"))
      .select(col(key), {
        val n = size(col("rs"))
        def pos(c: Column) = c.cast("int")
        when(n % 2 === 1, element_at(col("rs"), pos((n + lit(1)) / 2)))
          .otherwise((element_at(col("rs"), pos(n / 2)) +
            element_at(col("rs"), pos(n / 2) + 1)) / 2.0).as("mad")
      })
    withResid.join(broadcast(madF), Seq(key), "left")
      .select(col(key), col("day"), round(col("x"), 2).as("x"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("residual"), 6).as("residual"),
        (col("residual").isNotNull &&
          abs(col("residual")) > col("mad") * 3.0).as("is_anomaly"))
  }

  /** Theil-Sen robust trend of each key's daily value totals: the
    * MEDIAN over all day-pair slopes (y_j − y_i)/(x_j − x_i) — the
    * outlier-proof alternative to the OLS trend (one corrupted day
    * moves OLS arbitrarily; Theil-Sen tolerates ~29% corruption). The
    * robust-trend sibling of [[expSmoothDaily]]'s level forecast.
    *
    * Scale shape: one reduce to the TIME-bounded (key, day) grid, then
    * a per-key day-pair equi-join — grid², still time²-bounded, never
    * corpus-shaped (the q_forecast_mase argument squared; a decade of
    * days is ~6.6M pairs per key, a reduce-side rounding error at this
    * engine's scale). Slopes are exact-cents differences over integer
    * day gaps; the median picks sorted elements directly (no
    * interpolation semantics to mirror), so the result is deterministic
    * and oracle-checked. */
  def theilSenDaily(df: DataFrame, key: String, ts: Column,
      value: Column): DataFrame = {
    val us = unix_micros(ts)
    val daily = df
      .groupBy(col(key),
        ((us - pmod(us, lit(86400000000L))) / lit(86400000000L))
          .cast("long").as("day"))
      .agg(sum(graft.functions.Money.cents(value)).as("cents"))
    val a = daily.select(col(key), col("day").as("da"), col("cents").as("ca"))
    val b = daily.select(col(key), col("day").as("db"), col("cents").as("cb"))
    val slopes = a.join(b, Seq(key))
      .filter(col("da") < col("db"))
      .select(col(key),
        ((col("cb") - col("ca")).cast("double") / lit(100.0) /
          (col("db") - col("da")).cast("double")).as("m"))
    val n = size(col("ms"))
    // Column `/` is double division — cast the (exact-in-branch)
    // positions back to int for element_at
    def pos(c: Column) = c.cast("int")
    val med = when(n % 2 === 1, element_at(col("ms"), pos((n + lit(1)) / 2)))
      .otherwise((element_at(col("ms"), pos(n / 2)) +
        element_at(col("ms"), pos(n / 2) + 1)) / 2.0)
    slopes.groupBy(col(key))
      .agg(count(lit(1)).as("n_pairs"),
        array_sort(collect_list(col("m"))).as("ms"))
      .select(col(key), col("n_pairs"), round(med, 6).as("slope_per_day"))
  }

  /** Stationary distribution of the first-order event-type Markov chain
    * — where user behavior settles in the long run, the ranking signal
    * behind "which state dominates steady-state traffic" (PageRank's
    * 1-D cousin over the behavior graph). `iters` power-iteration
    * rounds π' = πP from uniform, over the row-normalized transition
    * counts (the q_transition_matrix lag pass).
    *
    * Scale shape: the corpus pays ONE lag window + pair count (the
    * transition matrix, vocabulary² rows); the iteration runs on that
    * bounded matrix DRIVER-SIDE — the codebook pattern (KMeansQuant
    * centroids), guarded by `maxCells` with a limit probe so a
    * high-cardinality type column fails loudly before materializing.
    * Mass on states without outgoing edges vanishes rather than
    * redistributing (documented; absorbing-state handling is a modeling
    * choice, not a default).
    *
    * Determinism: each π(prev)·P(next|prev) product quantizes onto the
    * 1e-9 grid BEFORE the per-state sum (exact long accumulation, the
    * UnigramLM discipline), so the iterate is bit-stable and the query
    * oracle-checks against 20 unrolled CTE rounds. */
  def markovStationary(df: DataFrame, userCol: String, ts: Column,
      tiebreak: Column, typeCol: String, iters: Int = 20,
      maxCells: Int = 10000): DataFrame = {
    require(iters >= 1, s"need at least one iteration, got $iters")
    val w = Window.partitionBy(col(userCol)).orderBy(ts, tiebreak)
    val rows = df
      .select(col(userCol), ts, tiebreak, col(typeCol))
      .withColumn("prev", lag(col(typeCol), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col(typeCol).as("next"))
      .agg(count(lit(1)).as("c"))
      .limit(maxCells + 1).collect()
    require(rows.nonEmpty, "no transitions: every user has one event")
    require(rows.length <= maxCells,
      s"transition matrix exceeds maxCells=$maxCells cells — a " +
        "high-cardinality state column; bucket it or raise maxCells")
    val states = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.sorted.toSeq
    val outTot = rows.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    var piq: Map[String, Long] =
      states.map(_ -> math.round(1e9 / states.length)).toMap
    for (_ <- 1 to iters) {
      val next = scala.collection.mutable.Map(states.map(_ -> 0L): _*)
      rows.foreach { r =>
        val (p, s, c) = (r.getString(0), r.getString(1), r.getLong(2))
        next(s) += math.round((piq(p).toDouble / 1e9) *
          (c.toDouble / outTot(p).toDouble) * 1e9)
      }
      piq = next.toMap
    }
    val spark = df.sparkSession
    import spark.implicits._
    states.map { s =>
      (s, BigDecimal(piq(s).toDouble / 1e9)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("state", "pi")
  }

  /** Simple exponential smoothing over each key's DAILY value grid
    * (Brown 1956): level_t = α·x_t + (1−α)·level_{t−1} with level_1 =
    * x_1. Returns per key: (key, n_days, level, rmse) — `level` is the
    * one-step-ahead forecast for the next day, `rmse` the in-sample
    * one-step forecast error (the α-tuning readout, the smoothing
    * sibling of the seasonal-naive MASE backtest).
    *
    * Scale shape: ONE wordcount-shaped reduce to the (key, day) grid;
    * the grid is TIME-bounded, not corpus-bounded (the q_forecast_mase
    * argument), so the per-key sorted array is bounded and the
    * recurrence folds row-locally — no window, no second shuffle.
    * Daily totals are exact integer cents and the fold runs in one
    * fixed day-sorted order, so the double level/rmse are deterministic
    * across engines and partitionings (oracle-checked). Batch-only by
    * the forecast-backtest contract in the header audit. */
  def expSmoothDaily(df: DataFrame, key: String, ts: Column, value: Column,
      alpha: Double = 0.3): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"smoothing weight must sit in (0, 1], got $alpha")
    val us = unix_micros(ts)
    val daily = df
      .groupBy(col(key), (us - pmod(us, lit(86400000000L))).as("day_us"))
      .agg(sum(graft.functions.Money.cents(value)).as("cents"))
    val series = daily.groupBy(col(key)).agg(
      count(lit(1)).as("n_days"),
      transform(array_sort(collect_list(struct(col("day_us"), col("cents")))),
        e => e.getField("cents").cast("double") / lit(100.0)).as("xs"))
    val folded = aggregate(
      slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
      struct(element_at(col("xs"), 1).as("level"), lit(0.0).as("sse")),
      (acc, x) => struct(
        (lit(alpha) * x + lit(1.0 - alpha) * acc.getField("level"))
          .as("level"),
        (acc.getField("sse") +
          (x - acc.getField("level")) * (x - acc.getField("level")))
          .as("sse")))
    series.select(col(key), col("n_days"),
      round(folded.getField("level"), 6).as("level"),
      round(when(col("n_days") > 1,
          sqrt(folded.getField("sse") / (col("n_days").cast("double") - 1.0)))
        .otherwise(0.0), 6).as("rmse"))
  }

  def decayScore(df: DataFrame, key: String, ts: Column, value: Column,
      asOf: String, tauDays: Double = 7.0): DataFrame = {
    // FUTURE-dated events (ts > asOf) make exp(−age) EXPLODE instead of
    // decay — the weight's long cast errors under ANSI / saturates
    // non-ANSI while the DuckDB mirror raises, splitting engine from
    // oracle. Fail loudly with a bounded probe (the Upsert discipline)
    // instead of letting a clock-skewed ingest corrupt scores.
    val future = df.filter(ts > lit(asOf).cast("timestamp")).limit(1).count()
    require(future == 0L,
      s"decayScore: events dated after asOf=$asOf — a future age makes " +
        "exp(-age/tau) explode; pin asOf at/after the ingest horizon")
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n_events"),
        decayScoreAgg(ts, value, asOf, tauDays).as("decay_score"))
  }

  /** The decayed-sum aggregate expression shared by the batch operator
    * and the streaming twin. The cents·w_nano product multiplies in
    * DECIMAL (cents ≤ ~9e16 cents would overflow a long against the 1e9
    * weight grid — the review catch); age ≥ 0 keeps w_nano ≤ 1e9. */
  private[graft] def decayScoreAgg(ts: Column, value: Column,
      asOf: String, tauDays: Double): Column = {
    require(tauDays > 0.0, s"decayScore needs tau > 0, got $tauDays")
    val ageDays = (unix_micros(lit(asOf).cast("timestamp")) -
      unix_micros(ts)).cast("double") / lit(86400e6)
    val wNano = round(exp(-(ageDays / lit(tauDays))) * lit(1e9)).cast("long")
    round(sum(graft.functions.Money.cents(value).cast("decimal(38,0)")
      * wNano).cast("double") / lit(1e11), 6)
  }
}
