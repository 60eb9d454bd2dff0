package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming forms of the event analytics (SURVEY.md §2.7 —
  * the reference has no streaming; this is the extension surface).
  *
  * Sources are file streams (parquet dir) for tests; in production the
  * same transforms run unchanged over Kafka etc. Watermarks bound state:
  * the tumbling agg keeps ≤ (watermark/width + 1) windows per key alive,
  * and the stateful per-user counter uses explicit GroupState with a
  * processing-time timeout so state size is O(active users).
  */
object EventStream {

  /** Streaming-readable events schema with the DEFAULT `ts` flavor
    * (micros/NTZ, the current fixture format). [[read]] swaps in the
    * flavor the files at hand actually carry. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream reader over an events parquet directory. Streaming
    * sources require an explicit schema, and the fixture's on-disk `ts`
    * flavor has drifted across generations (nanos / micros-NTZ / UTC) —
    * so probe the flavor with a batch footer read of whatever files are
    * already present, then normalize through the same dispatch as the
    * batch loader ([[graft.Tables.normalizeEventsTs]]) so stream and
    * batch agree by construction. An empty directory (files arrive only
    * after the stream starts) falls back to the default [[rawSchema]]
    * flavor. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val tsType =
      try graft.Tables.loadEventsRaw(spark, path).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException =>
        rawSchema("ts").dataType // no files yet to probe
      }
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(path))
  }

  /** Windowed streaming aggregation with watermark + late-data bound. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Money.centsTotal(col("value")).as("total_value"))
      .select(col("window").getField("start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Hopping-window streaming counts (the streaming form of the batch
    * q_sliding_count): each event lands in width/slide overlapping
    * windows; watermark bounds retained state to
    * ≈ (watermark + width)/slide windows. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** Streaming sessionization via native session_window: per-user
    * sessions close after `gap` inactivity; the watermark both bounds
    * state (open sessions per active user) and finalizes sessions for
    * append-mode sinks. Matches the batch q_session_window semantics
    * (windows are [ts, ts+gap): a gap of exactly `gap` starts a new
    * session). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  final case class SessEvent(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String)
  /** Open-session state: ordinal, bounds, and the labels collected so
    * far — bounded by the session's own length (maxLen-guarded), never
    * the user's history. */
  final case class SessState(session_id: Long, start_us: Long,
      last_us: Long, n: Long, labels: Seq[String])
  final case class ClosedSession(user_id: Long, session_id: Long,
      session_start_us: Long, n_events: Long, path: String)

  /** Streaming twin of [[graft.operators.EventOps.sessionPaths]]: each
    * user's open session accumulates its ordered label sequence in
    * `flatMapGroupsWithState`; a gap > `gapMinutes` CLOSES the session
    * and emits its assembled (ordinal, start, count, path) row — the
    * continuously-assembling form of the SFT sample-assembly verb.
    * Emitted rows match the batch form exactly for every session the
    * stream has closed (specced across a two-batch seam, including
    * sessions that straddle the seam); each user's final session stays
    * open in state — the batch form over closed history is the recourse
    * for flushing it, same as every twin here.
    *
    * Exactness contract (the [[funnelStages]] family's): per-user
    * event-time order across micro-batches (append-log arrival);
    * within a batch events fold in (ts, event_id) order — the batch
    * form's exact sort key. Session ids are per-user ordinals, as in
    * batch. State per user is ONE open session (labels bounded by
    * `maxLen`, loudly — a runaway session fails the query rather than
    * silently growing executor state). */
  def sessionPathsStream(events: DataFrame, gapMinutes: Int = 30,
      maxLen: Int = 100000): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val typed = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[SessEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[SessState]) =>
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.last_us <= gapUs =>
                require(s.n < maxLen,
                  s"sessionPathsStream: user $uid session ${s.session_id} " +
                    s"exceeds maxLen=$maxLen events — runaway session " +
                    "(bot traffic / broken gap config); fix upstream or " +
                    "raise maxLen knowingly")
                cur = Some(s.copy(last_us = e.ts_us, n = s.n + 1,
                  labels = s.labels :+ e.event_type))
              case Some(s) =>
                closed += ClosedSession(uid, s.session_id, s.start_us,
                  s.n, s.labels.mkString(">"))
                cur = Some(SessState(s.session_id + 1, e.ts_us, e.ts_us,
                  1L, Seq(e.event_type)))
              case None =>
                cur = Some(SessState(1L, e.ts_us, e.ts_us, 1L,
                  Seq(e.event_type)))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** Streaming OHLC bars — the twin of [[graft.operators.EventOps
    * .ohlcBars]]: per (event_type, tumbling window) open/high/low/close
    * + count + exact-cents volume. min_by/max_by over the
    * (us, event_id) total order are declarative aggregates, so their
    * partial (value, ordering) buffers persist in the state store
    * between micro-batches exactly like sum/count — the open of a bar
    * whose first event arrived three micro-batches ago survives
    * restarts. State per key is O(1) (six scalars), bounded overall by
    * the watermark horizon × bar width. */
  def ohlcBars(events: DataFrame, width: String = "1 day",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        graft.functions.Money.cents(col("value")).as("cents"))
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(
        min_by(col("cents"), struct(col("us"), col("event_id")))
          .as("open_cents"),
        max_by(col("cents"), struct(col("us"), col("event_id")))
          .as("close_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("volume_cents"))
      .select(unix_micros(col("window.start")).as("bar_us"),
        col("event_type"), col("open_cents"), col("close_cents"),
        col("high_cents"), col("low_cents"), col("n_events"),
        col("volume_cents"))

  /** Streaming exact dedup by event id: duplicates arriving within the
    * watermark horizon are dropped; state is bounded by the watermark
    * (unlike plain dropDuplicates, whose state grows forever). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming twin of the Misra-Gries heavy-hitters rollup
    * (`q_heavy_hitters`): per event type, the capacity-bounded
    * frequent-users summary maintained across micro-batches.
    *
    * Like [[decayScores]], no bespoke state operator exists here — the
    * native `heavy_hitters` aggregate is a TypedImperativeAggregate, so
    * Spark's streaming aggregation state store carries the O(capacity)
    * buffer itself (update mode), and each micro-batch folds into it
    * through the same merge path the batch rollup uses. The PODS'12
    * mergeable-summaries bound (est ≤ true ≤ est + maxerr; any item
    * with true > maxerr is present, maxerr ≤ N/(capacity+1)) therefore
    * survives ANY micro-batch arrival split by construction — that, not
    * an exact-equality seam, is the twin's contract, matching the batch
    * query's rows-only/§2 status (retained sets are fold-order
    * dependent; the guarantee is not). State per group is O(capacity),
    * never per-user — the monitor runs forever on bounded memory. */
  def heavyUsersByType(events: DataFrame, capacity: Int = 8): DataFrame = {
    events
      .select(col("event_type"), col("user_id").cast("string").as("item"))
      .groupBy(col("event_type"))
      .agg(graft.functions.HeavyHitters.heavy_hitters(col("item"), capacity)
        .as("hh"))
  }

  /** Streaming twin of [[graft.operators.EventOps.decayScore]]: the
    * running recency-weighted score per user, updated each micro-batch.
    *
    * The pinned as-of makes every event's decay weight a CONSTANT of
    * the event (round(exp(−age/τ)·1e9) on the nano grid), so the score
    * is an ordinary commutative streaming aggregate — Spark's own
    * aggregation state store carries the running (count, exact nano
    * numerator) per user, and no bespoke state operator is needed at
    * all (contrast [[funnelStages]]/[[rollingRange]], whose batch
    * semantics force custom ordered state). That linearity is the
    * operational argument FOR the pinned-as-of contract: a max(ts)- or
    * now()-anchored decay would re-weight all history every tick and
    * could never stream. Exactness: the accumulated numerator is the
    * SAME integer sum as the batch form regardless of event order or
    * batch boundaries, so after any prefix of the log the emitted score
    * equals the batch operator over that prefix, bit-exact. Update-mode
    * sink; n_events is strictly increasing per user, so the final score
    * is the row with each user's max n_events. */
  def decayScores(events: DataFrame, asOf: String,
      tauDays: Double = 7.0): DataFrame =
    // shares the batch operator's exact aggregate expression (decimal
    // cents·w_nano product — no long wrap). The batch form's loud
    // future-event probe cannot run on an unbounded stream: the caller
    // pins asOf at/after the ingest horizon by contract (a violating
    // event errors the weight cast loudly under ANSI rather than
    // corrupting scores).
    events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.EventOps.decayScoreAgg(col("ts"), col("value"),
          asOf, tauDays).as("decay_score"))

  /** Streaming per-arm moment state for the A/B readouts: (arm, n, s1
    * exact cents, s2 cents² in DECIMAL) in update mode — the
    * exact-integer moments [[graft.operators.Profiling.welchTTest]] and
    * `cupedDiff` close over, maintained incrementally as native
    * streaming aggregates (counts and sums are commutative, so there is
    * no seam hazard — the spec's claim is prefix exactness: after any
    * micro-batch split the state equals the batch moments over the
    * events so far, and the Welch t computed from the final state
    * equals the batch query's). The t/θ close itself is a ≤2-row
    * consumer-side formula, deliberately NOT a second streaming
    * aggregation (chained aggregations need complete mode and lose the
    * incremental update). */
  def armMoments(events: DataFrame, arm: Column,
      valueCol: Column): DataFrame = {
    val q = graft.functions.Money.cents(valueCol)
    events.groupBy(arm.as("arm"))
      .agg(count(lit(1)).as("n"), sum(q).as("s1"),
        sum(q.cast("decimal(38,0)") * q.cast("decimal(38,0)")).as("s2"))
  }

  /** Stream-stream interval join: left-type events joined to right-type
    * events of the same user within [l_ts, l_ts + within) — streaming
    * attribution (click → purchase). Both sides carry a watermark and
    * the join condition bounds the time range, so each side's buffered
    * state is limited to the watermark + interval horizon (Spark drops
    * older buffered rows); an unbounded stream-stream join would
    * otherwise keep every row forever. Inner-join matches emit as soon
    * as both sides arrive. Batch twin (same pairs):
    * [[graft.operators.EventOps.intervalJoin]]. */
  def intervalJoin(events: DataFrame, leftType: String, rightType: String,
      withinMinutes: Int = 30, watermark: String = "1 hour"): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("user_id"),
        col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), col("user_id").as("__rk"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r, col("user_id") === col("__rk") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") < col("l_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(col("l_id"), col("r_id"), col("user_id"), col("l_ts"),
        col("r_ts"))
  }

  /** Stream-static enrichment: join each event against a static
    * dimension table (Spark plans the static side as a broadcast per
    * micro-batch when it fits — the standard streaming-enrichment shape;
    * no state, no watermark needed for stream-static joins). */
  def enriched(events: DataFrame, dim: DataFrame, key: String,
      dimCols: Seq[String]): DataFrame =
    events.join(
      dim.select((key +: dimCols).map(col): _*), Seq(key), "left")

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n_events: Long, total_cents: Long)

  /** Per-user attribution state: the last click seen, clicks so far,
    * and the click count frozen at the previous purchase. */
  final case class AttrState(last_click_us: Option[Long],
      cum_clicks: Long, clicks_at_prev_purchase: Long)
  /** One attributed purchase (q_attribution's row shape). */
  final case class AttributedPurchase(user_id: Long, event_id: Long,
      purchase_us: Long, last_click_us: Option[Long], touches: Long)

  final case class TransEvent(user_id: Long, event_type: String,
      ts_us: Long, event_id: Long)
  /** The one remembered event per user (the next seam's `prev`). */
  final case class TransLast(ts_us: Long, event_id: Long, event_type: String)
  /** One micro-batch's pair-count contribution for one user. */
  final case class TransitionDelta(user_id: Long, prev_type: String,
      next_type: String, n: Long)

  final case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
  /** Per-user funnel progress; stage timestamps are event-time micros,
    * None until the stage converts. */
  final case class FunnelUser(user_id: Long, s_ts: Option[Long],
      c_ts: Option[Long], p_ts: Option[Long])

  /** Streaming twin of `q_funnel`'s chained window-min stages
    * (signup → first click at-or-after → first purchase at-or-after),
    * maintained incrementally per user via mapGroupsWithState: state is
    * THREE timestamps per user — O(users), never the event history.
    *
    * Exactness contract: equals the batch chained-min form when each
    * user's events arrive in event-time order ACROSS micro-batches (the
    * shape of a time-partitioned append log — within one micro-batch
    * arrival order doesn't matter, events fold in (ts, stage) order).
    * An out-of-order signup EARLIER than an already-folded click can
    * under-count downstream stages — bound that with the source's
    * watermark/ordering guarantee, or run the batch form over the closed
    * history. Equal-timestamp events fold signup → click → purchase,
    * matching the batch `>=` stage predicates.
    *
    * Retention (`q_retention`) deliberately has NO streaming twin: its
    * cohort matrix joins every event against each user's whole-history
    * first week, so exact incremental maintenance needs unbounded
    * per-user event retention (not O(1) state like this funnel). Run it
    * as an incremental BATCH rollup over closed weeks instead
    * ([[Incremental.runParquet]] is the ingestion half of that). */
  def funnelStages(events: DataFrame): Dataset[FunnelUser] = {
    import events.sparkSession.implicits._
    val stageRank = Map("signup" -> 0, "click" -> 1, "purchase" -> 2)
    val typed = events
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")).as[FunnelEvent]
    typed.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelUser, FunnelUser](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[FunnelUser]) =>
          val prev = state.getOption.getOrElse(FunnelUser(uid, None, None, None))
          var s = prev.s_ts
          var c = prev.c_ts
          var p = prev.p_ts
          rows.toSeq
            .sortBy(e => (e.ts_us, stageRank(e.event_type)))
            .foreach { e =>
              e.event_type match {
                case "signup" if s.isEmpty => s = Some(e.ts_us)
                case "click" if c.isEmpty && s.exists(_ <= e.ts_us) =>
                  c = Some(e.ts_us)
                case "purchase" if p.isEmpty && c.exists(_ <= e.ts_us) =>
                  p = Some(e.ts_us)
                case _ => ()
              }
            }
          val next = FunnelUser(uid, s, c, p)
          state.update(next)
          next
      }
  }

  /** Streaming twin of `q_attribution`'s join-free window pass: per-user
    * state is THREE numbers (last click, running click count, count
    * frozen at the previous purchase) — O(users); each purchase emits
    * its attribution row as it arrives. Same ordered-arrival exactness
    * contract as [[funnelStages]]/[[transitionDeltas]]; within a batch
    * events fold in (ts, event_id) order, the batch window's sort key. */
  def attributedPurchases(events: DataFrame): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    val typed = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[TransEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttributedPurchase](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[AttrState]) =>
          var st = state.getOption.getOrElse(AttrState(None, 0L, 0L))
          val out = Seq.newBuilder[AttributedPurchase]
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            if (e.event_type == "click") {
              st = st.copy(last_click_us = Some(e.ts_us),
                cum_clicks = st.cum_clicks + 1)
            } else {
              out += AttributedPurchase(uid, e.event_id, e.ts_us,
                st.last_click_us,
                st.cum_clicks - st.clicks_at_prev_purchase)
              st = st.copy(clicks_at_prev_purchase = st.cum_clicks)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming twin of `q_transition_matrix`'s lag-window pair counts:
    * per-user state is the single LAST event (ts, event_id, type) —
    * O(users), never the history — and each micro-batch emits the
    * (prev_type, next_type) pair-count DELTAS its events create,
    * including the seam pair between the stored last event and the
    * batch's first. Summing deltas across batches equals the batch
    * matrix (specced over a median-split two-batch run); the downstream
    * rollup is a plain `groupBy(prev, next).sum(n)` the sink owns.
    *
    * Same exactness contract as [[funnelStages]]: per-user event-time
    * order across micro-batches (append-log arrival); within a batch
    * arrival order is irrelevant — events fold in (ts, event_id) order,
    * the batch window's exact sort key. An out-of-order straggler would
    * mis-pair only its own seam; bound that with the source's ordering
    * guarantee or run the batch form over closed history. */
  def transitionDeltas(events: DataFrame): Dataset[TransitionDelta] = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[TransEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransLast, TransitionDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[TransLast]) =>
          var last = state.getOption
          val counts = scala.collection.mutable.LinkedHashMap
            .empty[(String, String), Long]
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            last.foreach { l =>
              val k = (l.event_type, e.event_type)
              counts(k) = counts.getOrElse(k, 0L) + 1L
            }
            last = Some(TransLast(e.ts_us, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          counts.iterator.map { case ((p, n), c) =>
            TransitionDelta(uid, p, n, c)
          }
      }
  }

  /** Per-user tail: the last n−1 event types in event order (the next
    * seam's prefix). */
  final case class SeqTail(tail: Seq[String])
  /** One micro-batch's n-gram count contribution for one user. */
  final case class SequenceDelta(user_id: Long, gram: Seq[String], n: Long)

  /** Streaming twin of `q_event_trigrams`' consecutive n-gram counts —
    * the generalization of [[transitionDeltas]] (its n = 2 special
    * case, kept as the lean pair form): per-user state is the LAST n−1
    * event types — O(users · (n−1)), never the history — and each
    * micro-batch emits the per-user gram-count DELTAS its events
    * create, including the ≤ n−1 seam grams spanning the stored tail
    * and the batch's first events. Summing deltas per gram equals the
    * batch `n_occurrences`; distinct delta users per gram equal
    * `n_users` (a user supports a gram once however many batches
    * contribute — the sink's rollup is sum + count-distinct, specced
    * over a median-split run). Same exactness contract as
    * [[transitionDeltas]]: per-user event-time order across
    * micro-batches; within a batch events fold in (ts, event_id)
    * order. */
  def sequenceDeltas(events: DataFrame, n: Int): Dataset[SequenceDelta] = {
    require(n >= 2 && n <= 5, s"sequence n-gram length $n outside [2,5]")
    import events.sparkSession.implicits._
    val typed = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[TransEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqTail, SequenceDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[SeqTail]) =>
          var tail = state.getOption.map(_.tail.toList).getOrElse(Nil)
          val counts = scala.collection.mutable.LinkedHashMap
            .empty[List[String], Long]
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val window = tail :+ e.event_type
            if (window.length == n)
              counts(window) = counts.getOrElse(window, 0L) + 1L
            tail = window.takeRight(n - 1)
          }
          state.update(SeqTail(tail))
          counts.iterator.map { case (g, c) => SequenceDelta(uid, g, c) }
      }
  }

  final case class ScdEvent(user_id: Long, ts_us: Long, event_id: Long,
      attr: Option[Long])
  /** Per-key open interval: the attribute run that has not closed yet. */
  final case class ScdOpen(attr: Option[Long], from_us: Long, version: Long)
  final case class ScdClosed(user_id: Long, version: Long,
      attr: Option[Long], valid_from: Long, valid_to: Long)

  /** Streaming twin of [[graft.operators.Scd.history]] — the CDC feed
    * is a natural stream, and dimension history is a natural
    * flatMapGroupsWithState: per-key state is ONE open interval
    * (attr, valid_from, version) — O(keys), never the history — and a
    * micro-batch emits an interval exactly when an arriving event's
    * attribute differs (null-safely: Option equality IS `<=>`) from the
    * open run's, closing it at the change's timestamp. The batch form's
    * first-row rule holds at the seam for free: a key's first event
    * ever finds empty state and opens version 1 without emitting.
    *
    * Output is the CLOSED intervals only — the open interval is state,
    * not output (an `is_current` row would have to be retracted on
    * every change, which append mode cannot do); a sink wanting the
    * current rows unions a state flush at end-of-feed, the
    * [[sessionCounts]] flushing contract. Closed-rows-== batch history
    * minus its open rows is the seam spec. Same exactness contract as
    * [[transitionDeltas]]: per-user event-time order ACROSS
    * micro-batches (append-log arrival); within a batch events fold in
    * (ts, event_id) order — the batch window's exact sort key. */
  def scdIntervals(events: DataFrame, attr: Column): Dataset[ScdClosed] = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), attr.cast("long").as("attr"))
      .as[ScdEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdOpen, ScdClosed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[ScdOpen]) =>
          var open = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[ScdClosed]
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            open match {
              case None =>
                open = Some(ScdOpen(e.attr, e.ts_us, 1L))
              case Some(o) if o.attr != e.attr =>
                out += ScdClosed(uid, o.version, o.attr, o.from_us, e.ts_us)
                open = Some(ScdOpen(e.attr, e.ts_us, o.version + 1L))
              case _ => ()
            }
          }
          open.foreach(state.update)
          out.iterator
      }
  }

  final case class RollEvent(user_id: Long, event_id: Long, ts_us: Long,
      cents: Long)
  /** Per-user trailing-window buffer: (ts_us, cents) of events still
    * inside the RANGE frame of the newest event seen. */
  final case class RollState(buf: Seq[(Long, Long)])
  final case class RollingRow(user_id: Long, event_id: Long, us: Long,
      hour_cents: Long, hour_events: Long)

  /** Streaming twin of `q_rolling_range`'s RANGE time-frame window
    * (trailing `windowUs` of EVENT TIME per user): per-user state is the
    * (ts, cents) pairs still inside the trailing window of the newest
    * event — bounded by the user's events-per-window, NOT the history
    * (the watermark-shaped analogue of the batch frame; a RANGE frame is
    * exactly a self-eviction rule). Each arriving event evicts expired
    * entries, joins the buffer, and emits its frame aggregate.
    *
    * Exactness contract (the [[funnelStages]] family's): equals the
    * batch RANGE window when each user's events arrive in event-time
    * order across micro-batches; within one micro-batch events fold in
    * (ts, event_id) order. RANGE frames include equal-ts PEERS in both
    * directions, so equal-ts events are folded as one run — every event
    * of the run emits the run's closing aggregate, matching the batch
    * peer semantics — which makes the twin exact as long as equal-ts
    * peers of one user land in the SAME micro-batch (split-run peers
    * would under-count the earlier batch's rows; the batch form over
    * closed history is the recourse, same as every twin here). */
  def rollingRange(events: DataFrame,
      windowUs: Long = 3600000000L): Dataset[RollingRow] = {
    import events.sparkSession.implicits._
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    val typed = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        graft.functions.Money.cents(col("value")).as("cents"))
      .as[RollEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[RollState, RollingRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[RollState]) =>
          var buf = state.getOption.map(_.buf.toList).getOrElse(Nil)
          val out = Seq.newBuilder[RollingRow]
          // fold runs of equal ts together: RANGE includes equal-ts
          // peers, so every event of a run shares the run's aggregate
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
            .foldLeft(List.empty[RollEvent]) { (run, e) =>
              if (run.nonEmpty && run.head.ts_us != e.ts_us) {
                buf = flushRun(run, buf, windowUs, out); List(e)
              } else e :: run
            } match {
              case Nil => ()
              case run => buf = flushRun(run, buf, windowUs, out)
            }
          state.update(RollState(buf))
          out.result().iterator
      }
  }

  /** Close one equal-ts run: evict entries older than the frame start,
    * admit the run, emit each run event with the shared frame aggregate.
    * Returns the updated buffer (ascending ts). */
  private def flushRun(run: List[RollEvent], buf0: List[(Long, Long)],
      windowUs: Long, out: scala.collection.mutable.Builder[RollingRow, Seq[RollingRow]])
      : List[(Long, Long)] = {
    val t = run.head.ts_us
    val buf = buf0.dropWhile(_._1 < t - windowUs) ++
      run.reverseIterator.map(e => (e.ts_us, e.cents))
    val cents = buf.iterator.map(_._2).sum
    val n = buf.size.toLong
    run.reverseIterator.foreach { e =>
      out += RollingRow(e.user_id, e.event_id, t, cents, n)
    }
    buf
  }

  /** Streaming twin of the KS drift monitor (`q_ks_daily`): the stream
    * reduces to the per-(day, value-grid) count table as ORDINARY
    * streaming-aggregation state — domain-bounded (days × value grid),
    * never stream-sized — and every micro-batch re-scores per-day KS
    * against the global distribution from the compacted grid through
    * [[graft.operators.Drift.ksByPartitionCounts]]'s exact integer form.
    * KS is a global order statistic over the grid, so it recomputes from
    * sufficient statistics each batch instead of living in a state store
    * (the same reason the batch form sorts the GRID, never the data);
    * the recompute is grid-sized and guarded by the same `maxCells`
    * budget. Complete output mode — a drifting day's score keeps
    * updating as its stragglers arrive, and there is no eviction to
    * watermark (cap the day horizon upstream if the monitor must
    * forget). `sink` receives the scored (p, n_part, ks_d) frame plus
    * the micro-batch id.
    *
    * [[graft.operators.EventOps.cusumChangepoint]] deliberately has NO
    * streaming twin: its statistic is a retrospective argmax over
    * position indices of the COMPLETE series — any prefix's answer can
    * be overturned by one more event, so the honest streaming form is
    * this monitor (or OHLC pre-aggregation feeding periodic batch
    * CUSUM), not a fake incremental change-point. */
  def ksDaily(events: DataFrame, maxCells: Long = 1000000L)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val us = unix_micros(col("ts"))
    events
      .select((us - pmod(us, lit(86400000000L))).as("p"),
        graft.functions.Money.cents(col("value")).as("v"))
      .groupBy(col("p"), col("v"))
      .agg(count(lit(1)).as("c"))
      .writeStream.outputMode("complete")
      .foreachBatch { (grid: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        sink(graft.operators.Drift.ksByPartitionCounts(grid.toDF(),
          maxCells), batchId)
      }
      .start()
  }

  /** Streaming twin of the PSI drift monitor (`q_psi_daily`): identical
    * machinery to [[ksDaily]] — the per-(day, bucket) count table as
    * ordinary streaming-aggregation state, re-scored per micro-batch
    * through [[graft.operators.Drift.psiByPartitionCounts]]. Buckets are
    * 1000-cent floors of the value column (the q_psi_drift grid). */
  def psiDaily(events: DataFrame, floor: Double = 1e-6,
      maxCells: Long = 1000000L)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val us = unix_micros(col("ts"))
    val cents = graft.functions.Money.cents(col("value"))
    events
      .select((us - pmod(us, lit(86400000000L))).as("p"),
        ((cents - pmod(cents, lit(1000L))) / lit(1000L)).cast("long")
          .as("k"))
      .groupBy(col("p"), col("k"))
      .agg(count(lit(1)).as("c"))
      .writeStream.outputMode("complete")
      .foreachBatch { (grid: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        sink(graft.operators.Drift.psiByPartitionCounts(grid.toDF(),
          floor, maxCells), batchId)
      }
      .start()
  }

  /** Custom stateful op: running per-user totals via mapGroupsWithState
    * (exact cents in state, like the batch runningTotal). State here is
    * O(distinct users); for unbounded key spaces switch to
    * EventTimeTimeout + state.remove() on expiry — a processing-time
    * timeout would re-trigger batches forever on a drained source. */
  def runningUserTotals(events: DataFrame): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    val typed = events
      .select(col("user_id"), col("value")).as[UserEvent]
    typed.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0L))
          var n = prev.n_events
          var cents = prev.total_cents
          rows.foreach { e =>
            n += 1
            cents += graft.functions.Money.centsOf(e.value)
          }
          val next = UserTotal(uid, n, cents)
          state.update(next)
          next
      }
  }
}
