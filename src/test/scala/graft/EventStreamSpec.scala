package graft

import org.apache.spark.sql.functions._
import graft.operators.EventOps
import graft.streaming.EventStream

/** Streaming forms verified against their batch equivalents by driving a
  * real streaming query (memory sink, processAllAvailable). */
class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  /** File-stream sources need a directory; stage the fixture file into one. */
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling counts == batch tumbling counts") {
    // complete mode: append would (correctly) withhold windows newer than
    // the final watermark, which never advances past end-of-fixture.
    val stream = EventStream.tumblingCounts(
      EventStream.read(spark, eventsDir), "1 hour", "2 hours")
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .select($"window_start", $"event_type", $"n", $"total_value")
        .collect().toSet
      val batch = Tables.events(spark, sf001)
        .groupBy(window($"ts", "1 hour").getField("start").as("window_start"),
          $"event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round($"value" * 100, 0).cast("long")).cast("double") / 100.0)
            .as("total_value"))
        .collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("count_min sketch survives streaming state round-trips == batch") {
    // the CountMin TypedImperativeAggregate's serialize/deserialize is
    // exercised for real: partial cell buffers persist in the state
    // store between micro-batches, and CMS determinism means the
    // streamed sketch must equal the batch sketch CELL FOR CELL
    val stream = EventStream.read(spark, eventsDir)
      .groupBy($"event_type")
      .agg(graft.functions.CountMin.count_min($"event_type", 64, 4).as("sk"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cms_out")
        .as[(String, Seq[Long])].collect().toMap
      val batch = Tables.events(spark, sf001)
        .groupBy($"event_type")
        .agg(graft.functions.CountMin.count_min($"event_type", 64, 4).as("sk"))
        .as[(String, Seq[Long])].collect().toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.values.exists(_.exists(_ > 0L)))
    } finally q.stop()
  }

  test("native bottom_k aggregate survives streaming state round-trips") {
    // the TypedImperativeAggregate's serialize/deserialize is exercised
    // for real here: streaming aggregation persists partial buffers in
    // the state store between micro-batches
    def key = md5(concat(lit("42:"), $"event_id".cast("string")))
    val stream = EventStream.read(spark, eventsDir)
      .groupBy($"event_type")
      .agg(graft.functions.BottomK.bottom_k(key, $"event_id", 5).as("ids"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("bottomk_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bottomk_out")
        .as[(String, Seq[Long])].collect().toMap
      val batch = Tables.events(spark, sf001)
        .groupBy($"event_type")
        .agg(graft.functions.BottomK.bottom_k(key, $"event_id", 5).as("ids"))
        .as[(String, Seq[Long])].collect().toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming sliding counts == batch hopping windows") {
    val stream = EventStream.slidingCounts(
      EventStream.read(spark, eventsDir), "1 hour", "30 minutes")
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sliding_out")
        .select($"window_start", $"n").collect().toSet
      val batch = Tables.events(spark, sf001)
        .groupBy(window($"ts", "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select($"window.start".as("window_start"), $"n")
        .collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming session windows == batch session_window query") {
    // complete mode for the same reason as the tumbling test: the final
    // watermark never passes end-of-fixture, so append would withhold
    // the trailing sessions.
    val stream = EventStream.sessionCounts(
      EventStream.read(spark, eventsDir), "30 minutes", "2 hours")
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("session_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("session_out")
        .select($"user_id", $"session_start", $"n_events")
        .collect().toSet
      val batch = Tables.events(spark, sf001)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"w.start".as("session_start"), $"n_events")
        .collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming ksDaily == batch ksByPartition across a two-batch split") {
    // the KS monitor's state is the (day, cents) count grid; after the
    // second micro-batch lands, the re-scored frame must equal the batch
    // monitor on the full stream — and the seam must have CHANGED scores
    // (else grid-state survival was never exercised)
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)")
      .head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ksd")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ksd-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    @volatile var last = Set.empty[(Long, Long, Double)]
    val q = EventStream.ksDaily(EventStream.read(spark, dir.toString)) {
      (scored, _) =>
        last = scored.as[(Long, Long, Double)].collect().toSet
    }
    try {
      q.processAllAvailable()
      val afterA = last
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val us = unix_micros($"ts")
      val batch = graft.operators.Drift.ksByPartition(
          ev.select((us - pmod(us, lit(86400000000L))).as("day_us"),
            graft.functions.Money.cents($"value").as("cents")),
          $"day_us", $"cents")
        .as[(Long, Long, Double)].collect().toSet
      assert(last === batch)
      assert(last.nonEmpty)
      assert(afterA != last, "second batch must move the scores")
    } finally q.stop()
  }

  test("streaming psiDaily == batch psiByPartition across a two-batch split") {
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)")
      .head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-psid")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-psid-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    @volatile var last = Set.empty[(Long, Long, Long, Double)]
    val q = EventStream.psiDaily(EventStream.read(spark, dir.toString)) {
      (scored, _) =>
        last = scored.as[(Long, Long, Long, Double)].collect().toSet
    }
    try {
      q.processAllAvailable()
      val afterA = last
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val us = unix_micros($"ts")
      val cents = graft.functions.Money.cents($"value")
      val batch = graft.operators.Drift.psiByPartition(
          ev.select((us - pmod(us, lit(86400000000L))).as("day_us"),
            ((cents - pmod(cents, lit(1000L))) / lit(1000L)).cast("long")
              .as("bk")),
          $"day_us", $"bk")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(last === batch)
      assert(last.nonEmpty)
      assert(afterA != last, "second batch must move the scores")
    } finally q.stop()
  }

  test("streaming OHLC bars == batch ohlcBars across a two-batch split") {
    // two micro-batches split at the time median: the open of a bar
    // straddling the seam was fixed by batch A and must survive in the
    // min_by state buffer while batch B events extend the same bar
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ohlc")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ohlc-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val q = EventStream.ohlcBars(EventStream.read(spark, dir.toString),
        "6 hours", "2 hours")
      .writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out").start()
    try {
      q.processAllAvailable()
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("ohlc_out")
        .as[(Long, String, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      val batch = EventOps.ohlcBars(ev, "event_type", unix_micros($"ts"),
          "event_id", graft.functions.Money.cents($"value"),
          6L * 3600000000L)
        .select($"bar_us", $"event_type", $"open_cents", $"close_cents",
          $"high_cents", $"low_cents", $"n_events", $"volume_cents")
        .as[(Long, String, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // the seam must actually split a bar (else the state survival
      // claim was never exercised): some bar spans mid
      assert(batch.exists(b => b._1 <= mid.toLong &&
        mid.toLong < b._1 + 6L * 3600000000L))
    } finally q.stop()
  }

  test("streaming funnel stages == batch q_funnel over ts-ordered micro-batches") {
    // two micro-batches split at the time median — the ts-ordered
    // append-log arrival shape the twin's exactness contract names
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-funnel-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val q = EventStream.funnelStages(EventStream.read(spark, dir.toString))
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out").start()
    try {
      q.processAllAvailable()
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      // a stage ts is written at most once per user, so max-per-user over
      // the update log IS the final state
      val fin = spark.table("funnel_out")
        .groupBy($"user_id")
        .agg(max($"s_ts").as("s"), max($"c_ts").as("c"), max($"p_ts").as("p"))
        .agg(count(when($"s".isNotNull, 1)).as("n_signup"),
          count(when($"c".isNotNull, 1)).as("n_click_after"),
          count(when($"p".isNotNull, 1)).as("n_purchase_after"))
        .head()
      val batch = graft.queries.EventQueries.queries("q_funnel")(spark, sf001)
        .head()
      assert(fin.getLong(0) == batch.getLong(0), "n_signup")
      assert(fin.getLong(1) == batch.getLong(1), "n_click_after")
      assert(fin.getLong(2) == batch.getLong(2), "n_purchase_after")
      assert(batch.getLong(0) > 0, "fixture must actually convert")
    } finally q.stop()
  }

  test("streaming sessionPaths closes seam-straddling sessions == batch paths") {
    // Two micro-batches split at the time median: a session whose head
    // arrived in batch A and whose tail (or closing gap) arrives in
    // batch B is assembled correctly only if the open-session state —
    // ordinal, bounds, AND the ordered label buffer — survives the seam.
    // Every CLOSED session must equal the batch sessionPaths row; each
    // user's final session stays open (flushed by the batch form over
    // closed history, the documented contract).
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)")
      .head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sesspath")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sesspath-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val q = EventStream.sessionPathsStream(
        EventStream.read(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("sesspath_out").start()
    try {
      q.processAllAvailable()
      val afterA = spark.table("sesspath_out").count()
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("sesspath_out")
        .select($"user_id", $"session_id", $"session_start_us",
          $"n_events", $"path")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      // batch truth, minus each user's LAST session (still open)
      val batchAll = graft.operators.EventOps.sessionPaths(ev, "user_id",
          "ts", "event_id", "event_type", gapMinutes = 30)
        .select($"user_id", $"session_id",
          unix_micros($"session_start").as("start_us"),
          $"n_events", $"path")
        .as[(Long, Long, Long, Long, String)].collect()
      val lastPerUser = batchAll.groupBy(_._1)
        .map { case (u, rs) => u -> rs.map(_._2).max }
      val wantClosed = batchAll
        .filterNot(r => lastPerUser(r._1) == r._2).toSet
      assert(streamed === wantClosed)
      assert(streamed.nonEmpty)
      // the second batch must have closed NEW sessions (seam exercised)
      assert(afterA < streamed.size)
    } finally q.stop()
  }

  test("streaming transition deltas sum to the batch matrix across micro-batches") {
    // Two micro-batches split at the time median: the seam pair (last
    // event of batch A → first of batch B, per user) only exists if the
    // stored last-event state works; a stateless per-batch lag would
    // under-count exactly those pairs.
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-trans")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-trans-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val q = EventStream.transitionDeltas(EventStream.read(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("trans_out").start()
    try {
      q.processAllAvailable()
      val afterA = spark.table("trans_out").agg(sum($"n")).head().getLong(0)
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("trans_out")
        .groupBy($"prev_type", $"next_type")
        .agg(sum($"n").as("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val batch = graft.queries.EventQueries
        .queries("q_transition_matrix")(spark, sf001)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // batch B must actually have contributed seam+new pairs
      assert(afterA < streamed.toSeq.map(_._3).sum)
    } finally q.stop()
  }

  test("streaming sequence deltas roll up to the batch trigram counts and user support") {
    // The n = 3 generalization of the transition-delta seam: the stored
    // last-2 tail must bridge the median split, or the ≤ 2 seam grams
    // per user under-count; user support must count once per (user,
    // gram) however many batches contribute — hence the per-user delta
    // rows and the count-distinct rollup.
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-seq")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-seq-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val q = EventStream.sequenceDeltas(EventStream.read(spark, dir.toString), 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("seq_out").start()
    try {
      q.processAllAvailable()
      val afterA = spark.table("seq_out").agg(sum($"n")).head().getLong(0)
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("seq_out")
        .groupBy($"gram")
        .agg(sum($"n").as("n_occ"),
          countDistinct($"user_id").as("n_users"))
        .collect()
        .map(r => (r.getSeq[String](0).mkString("→"),
          r.getLong(1), r.getLong(2)))
        .toSet
      val batch = graft.queries.EventQueries
        .queries("q_event_trigrams")(spark, sf001)
        .collect()
        .map(r => (Seq(r.getString(0), r.getString(1), r.getString(2))
          .mkString("→"), r.getLong(3), r.getLong(4)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // batch B must actually have contributed seam + new grams
      assert(afterA < streamed.toSeq.map(_._2).sum)
    } finally q.stop()
  }

  test("streaming SCD2 closed intervals equal the batch history minus its open rows") {
    // The dimension-history seam: a tier run spanning the median split
    // must close at its TRUE change timestamp in batch B using the open
    // interval stored in state — a stateless per-batch lag would both
    // fabricate a version at the seam and mis-time the close. The open
    // intervals (batch is_current rows) are state, not output, by the
    // twin's append-mode contract.
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-scd")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-scd-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val q = EventStream.scdIntervals(EventStream.read(spark, dir.toString),
        graft.queries.EventQueries.tierAttr)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd_out").start()
    try {
      q.processAllAvailable()
      val afterA = spark.table("scd_out").count()
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("scd_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getLong(3), r.getLong(4)))
        .toSet
      val batchRows = graft.queries.EventQueries
        .queries("q_scd2_history")(spark, sf001).collect()
      val batchClosed = batchRows.filter(!_.getBoolean(5))
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getLong(3), r.getLong(4)))
        .toSet
      assert(streamed === batchClosed)
      assert(streamed.nonEmpty)
      // batch B must have closed seam intervals the stored state opened
      assert(afterA < streamed.size)
      // exactly the open rows are withheld: one per key, the last version
      val open = batchRows.filter(_.getBoolean(5))
      assert(open.map(_.getLong(0)).distinct.length == open.length)
    } finally q.stop()
  }

  test("streaming heavy users keep the Misra-Gries guarantee across micro-batches") {
    // The twin's contract is the PODS'12 mergeable bound, not exact
    // equality (retained sets are fold-order dependent): after any
    // micro-batch split, est <= true <= est + maxerr for every reported
    // item, and every user with true > maxerr is PRESENT. foreachBatch
    // keeps the latest summary per type (update-mode upsert semantics).
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-hh")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hh-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val latest = scala.collection.concurrent.TrieMap
      .empty[String, Seq[(String, Long, Long)]]
    val q = EventStream.heavyUsersByType(
        EventStream.read(spark, dir.toString), capacity = 8)
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select($"event_type", $"hh").collect().foreach { r =>
          latest(r.getString(0)) = r.getSeq[org.apache.spark.sql.Row](1)
            .map(e => (e.getString(0), e.getLong(1), e.getLong(2)))
        }
      }.start()
    try {
      q.processAllAvailable()
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val truth = ev.groupBy($"event_type", $"user_id").count()
      .collect().map(r => (r.getString(0), r.getLong(1).toString) -> r.getLong(2))
      .toMap
    assert(latest.nonEmpty)
    latest.foreach { case (tpe, summary) =>
      assert(summary.nonEmpty && summary.size <= 8)
      val maxerr = summary.map(_._3).max
      summary.foreach { case (item, est, err) =>
        val t = truth((tpe, item))
        assert(est <= t && t <= est + err,
          s"$tpe/$item: est $est true $t maxerr $err")
      }
      // presence: every user strictly above the decrement total is kept
      val kept = summary.map(_._1).toSet
      truth.collect { case ((t2, u), c) if t2 == tpe && c > maxerr => u }
        .foreach(u => assert(kept.contains(u),
          s"$tpe: frequent user $u (true > $maxerr) missing"))
    }
  }

  test("streaming decay scores == batch q_decay_score after every prefix") {
    // The pinned-as-of decay is a commutative aggregate, so unlike the
    // ordered-state twins there is NO seam hazard to exercise — the
    // point of this spec is the stronger prefix-exactness claim: after
    // EACH micro-batch, every emitted score equals the batch operator
    // over the events ingested so far, bit-exact (same integer
    // numerator), and the final table equals q_decay_score.
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-decay")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-decay-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    def latest(): Map[Long, (Long, Double)] =
      spark.table("decay_out")
        .groupBy($"user_id")
        .agg(max_by(struct($"n_events", $"decay_score"), $"n_events").as("s"))
        .select($"user_id", $"s.n_events", $"s.decay_score")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    def batchOver(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
      graft.operators.EventOps.decayScore(df, "user_id", $"ts", $"value",
          asOf = "2024-02-01")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    val a = ev.filter(unix_micros($"ts") <= mid)
    stage(a, "a.parquet")
    val q = EventStream.decayScores(
        EventStream.read(spark, dir.toString), asOf = "2024-02-01")
      .writeStream.outputMode("update")
      .format("memory").queryName("decay_out").start()
    try {
      q.processAllAvailable()
      assert(latest() === batchOver(a)) // prefix exactness after batch A
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val fin = latest()
      assert(fin === batchOver(ev)) // final == full batch operator
      val declared = graft.queries.EventQueries
        .queries("q_decay_score")(spark, sf001)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(fin === declared)
      assert(fin.nonEmpty)
    } finally q.stop()
  }

  test("streaming arm moments == batch after every prefix; Welch t closes equal") {
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-armmom")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-armmom-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    val armOf = col("event_type")
    def latest(): Map[String, (Long, Long, BigDecimal)] =
      spark.table("armmom_out")
        .groupBy($"arm").agg(max_by(struct($"n", $"s1", $"s2"), $"n").as("s"))
        .select($"arm", $"s.n", $"s.s1", $"s.s2")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), BigDecimal(r.getDecimal(3)))).toMap
    def batchOver(df: org.apache.spark.sql.DataFrame) =
      EventStream.armMoments(df, armOf, $"value")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), BigDecimal(r.getDecimal(3)))).toMap
    val a = ev.filter(unix_micros($"ts") <= mid)
    stage(a, "a.parquet")
    val q = EventStream.armMoments(
        EventStream.read(spark, dir.toString), armOf, $"value")
      .writeStream.outputMode("update")
      .format("memory").queryName("armmom_out").start()
    try {
      q.processAllAvailable()
      assert(latest() === batchOver(a))
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val fin = latest()
      assert(fin === batchOver(ev) && fin.nonEmpty)
      // the consumer-side close: Welch t from the streamed final state
      // equals the declared batch query bit-for-bit
      def m(g: String) = fin(g)
      def close(g: String) = {
        val (n, s1, s2) = m(g)
        val nd = n.toDouble
        val mean = s1.toDouble / nd / 100.0
        val vr = (s2.toDouble - s1.toDouble * s1.toDouble / nd) /
          (nd - 1.0) / 10000.0
        (nd, mean, vr)
      }
      val (na, ma, va) = close("click")
      val (nb, mb, vb) = close("purchase")
      val se2 = va / na + vb / nb
      val t = BigDecimal((ma - mb) / math.sqrt(se2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val declared = graft.queries.EventQueries.queries("q_ab_welch")(
        spark, sf001).head()
      assert(declared.getDouble(4) == t,
        s"streamed-close t $t vs declared ${declared.getDouble(4)}")
    } finally q.stop()
  }

  test("streaming rolling RANGE window == batch q_rolling_range across micro-batches") {
    // The cross-batch hazard: an event near the seam whose trailing-hour
    // frame reaches back into batch A — a stateless per-batch window
    // would under-count exactly those frames. The fixture's same-user
    // events are mostly > 1 h apart, so a blind median split can land
    // where no frame spans it (it did); derive the split from the MEDIAN
    // within-hour same-user pair instead, so by construction some
    // batch-B frame must reach into batch A. Splitting between two
    // distinct timestamps also keeps equal-ts peers together (the twin's
    // documented contract).
    val ev = Tables.events(spark, sf001)
    val usAll = ev.select($"user_id", unix_micros($"ts").as("us"))
    val mid = usAll.as("a").join(usAll.as("b"),
        $"a.user_id" === $"b.user_id" && $"b.us" > $"a.us" &&
          $"b.us" - $"a.us" <= 3600000000L)
      .select((($"a.us" + $"b.us") / 2).cast("long").as("split"))
      .orderBy($"split").collect().map(_.getLong(0)) match {
        // the MIDDLE pair's own midpoint (an interpolated percentile of
        // midpoints might straddle no actual pair)
        case splits => splits(splits.length / 2).toDouble
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-roll")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-roll-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val q = EventStream.rollingRange(EventStream.read(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("roll_out").start()
    try {
      q.processAllAvailable()
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("roll_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = graft.queries.EventQueries
        .queries("q_rolling_range")(spark, sf001)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // seam coverage: some batch-B event's frame must reach back into
      // batch A (otherwise this test proves nothing about cross-batch
      // state) — i.e. a same-user event pair within the hour straddling
      // the median
      val us = ev.select($"user_id", unix_micros($"ts").as("us"))
      val spanning = us.as("a").join(us.as("b"),
          $"a.user_id" === $"b.user_id" && $"a.us" <= mid &&
            $"b.us" > mid && $"b.us" - $"a.us" <= 3600000000L)
        .limit(1).count()
      assert(spanning > 0, "fixture has no frame spanning the seam")
    } finally q.stop()
  }

  test("streaming attribution == batch q_attribution across micro-batches") {
    // The cross-batch hazards are different from the transition twin's:
    // a click in batch A attributing a purchase in batch B needs the
    // remembered last-click; the touch count needs the frozen
    // at-previous-purchase counter to survive the batch boundary.
    val ev = Tables.events(spark, sf001)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-attr")
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-attr-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
    }
    stage(ev.filter(unix_micros($"ts") <= mid), "a.parquet")
    val q = EventStream.attributedPurchases(EventStream.read(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      q.processAllAvailable()
      stage(ev.filter(unix_micros($"ts") > mid), "b.parquet")
      q.processAllAvailable()
      def asSet(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))
      }.toSet
      val streamed = asSet(spark.table("attr_out")
        .select($"user_id", $"event_id", $"purchase_us", $"last_click_us",
          $"touches"))
      val batch = asSet(graft.queries.EventQueries
        .queries("q_attribution")(spark, sf001))
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops watermark-window duplicates") {
    // Stage the same file twice -> every event arrives duplicated.
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("b.parquet"))
    val q = EventStream.dedupEvents(EventStream.read(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_out").count()
      assert(n === Tables.events(spark, sf001).count(),
        "each event must survive exactly once")
    } finally q.stop()
  }

  test("stream-static enrichment == batch join") {
    val dim = Tables.customer(spark, sf001)
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    val stream = EventStream.enriched(
      EventStream.read(spark, eventsDir), dim, "user_id", Seq("c_mktsegment"))
      .select($"event_id", $"c_mktsegment")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("enriched_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enriched_out").collect().toSet
      val batch = Tables.events(spark, sf001)
        .join(dim, Seq("user_id"), "left")
        .select($"event_id", $"c_mktsegment").collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join == batch interval join") {
    val stream = EventStream.intervalJoin(
      EventStream.read(spark, eventsDir), "click", "purchase",
      withinMinutes = 30, watermark = "1 hour")
      .select($"l_id", $"r_id", $"user_id")
    // inner stream-stream joins emit matches in append mode as soon as
    // both sides arrive; the watermark only bounds buffered state.
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("interval_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("interval_out").collect().toSet
      val ev = Tables.events(spark, sf001)
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id".as("l_id"), $"user_id", $"ts".as("l_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("r_id"), $"user_id", $"ts".as("r_ts"))
      val batch = graft.operators.EventOps.intervalJoin(
          clicks, purchases, "user_id", "l_ts", "r_ts", 30)
        .select($"l_id", $"r_id", $"user_id").collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("incremental batch processes each arriving file exactly once") {
    val in = java.nio.file.Files.createTempDirectory("graft-inc-in")
    val ck = java.nio.file.Files.createTempDirectory("graft-inc-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-inc-out")
      .toString + "/data"
    def stage(name: String): Unit =
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf001/events.parquet"), in.resolve(name))
    def runOnce(): Unit =
      graft.streaming.Incremental.runParquet(spark, in.toString,
        EventStream.rawSchema, ck, out) { df =>
        df.filter($"event_type" === "click").select($"event_id")
      }
    val perFile = Tables.events(spark, sf001)
      .filter($"event_type" === "click").count()

    stage("a.parquet"); runOnce()
    assert(spark.read.parquet(out).count() === perFile)
    // second run with a new file: ONLY the new file's rows are appended
    stage("b.parquet"); runOnce()
    assert(spark.read.parquet(out).count() === 2 * perFile)
    // no new files: a re-run emits nothing
    runOnce()
    assert(spark.read.parquet(out).count() === 2 * perFile)
  }

  test("stateful running user totals accumulate exactly once per event") {
    val stream = EventStream.runningUserTotals(
      EventStream.read(spark, eventsDir))
    val q = stream.writeStream.outputMode("update")
      .format("memory").queryName("totals_out").start()
    try {
      q.processAllAvailable()
      // last update per user = final total
      val finalTotals = spark.table("totals_out")
        .groupBy($"user_id").agg(max($"n_events").as("n"),
          max($"total_cents").as("cents"))
      val batch = Tables.events(spark, sf001)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum(round($"value" * 100, 0).cast("long")).as("cents"))
      assert(finalTotals.collect().toSet === batch.collect().toSet)
    } finally q.stop()
  }

  test("heavy-hitters and GK digests hold their guarantees over streaming state") {
    // both sketch aggregates persist partial buffers in the state store
    // between micro-batches; the retained set / digest internals may
    // differ from a batch run, the bounds may not
    val stream = EventStream.read(spark, eventsDir)
      .groupBy($"event_type")
      .agg(graft.functions.HeavyHitters
          .heavy_hitters($"user_id".cast("string"), 8).as("hh"),
        graft.functions.QuantileSketch
          .gk_sketch_agg($"value".cast("double"), 0.05).as("sk"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("sketch_out").start()
    try {
      q.processAllAvailable()
      val exact = Tables.events(spark, sf001)
        .groupBy($"event_type", $"user_id")
        .agg(count(lit(1)).as("c"))
        .as[(String, Long, Long)].collect()
        .groupBy(_._1).view
        .mapValues(_.map(r => r._2.toString -> r._3).toMap).toMap
      val values = Tables.events(spark, sf001)
        .select($"event_type", $"value".cast("double"))
        .as[(String, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val out = spark.table("sketch_out")
      assert(out.count() > 0)
      out.select($"event_type", explode($"hh").as("e"))
        .select($"event_type", $"e.item", $"e.est", $"e.maxerr")
        .as[(String, String, Long, Long)].collect()
        .foreach { case (et, item, est, err) =>
          val t = exact(et)(item)
          assert(est <= t && t <= est + err, s"$et/$item est=$est err=$err true=$t")
        }
      out.select($"event_type",
          graft.functions.QuantileSketch.gk_quantiles($"sk",
            array(lit(0.5))).getItem(0).as("p50"))
        .as[(String, Double)].collect()
        .foreach { case (et, p50) =>
          val sorted = values(et)
          val n = sorted.size.toDouble
          val below = sorted.count(_ < p50).toDouble
          val atOrBelow = sorted.count(_ <= p50).toDouble
          assert(below <= 0.5 * n + 0.05 * n + 1, s"$et p50=$p50")
          assert(atOrBelow >= 0.5 * n - 0.05 * n - 1, s"$et p50=$p50")
        }
    } finally q.stop()
  }
}
