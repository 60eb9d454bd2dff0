package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.EventOps

class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sessionize splits on gaps > threshold and is per-user") {
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:10:00"), 2L),
      (1L, ts("2024-01-01 11:30:00"), 3L), // 80min gap → new session
      (2L, ts("2024-01-01 10:05:00"), 4L)
    ).toDF("user_id", "ts", "event_id")
    val out = EventOps.sessionize(df, "user_id", "ts", "event_id", 30)
      .select($"event_id", $"session_id").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("sessionStats aggregates bounds and counts") {
    val events = Tables.events(spark, sf001)
    val sessions = EventOps.sessionStats(
      EventOps.sessionize(events, "user_id", "ts", "event_id", 30),
      "user_id", "ts")
    val n = sessions.agg(sum($"n_events")).as[Long].head()
    assert(n === events.count(), "session event counts must partition all events")
  }

  test("sessionPaths assembles ordered label strings per session") {
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "signup"),
      (1L, ts("2024-01-01 10:10:00"), 2L, "click"),
      (1L, ts("2024-01-01 10:10:00"), 3L, "view"), // same ts: id breaks tie
      (1L, ts("2024-01-01 11:30:00"), 4L, "purchase"), // gap → session 2
      (2L, ts("2024-01-01 10:05:00"), 5L, "click")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = EventOps.sessionPaths(df, "user_id", "ts", "event_id",
        "event_type", gapMinutes = 30)
      .select($"user_id", $"session_id", $"n_events", $"path")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out === Set(
      (1L, 1L, 3L, "signup>click>view"),
      (1L, 2L, 1L, "purchase"),
      (2L, 1L, 1L, "click")))
  }

  test("sessionPaths == per-session brute force on real events") {
    val events = Tables.events(spark, sf001)
    val got = EventOps.sessionPaths(events, "user_id", "ts", "event_id",
        "event_type", gapMinutes = 30)
      .select($"user_id", $"session_id", $"path")
      .as[(Long, Long, String)].collect().toSet
    val sessions = EventOps.sessionize(events, "user_id", "ts",
        "event_id", 30)
      .select($"user_id", $"session_id", $"ts", $"event_id", $"event_type")
      .as[(Long, Long, java.sql.Timestamp, Long, String)].collect()
    val want = sessions.groupBy(r => (r._1, r._2)).map { case ((u, s), rs) =>
      // sort on (epoch-second, nanos, id): getTime alone is millis and
      // would misorder same-millisecond micro-stamped events
      (u, s, rs.sortBy(r => (r._3.toInstant.getEpochSecond,
        r._3.getNanos, r._4)).map(_._5).mkString(">"))
    }.toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("sessionPaths maxLen guard trips on a runaway session") {
    val df = (1L to 20L).map(i =>
      (1L, ts(f"2024-01-01 10:00:${i % 60}%02d"), i, "click"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val e = intercept[IllegalArgumentException] {
      EventOps.sessionPaths(df, "user_id", "ts", "event_id",
        "event_type", gapMinutes = 30, maxLen = 10)
    }
    assert(e.getMessage.contains("maxLen"))
  }

  test("runningTotal is monotone per user for non-negative values") {
    val out = EventOps.runningTotal(Tables.events(spark, sf001),
      "user_id", "ts", "event_id", "value")
    val bad = out.withColumn("prev",
        lag($"cum_value", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts", $"event_id")))
      .filter($"prev".isNotNull && $"cum_value" < $"prev")
    assert(bad.count() === 0)
  }

  test("tumbling window partitions all events") {
    val events = Tables.events(spark, sf001)
    val total = EventOps.tumbling(events, "ts", "1 hour")
      .agg(sum($"n")).as[Long].head()
    assert(total === events.count())
  }

  test("sliding 1h/30m counts each event twice") {
    val events = Tables.events(spark, sf001)
    val total = EventOps.sliding(events, "ts", "1 hour", "30 minutes")
      .agg(sum($"n")).as[Long].head()
    assert(total === 2 * events.count())
  }

  test("sequenceNgrams equals a brute-force slide over each user's stream") {
    val rows = Seq(
      (1L, 1, "v"), (1L, 2, "c"), (1L, 3, "p"), (1L, 4, "v"), (1L, 5, "c"),
      (2L, 1, "v"), (2L, 2, "c"), (2L, 3, "p"),
      (3L, 1, "v"), (3L, 2, "v")) // too short for a trigram
    val df = rows.map { case (u, m, e) => (u, new Timestamp(m * 60000L), m.toLong, e) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventOps.sequenceNgrams(df, "user_id", "ts", "event_id",
        "event_type", 3)
      .orderBy("s0", "s1", "s2")
      .as[(String, String, String, Long, Long)].collect().toSeq
    val brute = rows.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      es.sortBy(_._2).map(_._3).sliding(3).filter(_.size == 3)
        .map(g => (g(0), g(1), g(2)) -> u).toSeq
    }
    val want = brute.groupBy(_._1).view.mapValues(v =>
        (v.size.toLong, v.map(_._2).distinct.size.toLong))
      .toSeq.map { case ((a, b, c), (n, s)) => (a, b, c, n, s) }
      .sortBy(t => (t._1, t._2, t._3))
    assert(got == want)
    // vcp occurs in users 1 and 2
    assert(got.find(t => (t._1, t._2, t._3) == (("v", "c", "p")))
      .contains(("v", "c", "p", 2L, 2L)))
  }

  test("sequenceNgrams refuses degenerate lengths") {
    val df = Seq((1L, new Timestamp(0L), 1L, "v"))
      .toDF("user_id", "ts", "event_id", "event_type")
    intercept[IllegalArgumentException] {
      EventOps.sequenceNgrams(df, "user_id", "ts", "event_id", "event_type", 1)
    }
    intercept[IllegalArgumentException] {
      EventOps.sequenceNgrams(df, "user_id", "ts", "event_id", "event_type", 9)
    }
  }

  test("ohlcBars == brute-force per-bucket walk on real events") {
    val width = 86400000000L
    val rows = Tables.events(spark, sf001)
      .select($"event_type", unix_micros($"ts").as("us"), $"event_id",
        graft.functions.Money.cents($"value").as("cents"))
      .as[(String, Long, Long, Long)].collect().toSeq
    val want = rows.groupBy(r => (r._1, r._2 - math.floorMod(r._2, width)))
      .map { case ((et, bar), es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        (et, bar, sorted.head._4, sorted.last._4,
          es.map(_._4).max, es.map(_._4).min,
          es.size.toLong, es.map(_._4).sum)
      }.toSet
    val got = EventOps.ohlcBars(Tables.events(spark, sf001), "event_type",
        unix_micros($"ts"), "event_id",
        graft.functions.Money.cents($"value"), width)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("ohlcBars invariants: extrema bracket open/close, bars partition") {
    val ev = Tables.events(spark, sf001)
    val bars = EventOps.ohlcBars(ev, "event_type", unix_micros($"ts"),
      "event_id", graft.functions.Money.cents($"value"), 3600000000L)
    val bad = bars.filter($"high_cents" < $"open_cents" ||
      $"high_cents" < $"close_cents" || $"low_cents" > $"open_cents" ||
      $"low_cents" > $"close_cents" || $"high_cents" < $"low_cents")
    assert(bad.count() === 0)
    assert(bars.agg(sum($"n_events")).as[Long].head() === ev.count(),
      "bars must partition the event stream")
  }

  test("ohlcBars floor-buckets pre-epoch timestamps (pmod contract)") {
    // us = -1 (1969-12-31T23:59:59.999999) belongs to the LAST 1969 bar,
    // not bar 0: pmod bucketing floors, and the DuckDB mirrors now use
    // the same ((us % w) + w) % w form — truncating % would put both
    // pre- and post-epoch values in bar 0 and split engines from oracle
    val day = 86400000000L
    val rows = Seq(("a", -1L, 1L, 10L), ("a", -day, 2L, 20L),
      ("a", 0L, 3L, 30L), ("a", day - 1L, 4L, 40L))
    val got = EventOps.ohlcBars(rows.toDF("k", "us", "event_id", "cents"),
        "k", $"us", "event_id", $"cents", day)
      .select($"bar_us", $"n_events").as[(Long, Long)].collect().toMap
    assert(got === Map(-day -> 2L, 0L -> 2L))
  }

  test("cusumChangepoint == driver brute force; finds a planted shift") {
    // planted level shift: key "a" jumps from 100 to 900 cents at i=6
    val rows = (1 to 10).map(i => ("a", i.toLong * 1000L, i.toLong,
        if (i <= 5) 100L else 900L)) ++
      (1 to 7).map(i => ("b", i.toLong * 1000L, 100L + i, 500L))
    val df = rows.toDF("k", "us", "event_id", "cents")
    val got = EventOps.cusumChangepoint(df, "k", $"us", "event_id",
        $"cents")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // brute force: argmax |n*S_i - i*S_n|, earliest i on ties
    val want = rows.groupBy(_._1).map { case (k, es) =>
      val s = es.sortBy(e => (e._2, e._3))
      val n = s.size.toLong
      val tot = s.map(_._4).sum
      val stats = s.zipWithIndex.map { case (e, ix) =>
        val i = ix + 1L
        (i, e._3, math.abs(n * s.take(ix + 1).map(_._4).sum - i * tot))
      }
      val best = stats.maxBy(t => (t._3, -t._1))
      k -> ((n, best._1, best._2, best._3))
    }
    assert(got === want)
    // the shift is between i=5 and i=6: CUSUM peaks at the last
    // pre-shift position
    assert(got("a")._2 === 5L, s"planted shift misplaced: ${got("a")}")
    // a constant series has stat 0 everywhere -> earliest position wins
    assert(got("b")._2 === 1L && got("b")._4 === 0L)
  }

  test("cusumChangepoint is partitioning-invariant on real events") {
    val ev = Tables.events(spark, sf001)
    def run(df: org.apache.spark.sql.DataFrame) =
      EventOps.cusumChangepoint(df, "event_type", unix_micros($"ts"),
          "event_id", graft.functions.Money.cents($"value"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(run(ev) === run(ev.repartition(13)))
  }

  test("decayScore: zero age is the identity sum, weights decay monotonically") {
    // events AT the as-of instant carry weight exp(0) = 1 exactly on the
    // nano grid (w_nano = 1e9), so the score is the plain value sum
    val at = Seq((1L, ts("2024-02-01 00:00:00"), 10.25),
      (1L, ts("2024-02-01 00:00:00"), 4.75))
      .toDF("user_id", "ts", "value")
    val s0 = EventOps.decayScore(at, "user_id", $"ts", $"value",
        asOf = "2024-02-01")
      .select($"decay_score").as[Double].head()
    assert(s0 === 15.0)
    // same value, older event → strictly smaller score; ordering of
    // ages is preserved (weights are monotone in age)
    val aged = Seq((1L, ts("2024-01-31 00:00:00"), 100.0),
      (2L, ts("2024-01-24 00:00:00"), 100.0),
      (3L, ts("2024-01-01 00:00:00"), 100.0))
      .toDF("user_id", "ts", "value")
    val scores = EventOps.decayScore(aged, "user_id", $"ts", $"value",
        asOf = "2024-02-01")
      .select($"user_id", $"decay_score").as[(Long, Double)].collect().toMap
    assert(scores(1L) > scores(2L) && scores(2L) > scores(3L))
    assert(scores(1L) < 100.0 && scores(3L) > 0.0)
    // one-day age under tau=7d: weight = round(exp(-1/7)*1e9)/1e9
    val w1 = math.round(math.exp(-((86400e6 / 86400e6) / 7.0)) * 1e9) / 1e9
    assert(math.abs(scores(1L) - BigDecimal(100.0 * w1)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // partitioning invariance (exact integer accumulation)
    val ev = Tables.events(spark, sf001)
    def run(df: org.apache.spark.sql.DataFrame) =
      EventOps.decayScore(df, "user_id", $"ts", $"value", "2024-02-01")
        .as[(Long, Long, Double)].collect().toSet
    assert(run(ev) === run(ev.repartition(13)))
    // FUTURE-dated events would make exp(-age) explode (overflowing the
    // weight grid differently per engine) — the bounded probe refuses
    val withFuture = aged.union(
      Seq((9L, ts("2024-03-01 00:00:00"), 1.0)).toDF("user_id", "ts", "value"))
    val ex = intercept[IllegalArgumentException] {
      EventOps.decayScore(withFuture, "user_id", $"ts", $"value",
        asOf = "2024-02-01")
    }
    assert(ex.getMessage.contains("after asOf"))
  }

  test("theilSenDaily: exact-line slope, robust to one corrupted day") {
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, ts(f"2024-01-${i + 1}%02d 05:00:00"), 1L, "t", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // y = 3x + 10: every pair slope is exactly 3
    val line = EventOps.theilSenDaily(mk(Seq(10, 13, 16, 19, 22).map(_.toDouble)),
        "event_type", $"ts", $"value")
      .as[(String, Long, Double)].head()
    assert(line._2 == 10 && line._3 == 3.0)
    // one wild outlier day: the MEDIAN slope stays 3 (OLS would not)
    val robust = EventOps.theilSenDaily(
        mk(Seq(10, 13, 16, 1000, 22, 25, 28).map(_.toDouble)),
        "event_type", $"ts", $"value")
      .as[(String, Long, Double)].head()
    assert(robust._2 == 21 && robust._3 == 3.0, s"got $robust")
    // even pair count averages the two middles: days {0,1,2} values
    // {0, 10, 40} -> slopes {10, 20, 30}, median 20 (odd); drop to 2
    // days -> single slope
    val two = EventOps.theilSenDaily(mk(Seq(0.0, 10.0)),
        "event_type", $"ts", $"value")
      .as[(String, Long, Double)].head()
    assert(two._2 == 1 && two._3 == 10.0)
    // partitioning invariance on the fixture
    val ev = Tables.events(spark, sf001)
    def run(df: org.apache.spark.sql.DataFrame) =
      EventOps.theilSenDaily(df, "event_type", $"ts", $"value")
        .as[(String, Long, Double)].collect().sorted.toSeq
    assert(run(ev) == run(ev.repartition(13)))
  }

  test("bootstrapMeanCi: constant series collapses, CI brackets the mean") {
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, ts(f"2024-01-${i + 1}%02d 05:00:00"), 1L, "t", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // every resample of a constant series has the same mean
    val const = EventOps.bootstrapMeanCi(mk(Seq.fill(12)(25.0)),
        "event_type", $"ts", $"value")
      .as[(String, Long, Double, Double)].head()
    assert(const._2 == 12 && const._3 == 25.0 && const._4 == 25.0)
    // a varied series: lo < hi, both inside the value envelope, and
    // the interval brackets the plain mean on this (symmetric) data
    val varied = EventOps.bootstrapMeanCi(
        mk((1 to 20).map(_.toDouble * 10)), "event_type", $"ts", $"value")
      .as[(String, Long, Double, Double)].head()
    assert(varied._3 < varied._4)
    assert(varied._3 >= 10.0 && varied._4 <= 200.0)
    val mean = (1 to 20).map(_.toDouble * 10).sum / 20
    assert(varied._3 <= mean && mean <= varied._4)
    // deterministic randomness: bit-identical across partitionings
    val ev = Tables.events(spark, sf001)
    def run(df: org.apache.spark.sql.DataFrame) =
      EventOps.bootstrapMeanCi(df, "event_type", $"ts", $"value")
        .collect().map(_.toString).sorted.toSeq
    assert(run(ev) == run(ev.repartition(13)))
    val e = intercept[IllegalArgumentException] {
      EventOps.bootstrapMeanCi(ev, "event_type", $"ts", $"value", b = 5)
    }
    assert(e.getMessage.contains("replicates"))
  }

  test("holtForecast: hand-computed fold and in-sample conformal coverage") {
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, ts(f"2024-01-${i + 1}%02d 05:00:00"), 1L, "t", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // xs = {10, 20, 30}: l2 = 13, b2 = .2*3 = .6; f3 = 13.6,
    // l3 = 18.52, b3 = .2*5.52 + .8*.6 = 1.584; residuals {10, 16.4},
    // q90 picks index ceil(1.8) = 2 -> 16.4
    val got = EventOps.holtForecast(mk(Seq(10.0, 20.0, 30.0)),
        "event_type", $"ts", $"value")
      .as[(String, Long, Double, Double, Double, Double, Double, Double)]
      .head()
    assert(got._3 == 18.52 && got._4 == 1.584)
    assert(got._5 == 20.104 && got._6 == 16.4)
    assert(got._7 == 3.704 && got._8 == 36.504)
    // single day: zero trend, zero band, forecast = the day's total
    val one = EventOps.holtForecast(mk(Seq(10.0)), "event_type",
        $"ts", $"value")
      .as[(String, Long, Double, Double, Double, Double, Double, Double)]
      .head()
    assert(one._2 == 1 && one._5 == 10.0 && one._6 == 0.0)
    // the conformal claim, in-sample: the band's half-width covers at
    // least 90% of the |one-step residuals| BY CONSTRUCTION of the
    // sorted pick — checked on the real fixture via a local refold
    val ev = Tables.events(spark, sf001)
    val daily = ev.groupBy($"event_type",
        (unix_micros($"ts") - pmod(unix_micros($"ts"), lit(86400000000L)))
          .as("day_us"))
      .agg(sum(graft.functions.Money.cents($"value")).as("cents"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3.toDouble / 100.0).toSeq).toMap
    val hw = EventOps.holtForecast(ev, "event_type", $"ts", $"value")
      .select($"event_type", $"half_width").as[(String, Double)]
      .collect().toMap
    daily.foreach { case (k, xs) =>
      var (l, b) = (xs.head, 0.0)
      val resids = xs.drop(1).map { x =>
        val f = l + b
        val lN = 0.3 * x + 0.7 * f
        b = 0.2 * (lN - l) + 0.8 * b; l = lN
        math.abs(x - f)
      }
      val covered = resids.count(_ <= hw(k) + 1e-6)
      assert(covered.toDouble / resids.size >= 0.9,
        s"$k coverage ${covered}/${resids.size} under ${hw(k)}")
    }
  }

  test("seasonalDecompose rejects even periods (no symmetric window exists)") {
    val df = Seq((1L, ts("2024-01-01 05:00:00"), 1L, "t", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val e = intercept[IllegalArgumentException] {
      EventOps.seasonalDecompose(df, "event_type", $"ts", $"value",
        period = 4)
    }
    assert(e.getMessage.contains("odd"), e.getMessage)
  }

  test("seasonalDecompose recovers a planted weekly pattern exactly") {
    def mk(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, ts(f"2024-01-${i + 1}%02d 05:00:00"), 1L, "t", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // x = 100 + 5*[day%7 == 2] over 21 days: every full 7-window holds
    // exactly one boosted slot, so trend = 100 + 5/7 everywhere the
    // window is full, seasonal(slot 2) = 5 - 5/7, others = -5/7, and
    // every interior residual is EXACTLY 0
    val days = (0 until 21).map(i => if (i % 7 == 2) 105.0 else 100.0)
    val got = EventOps.seasonalDecompose(mk(days), "event_type", $"ts",
        $"value")
      .as[(String, Long, Double, Option[Double], Option[Double],
        Option[Double], Boolean)]
      .collect().map(r => r._2 -> r).toMap
    val epoch0 = got.keys.min
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (0 until 21).foreach { i =>
      val row = got(epoch0 + i)
      if (i < 3 || i > 17) {
        assert(row._4.isEmpty && row._6.isEmpty && !row._7,
          s"edge day $i should have no trend/residual: $row")
      } else {
        assert(row._4.contains(r6(100.0 + 5.0 / 7.0)), s"trend day $i: $row")
        assert(row._6.contains(0.0), s"residual day $i: $row")
        assert(!row._7)
      }
      val expSeason = if (i % 7 == 2) r6(5.0 - 5.0 / 7.0) else r6(-5.0 / 7.0)
      assert(row._5.contains(expSeason), s"seasonal day $i: $row")
    }
    // a planted spike flags anomalous under the robust MAD gate
    val spiked = days.updated(10, 200.0)
    val flagged = EventOps.seasonalDecompose(mk(spiked), "event_type",
        $"ts", $"value")
      .filter($"is_anomaly").select($"day").as[Long].collect().toSet
    assert(flagged.contains(epoch0 + 10), s"spike not flagged: $flagged")
  }

  test("seasonalDecompose is partitioning-invariant on the fixture") {
    val ev = Tables.events(spark, sf001)
    def run(df: org.apache.spark.sql.DataFrame) =
      EventOps.seasonalDecompose(df, "event_type", $"ts", $"value")
        .collect().map(_.toString).sorted.toSeq
    assert(run(ev) == run(ev.repartition(13)))
  }

  test("markovStationary converges to the analytic fixed point") {
    // one user, sequence a a a a b a: c(a,a)=3, c(a,b)=1, c(b,a)=1 →
    // P(a|a)=.75, P(b|a)=.25, P(a|b)=1; solve pi = piP: pi = (0.8, 0.2)
    val seq = Seq("a", "a", "a", "a", "b", "a").zipWithIndex.map {
      case (t, i) => (i.toLong, ts(f"2024-01-01 00:0$i:00"), 1L, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val pi = EventOps.markovStationary(seq, "user_id", $"ts", $"event_id",
        "event_type")
      .as[(String, Double)].collect().toMap
    assert(math.abs(pi("a") - 0.8) < 1e-3, s"pi=$pi")
    assert(math.abs(pi("b") - 0.2) < 1e-3)
    // mass conserved up to quantization drift (1e-9 per product-sum)
    assert(math.abs(pi.values.sum - 1.0) < 1e-6)
    // fixture: distribution over the 5 types, partitioning-invariant
    val ev = Tables.events(spark, sf001)
    def run(df: org.apache.spark.sql.DataFrame) =
      EventOps.markovStationary(df, "user_id", $"ts", $"event_id",
        "event_type").as[(String, Double)].collect().sorted.toSeq
    val base = run(ev)
    assert(base.size == 5 && base.forall(_._2 > 0.0))
    assert(base == run(ev.repartition(13)))
    val ex = intercept[IllegalArgumentException] {
      EventOps.markovStationary(ev, "user_id", $"ts", $"event_id",
        "event_type", maxCells = 3)
    }
    assert(ex.getMessage.contains("maxCells"))
  }

  test("expSmoothDaily: hand-computed fold, alpha=1 degenerates to naive") {
    // one event per day: daily x = {10, 20, 30}
    // level: 10 -> .3*20+.7*10 = 13 -> .3*30+.7*13 = 18.1
    // sse: (20-10)^2 + (30-13)^2 = 389, rmse = sqrt(389/2)
    val days = Seq(
      (1L, ts("2024-01-01 05:00:00"), 10.0),
      (1L, ts("2024-01-02 05:00:00"), 20.0),
      (1L, ts("2024-01-03 05:00:00"), 30.0)).toDF("user_id", "ts", "value")
    val got = EventOps.expSmoothDaily(days, "user_id", $"ts", $"value")
      .as[(Long, Long, Double, Double)].head()
    assert(got._2 == 3L && got._3 == 18.1)
    assert(got._4 == BigDecimal(math.sqrt(389.0 / 2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // alpha = 1: level tracks the last observation exactly and rmse is
    // the one-step-naive error — the MASE denominator's statistic
    val naive = EventOps.expSmoothDaily(days, "user_id", $"ts", $"value",
        alpha = 1.0)
      .as[(Long, Long, Double, Double)].head()
    assert(naive._3 == 30.0)
    assert(naive._4 == BigDecimal(math.sqrt((100.0 + 100.0) / 2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a single day: level = the day's total, rmse defined as 0
    val one = EventOps.expSmoothDaily(days.limit(1), "user_id", $"ts",
        $"value")
      .as[(Long, Long, Double, Double)].head()
    assert(one._2 == 1L && one._3 == 10.0 && one._4 == 0.0)
  }

  test("expSmoothDaily aggregates within-day values and is partition-stable") {
    // two events on day 1 sum to one grid point (exact cents)
    val days = Seq(
      (1L, ts("2024-01-01 01:00:00"), 4.25),
      (1L, ts("2024-01-01 23:00:00"), 5.75),
      (1L, ts("2024-01-02 12:00:00"), 20.0)).toDF("user_id", "ts", "value")
    val got = EventOps.expSmoothDaily(days, "user_id", $"ts", $"value")
      .as[(Long, Long, Double, Double)].head()
    assert(got._2 == 2L && got._3 == 13.0) // .3*20 + .7*10
    val ev = Tables.events(spark, sf001)
    def run(df: org.apache.spark.sql.DataFrame) =
      EventOps.expSmoothDaily(df, "event_type", $"ts", $"value")
        .as[(String, Long, Double, Double)].collect().toSet
    assert(run(ev) === run(ev.repartition(13)))
    val bad = intercept[IllegalArgumentException] {
      EventOps.expSmoothDaily(days, "user_id", $"ts", $"value", alpha = 0.0)
    }
    assert(bad.getMessage.contains("smoothing weight"))
  }
}
