package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rel.TimeSeries

class TimeSeriesSpec extends SparkSpecBase {
  import spark.implicits._

  /** (event_id, epoch-seconds, user_id, event_type, value) → events frame. */
  private def ev(rows: (Long, Long, Long, String, Double)*): DataFrame =
    rows.toDF("event_id", "secs", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")

  test("resampleHourly fills gaps with n=0 and forward-fills the hourly mean") {
    // clicks at hour 0 (avg 2.0) and hour 3 (avg 6.0); hours 1-2 are gaps
    val df = ev(
      (1L, 600L, 1L, "click", 1.0), (2L, 1200L, 1L, "click", 3.0),
      (3L, 3 * 3600L + 60L, 2L, "click", 6.0))
    val out = TimeSeries.resampleHourly(df)
      .orderBy("hs").select("hs", "n", "v_fill").as[(Long, Long, Double)].collect()
    assert(out === Seq(
      (0L, 2L, 2.0), (3600L, 0L, 2.0), (7200L, 0L, 2.0), (10800L, 1L, 6.0)))
  }

  test("resampleHourly keeps per-type spans independent") {
    val df = ev(
      (1L, 0L, 1L, "click", 1.0), (2L, 7200L, 1L, "click", 2.0),
      (3L, 3600L, 2L, "view", 5.0))
    val out = TimeSeries.resampleHourly(df)
    assert(out.filter($"event_type" === "click").count() === 3) // hours 0,1,2
    assert(out.filter($"event_type" === "view").count() === 1)  // hour 1 only
  }

  test("anomalyZscore flags a spike after sufficient history, not the baseline") {
    // 24 alternating baseline points (10/12), then one spike at 100
    val base = (1 to 24).map(i =>
      (i.toLong, i * 60L, 1L, "click", if (i % 2 == 0) 12.0 else 10.0))
    val df = ev(base :+ (99L, 25 * 60L, 1L, "click", 100.0): _*)
    val out = TimeSeries.anomalyZscore(df).select("event_id").as[Long].collect()
    assert(out === Seq(99L))
  }

  test("anomalyZscore requires 12 events of history") {
    val base = (1 to 5).map(i => (i.toLong, i * 60L, 1L, "click", if (i % 2 == 0) 12.0 else 10.0))
    val df = ev(base :+ (99L, 400L, 1L, "click", 100.0): _*)
    assert(TimeSeries.anomalyZscore(df).count() === 0)
  }

  test("interpolateHourly draws the line between observed buckets and clamps the edges") {
    // observations at hour 0 (v=2) and hour 3 (v=8): hours 1,2 → 4, 6
    val df = ev(
      (1L, 600L, 1L, "click", 2.0),
      (2L, 3 * 3600L + 60L, 2L, "click", 8.0))
    val out = TimeSeries.interpolateHourly(df)
      .orderBy("hs").select("hs", "v_lin").as[(Long, Double)].collect()
    assert(out === Seq((0L, 2.0), (3600L, 4.0), (7200L, 6.0), (10800L, 8.0)))
  }

  test("ewmaHourly runs the exact recurrence e_i = 0.3·v_i + 0.7·e_{i-1}") {
    // hourly buckets with means 10, 20, 30 → e = 10, 13, 18.1
    val df = ev(
      (1L, 60L, 1L, "click", 10.0),
      (2L, 3660L, 1L, "click", 20.0),
      (3L, 7260L, 1L, "click", 30.0))
    val out = TimeSeries.ewmaHourly(df)
      .orderBy("hs").select("ewma").as[Double].collect().toSeq
    assert(out === Seq(10.0, 13.0, 18.1))
  }

  test("ewmaScan (linear container) ≡ ewmaHourly HOF form, incl. multi-key") {
    // exact recurrence values on a two-key feed
    val df = ev(
      (1L, 60L, 1L, "click", 10.0),
      (2L, 3660L, 1L, "click", 20.0),
      (3L, 7260L, 1L, "click", 30.0),
      (4L, 60L, 2L, "view", 4.0),
      (5L, 3660L, 2L, "view", 8.0))
    val out = TimeSeries.ewmaScan(df)
      .orderBy("event_type", "hs").select("ewma").as[Double].collect().toSeq
    assert(out === Seq(10.0, 13.0, 18.1, 4.0, 5.2))
    // bit-identical to the HOF form on the harness feed (same doubles,
    // same fold order — not just same rounded output)
    val events = Tables.events(spark, sfDir)
    assert(collectSet(TimeSeries.ewmaScan(events)) ===
      collectSet(TimeSeries.ewmaHourly(events)))
  }

  test("holtHourly runs the exact level/trend recurrence") {
    // buckets 10, 20, 30 with α=0.3, γ=0.2, l₁=10, b₁=0:
    //  l₂ = 0.3·20 + 0.7·(10+0) = 13,   b₂ = 0.2·(13−10) + 0.8·0 = 0.6
    //  l₃ = 0.3·30 + 0.7·13.6 = 18.52,  b₃ = 0.2·5.52 + 0.8·0.6 = 1.584
    val df = ev(
      (1L, 60L, 1L, "click", 10.0),
      (2L, 3660L, 1L, "click", 20.0),
      (3L, 7260L, 1L, "click", 30.0))
    val out = TimeSeries.holtHourly(df)
      .orderBy("hs").select("level", "trend").as[(Double, Double)].collect().toSeq
    assert(out === Seq((10.0, 0.0), (13.0, 0.6), (18.52, 1.584)))
  }

  test("holtScan (linear container) ≡ holtHourly HOF form, incl. multi-key") {
    val df = ev(
      (1L, 60L, 1L, "click", 10.0),
      (2L, 3660L, 1L, "click", 20.0),
      (3L, 7260L, 1L, "click", 30.0),
      (4L, 60L, 2L, "view", 4.0),
      (5L, 3660L, 2L, "view", 8.0))
    val out = TimeSeries.holtScan(df)
      .orderBy("event_type", "hs").select("level").as[Double].collect().toSeq
    assert(out === Seq(10.0, 13.0, 18.52, 4.0, 5.2))
    // bit-identical to the HOF form on the harness feed (same decimal-
    // string factors, same expression order)
    val events = Tables.events(spark, sfDir)
    assert(collectSet(TimeSeries.holtScan(events)) ===
      collectSet(TimeSeries.holtHourly(events)))
    assert(TimeSeries.holtScan(ev()).count() === 0)
  }

  test("holtWinters: seasonal register engages after one season; scan ≡ HOF bit-exactly") {
    // season S=2 on a 4-bucket series isolates the lookback: with
    // α=0.3 γ=0.2 δ=0.25, v = 10, 20, 14, 24 —
    //  i=1: l=10, b=0, s=0
    //  i=2 (building): l = .3·20+.7·10 = 13, b = .2·3 = .6, s = 20−13 = 7
    //  i=3 (full, s₁=0): l = .3·14+.7·13.6 = 13.72, b = .2·.72+.8·.6 = .624,
    //      s = .25·(14−13.72)+.75·0 = .07
    //  i=4 (full, s₂=7): l = .3·(24−7)+.7·14.344 = 15.1408,
    //      b = .2·1.4208+.8·.624 = .78336, s = .25·8.8592+.75·7 = 7.4648
    val df = ev(
      (1L, 60L, 1L, "click", 10.0),
      (2L, 3660L, 1L, "click", 20.0),
      (3L, 7260L, 1L, "click", 14.0),
      (4L, 10860L, 1L, "click", 24.0))
    val out = TimeSeries.holtWintersHourly(df, season = 2)
      .orderBy("hs").select("level", "trend", "seasonal")
      .as[(Double, Double, Double)].collect().toSeq
    assert(out === Seq((10.0, 0.0, 0.0), (13.0, 0.6, 7.0),
      (13.72, 0.624, 0.07), (15.1408, 0.78336, 7.4648)))
    // the linear ring-buffer container is bit-identical to the HOF form
    // on the harness feed at the declared S=24 (same decimal-string
    // factors, same expression order), including multi-key resets
    val events = Tables.events(spark, sfDir)
    assert(collectSet(TimeSeries.holtWintersScan(events)) ===
      collectSet(TimeSeries.holtWintersHourly(events)))
    assert(TimeSeries.holtWintersScan(ev()).count() === 0)
  }

  test("anomalyZscoreScalable flags a spike whose history crosses the bucket boundary") {
    // 24 baseline points in hour-bucket 0; spike lands in bucket 1 with
    // 1-hour buckets — scoring depends entirely on imported context rows
    val base = (1 to 24).map(i =>
      (i.toLong, i * 60L, 1L, "click", if (i % 2 == 0) 12.0 else 10.0))
    val df = ev(base :+ (99L, 3660L, 1L, "click", 100.0): _*)
    val out = TimeSeries.anomalyZscoreScalable(df, bucketSpanHours = 1)
      .select("event_id").as[Long].collect()
    assert(out === Seq(99L))
  }

  test("anomalyZscoreScalable bridges an EMPTY middle bucket (history chain intact)") {
    // baseline fills hour 0; hour 1 is silent; spike early in hour 2 —
    // context must route past the empty bucket or the spike goes unscored
    val base = (1 to 24).map(i =>
      (i.toLong, i * 60L, 1L, "click", if (i % 2 == 0) 12.0 else 10.0))
    val df = ev(base :+ (99L, 2 * 3600L + 60L, 1L, "click", 100.0): _*)
    val salted = TimeSeries.anomalyZscoreScalable(df, bucketSpanHours = 1)
    assert(salted.select("event_id").as[Long].collect().toSeq === Seq(99L))
    assert(collectSet(salted) === collectSet(TimeSeries.anomalyZscore(df)))
  }

  test("anomalyZscoreScalable raises on a context-exporting bucket under 24 events") {
    // bucket 0 full (24), bucket 1 sparse (5 rows) BUT exports history to
    // bucket 2 — the documented precondition is violated, so the guard
    // must raise instead of silently diverging from anomalyZscore
    val base = (1 to 24).map(i =>
      (i.toLong, i * 60L, 1L, "click", if (i % 2 == 0) 12.0 else 10.0))
    val sparse = (1 to 5).map(i =>
      (100L + i, 3600L + i * 60L, 1L, "click", if (i % 2 == 0) 12.0 else 10.0))
    val df = ev(base ++ sparse :+ (999L, 2 * 3600L + 60L, 1L, "click", 100.0): _*)
    val e = intercept[Exception](
      TimeSeries.anomalyZscoreScalable(df, bucketSpanHours = 1).collect())
    assert(e.getMessage.contains("widen bucketSpanHours") ||
      Option(e.getCause).exists(_.getMessage.contains("widen bucketSpanHours")))
    // and the trailing bucket may stay sparse — nothing reads through it
    val ok = ev(base :+ (999L, 3660L, 1L, "click", 100.0): _*)
    assert(TimeSeries.anomalyZscoreScalable(ok, bucketSpanHours = 1)
      .select("event_id").as[Long].collect().toSeq === Seq(999L))
  }

  test("anomalyZscoreScalable ≡ global-window form on the harness feed") {
    val events = Tables.events(spark, sfDir)
    // 720h buckets: the narrowest standard span where every context-
    // exporting (type, bucket) in sf0.001 holds ≥ 24 events — at 168h
    // three tail buckets dip to 13 and the round-5 runtime guard
    // (correctly) raises; measured with the DuckDB twin of the guard
    assert(collectSet(TimeSeries.anomalyZscoreScalable(events, 720)) ===
      collectSet(TimeSeries.anomalyZscore(events)))
  }

  test("ewmaScan / ewmaEventsScan on an empty feed return empty, not a crash") {
    val empty = ev()
    assert(TimeSeries.ewmaScan(empty).count() === 0)
    assert(TimeSeries.ewmaEventsScan(empty).count() === 0)
  }

  test("cdcLatest keeps the latest (ts, event_id) version per user") {
    val df = ev(
      (1L, 100L, 1L, "signup", 1.0), (2L, 200L, 1L, "click", 2.0),
      (3L, 200L, 1L, "view", 3.0), // ts tie → higher event_id wins
      (4L, 50L, 2L, "click", 4.0))
    val out = TimeSeries.cdcLatest(df)
      .orderBy("user_id").select("user_id", "event_id", "value")
      .as[(Long, Long, Double)].collect()
    assert(out === Seq((1L, 3L, 3.0), (2L, 4L, 4.0)))
  }

  test("cdcLatest aggregate form ≡ row_number window form on real data") {
    val events = Tables.events(spark, sfDir)
    assert(collectSet(TimeSeries.cdcLatest(events)) ===
      collectSet(TimeSeries.cdcLatestWindow(events)))
  }

  test("cdcMerge: deletes vanish, upserts replace, untouched keys survive — exact set identity") {
    val events = Tables.events(spark, sfDir)
    val m = TimeSeries.cdcMerge(events).persist()
    try {
      val base = events.filter(col("event_id") % 2 === 0)
      val chgKeys = events.filter(col("event_id") % 3 === 0).select("event_id")
      val delKeys = events.filter(col("event_id") % 3 === 0 && col("value") < 10)
        .select("event_id")
      // no merged key appears twice
      assert(m.groupBy("event_id").count().filter(col("count") > 1).count() === 0)
      // delete keys are gone entirely
      assert(m.join(delKeys, Seq("event_id"), "left_semi").count() === 0)
      // every touched-and-upserted key is labeled upserted; untouched base
      // keys are labeled kept
      assert(m.filter(col("src") === "kept")
        .join(chgKeys, Seq("event_id"), "left_semi").count() === 0)
      // count identity: kept = |base| − |base ∩ chg|; upserted = |chg upserts|
      val baseTouched = base.join(chgKeys, Seq("event_id"), "left_semi").count()
      assert(m.filter(col("src") === "kept").count() === base.count() - baseTouched)
      assert(m.filter(col("src") === "upserted").count() ===
        events.filter(col("event_id") % 3 === 0 && !(col("value") < 10)).count())
    } finally m.unpersist()
  }

  test("scd2Intervals chains valid_to to the next valid_from, NULL for current") {
    val df = ev(
      (1L, 100L, 1L, "signup", 0.0), (2L, 200L, 1L, "click", 0.0),
      (3L, 300L, 1L, "purchase", 0.0))
    val out = TimeSeries.scd2Intervals(df).orderBy("valid_from")
      .select("event_type", "valid_from", "valid_to")
      .as[(String, Long, Option[Long])].collect()
    assert(out === Seq(
      ("signup", 100000000L, Some(200000000L)),
      ("click", 200000000L, Some(300000000L)),
      ("purchase", 300000000L, None)))
  }

  test("scd2Intervals on real data: intervals per user are contiguous and end open") {
    val out = TimeSeries.scd2Intervals(Tables.events(spark, sfDir))
    val perUser = out.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      count(col("valid_to")).as("closed"),
      // each closed interval's end must equal some start for that user
      sum(when(col("valid_to").isNotNull && col("valid_to") <= col("valid_from"), 1)
        .otherwise(0)).as("bad"))
    assert(perUser.filter(col("closed") =!= col("n") - 1).count() === 0)
    assert(perUser.filter(col("bad") > 0).count() === 0)
  }

  test("eventsRetention counts cohort users per offset week") {
    val wk = 604800L
    val df = ev(
      (1L, 0L, 1L, "click", 0.0), (2L, wk + 60L, 1L, "click", 0.0),  // u1: w0, w1
      (3L, 60L, 2L, "click", 0.0),                                   // u2: w0 only
      (4L, wk + 120L, 3L, "click", 0.0))                             // u3 cohort wk1
    val out = TimeSeries.eventsRetention(df)
      .orderBy("cohort_week", "week_n")
      .select("week_n", "users").as[(Long, Long)].collect()
    // epoch-week-0 cohort: w0 → 2 users, w1 → 1 user; week-1 cohort: w0 → 1
    assert(out.toSeq === Seq((0L, 2L), (1L, 1L), (0L, 1L)))
  }

  test("decomposeHourly: constant series decomposes to itself; reconstruction is exact") {
    // constant value 5.0 every hour for 48 h → trend = 5, seasonal = 0,
    // remainder = 0 at every bucket
    val const = ev((0L until 48L).map(h =>
      (h, h * 3600L, 1L, "click", 5.0)): _*)
    val c = TimeSeries.decomposeHourly(const).collect()
    assert(c.length === 48)
    assert(c.forall(r => r.getDouble(3) === 5.0 && r.getDouble(4) === 0.0 &&
      r.getDouble(5) === 0.0), "constant series must be pure trend")
    // on real data: v == trend + seasonal + remainder exactly IN
    // MICRO-UNITS — the integer pipeline makes the identity true on the
    // 1e-6 grid (the double sum of the three parts can differ by an ulp,
    // so the grid is where exactness lives)
    val d = TimeSeries.decompose(spark, sfDir)
      .filter(expr("floor(v * 1e6 + 0.5) != floor(trend * 1e6 + 0.5) + " +
        "floor(seasonal * 1e6 + 0.5) + floor(remainder * 1e6 + 0.5)"))
    assert(d.count() === 0, "micro-unit reconstruction identity must hold")
  }

  test("autocorrHourly: alternating series → r ≈ -1 at lag 1, +1 at lag 2") {
    // 48 hourly buckets alternating 1, 9, 1, 9, … — period 2 exactly
    val alt = ev((0L until 48L).map(h =>
      (h, h * 3600L, 1L, "click", if (h % 2 == 0) 1.0 else 9.0)): _*)
    val r = TimeSeries.autocorrHourly(alt).collect()
      .map(x => x.getInt(1) -> x.getDouble(3)).toMap
    assert(math.abs(r(1) + 1.0) < 1e-3, s"lag1 ${r(1)}")
    assert(math.abs(r(2) - 1.0) < 1e-3, s"lag2 ${r(2)}")
    assert(math.abs(r(3) + 1.0) < 1e-3, s"lag3 ${r(3)}")
  }

  test("changepointHourly finds a planted level shift at the shift hour") {
    // 24 h at 2.0 then 24 h at 10.0: |CUSUM| peaks at the LAST bucket
    // of the low regime (hour 23) — the classic step-change estimator
    val step = ev((0L until 48L).map(h =>
      (h, h * 3600L, 1L, "click", if (h < 24) 2.0 else 10.0)): _*)
    val r = TimeSeries.changepointHourly(step).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 23L * 3600L, s"cp_hs ${r.head.getLong(1)}")
    // v̄ = 6, so S at the last low bucket = Σ(2 − 6) over 24 buckets = −96
    assert(math.abs(r.head.getDouble(2) + 96.0) < 1e-6, s"cusum ${r.head.getDouble(2)}")
    assert(r.head.getLong(3) === 48L)
  }

  test("changepointHourly: constant series has zero CUSUM, tie breaks to first hour") {
    val const = ev((0L until 10L).map(h =>
      (h, h * 3600L, 1L, "click", 4.0)): _*)
    val r = TimeSeries.changepointHourly(const).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 0L, "all-zero CUSUM must tie-break to the earliest hour")
    assert(r.head.getDouble(2) === 0.0)
  }

  test("lttbHourly: spike survives downsampling; endpoints always kept") {
    // 72 hourly points = 3 buckets of 24; flat series except a spike at
    // hour 30 (bucket 1). Output: first point, the spike (largest
    // triangle vs the neighbor-bucket mean anchors), last point.
    val df = ev((0L until 72L).map(h =>
      (h, h * 3600L, 1L, "click", if (h == 30) 100.0 else 1.0)): _*)
    val out = TimeSeries.lttbHourly(df).orderBy("hs")
      .as[(String, Long, Double)].collect().toSeq
    assert(out === Seq(
      ("click", 0L, 1.0), ("click", 30L * 3600, 100.0), ("click", 71L * 3600, 1.0)))
  }

  test("lttbHourly: flat series ties break to the earliest hour per bucket") {
    val df = ev((0L until 72L).map(h => (h, h * 3600L, 1L, "click", 5.0)): _*)
    val out = TimeSeries.lttbHourly(df).orderBy("hs")
      .as[(String, Long, Double)].collect().toSeq
    // bucket 1's areas are all equal (zero) → min hs of the bucket wins
    assert(out === Seq(
      ("click", 0L, 5.0), ("click", 24L * 3600, 5.0), ("click", 71L * 3600, 5.0)))
  }

  test("attributionLastTouch: last event wins, ties break to higher id, outside-window is none") {
    val df = ev(
      // user 1: click then view before the purchase → view credited
      (1L, 100L, 1L, "click", 0.0), (2L, 200L, 1L, "view", 0.0),
      (3L, 300L, 1L, "purchase", 0.0),
      // user 2: purchase with no prior event → none
      (4L, 100L, 2L, "purchase", 0.0),
      // user 3: candidate 8 days before the purchase → outside lookback
      (5L, 0L, 3L, "error", 0.0), (6L, 8L * 86400, 3L, "purchase", 0.0),
      // user 4: click and error at the SAME ts → higher event_id (error)
      (10L, 500L, 4L, "click", 0.0), (11L, 500L, 4L, "error", 0.0),
      (12L, 600L, 4L, "purchase", 0.0))
    val out = TimeSeries.attributionLastTouch(df).as[(String, Long)].collect().toMap
    assert(out === Map("view" -> 1L, "none" -> 2L, "error" -> 1L))
  }

  test("attributionLastTouch guard: planted heavy user raises, sane users attribute normally") {
    // user 1: 20 purchases × 30 candidates = 600 pairs
    val heavy = ev(
      ((0L until 30L).map(i => (i, 100L + i, 1L, "click", 0.0)) ++
        (0L until 20L).map(i => (1000L + i, 500L + i, 1L, "purchase", 0.0))): _*)
    // under the bound: normal result, guard invisible
    val ok = TimeSeries.attributionLastTouch(heavy, maxPairsPerUser = 600L)
      .as[(String, Long)].collect().toMap
    assert(ok === Map("click" -> 20L))
    // over the bound: descriptive raise_error names the knob
    val e = intercept[Exception](
      TimeSeries.attributionLastTouch(heavy, maxPairsPerUser = 599L).count())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msgs.contains("maxPairsPerUser"), s"unexpected failure: $msgs")
  }

  test("mergeIntervals: chain-merge through a long interval; touching merges; gap splits") {
    import spark.implicits._
    // user 1: [0,100) swallows [10,20) and chains into [90,150);
    // [150,160) touches e=150 → still merged (strict s > pmax splits);
    // [200,210) is a gap → new group. user 2: disjoint singles.
    val iv = Seq(
      (1L, 0L, 100L), (1L, 10L, 20L), (1L, 90L, 150L), (1L, 150L, 160L),
      (1L, 200L, 210L),
      (2L, 0L, 10L), (2L, 50L, 60L)).toDF("user_id", "s", "e")
    val out = TimeSeries.mergeIntervals(iv).as[(Long, Long, Long, Long)]
      .collect().toSet
    assert(out === Set(
      (1L, 0L, 160L, 4L), (1L, 200L, 210L, 1L),
      (2L, 0L, 10L, 1L), (2L, 50L, 60L, 1L)))
  }

  test("crossCorrHourly: anti-aligned lead-lag series scores r = -1 at the lag") {
    // click 1,2,3,4 at hours 0-3; purchase 4,3,2,1 at hours 1-4 —
    // at lag 1 the pairs are (1,4),(2,3),(3,2),(4,1): perfectly
    // anti-correlated
    val click = (0L until 4L).map(h => (h, h * 3600L, 1L, "click", 1.0 + h))
    val purch = (0L until 4L).map(h => (10 + h, (h + 1) * 3600L, 1L, "purchase", 4.0 - h))
    val df = ev((click ++ purch): _*)
    val r = TimeSeries.crossCorrHourly(df, "click", "purchase").collect()
      .map(x => x.getInt(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1) === ((4L, -1.0)))
    // lag 0 overlaps hours 1-3: click (2,3,4) vs purchase (4,3,2) → -1
    assert(r(0) === ((3L, -1.0)))
  }

  test("hourlyIslands: contiguous runs counted with length and coverage") {
    // hours 0,1,2 | 5,6 | 10 → 3 islands, longest 3, 6 buckets
    val df = ev(Seq(0L, 1L, 2L, 5L, 6L, 10L).zipWithIndex.map { case (h, i) =>
      (i.toLong, h * 3600L, 1L, "click", 1.0) }: _*)
    val r = TimeSeries.hourlyIslands(df).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 3L)
    assert(r.head.getLong(2) === 3L)
    assert(r.head.getLong(3) === 6L)
    assert(r.head.getLong(4) === 0L)
  }

  test("madOutliers: hand-computed discrete medians; spike flagged, inliers not") {
    // values 1,2,3,4,100: med = rank-3 value = 3; |v-med| sorted =
    // [0,1,1,2,97] → mad = 1; cutoff 3.5*1.4826*1 ≈ 5.19 → only 100
    val df = ev(
      (1L, 100L, 1L, "click", 1.0), (2L, 200L, 1L, "click", 2.0),
      (3L, 300L, 1L, "click", 3.0), (4L, 400L, 1L, "click", 4.0),
      (5L, 500L, 1L, "click", 100.0))
    val r = TimeSeries.madOutliers(df).collect()
    assert(r.length === 1)
    assert(r.head.getDouble(1) === 3.0)
    assert(r.head.getDouble(2) === 1.0)
    assert(r.head.getLong(3) === 1L)
  }

  test("declineRuns: strict three-step declines counted; plateaus break the run") {
    // 5,4,3,2,1 → hours 3 and 4 complete 3 declines; the plateau series
    // 5,5,4,3,2 never strictly declines three times in a row until hour 4
    val down = ev((0L until 5L).map(h =>
      (h, h * 3600L, 1L, "click", 5.0 - h)): _*)
    val r = TimeSeries.declineRuns(down).collect()
    assert(r.length === 1)
    assert(r.head.getLong(1) === 2L)
    assert(r.head.getLong(2) === 3L * 3600)
    val plateau = ev(
      (0L, 0L, 1L, "click", 5.0), (1L, 3600L, 1L, "click", 5.0),
      (2L, 7200L, 1L, "click", 4.0), (3L, 10800L, 1L, "click", 3.0),
      (4L, 14400L, 1L, "click", 2.0))
    val r2 = TimeSeries.declineRuns(plateau).collect()
    assert(r2.length === 1 && r2.head.getLong(1) === 1L && r2.head.getLong(2) === 4L * 3600)
  }

  test("eventPaths: triples per user in (ts, event_id) order; counts merge across users") {
    // user 1: A B C D → ABC, BCD; user 2: A B C → ABC. Paths never
    // cross a user boundary (user 2's C is not followed by user 1's D).
    val df = ev(
      (1L, 100L, 1L, "A", 0.0), (2L, 200L, 1L, "B", 0.0),
      (3L, 300L, 1L, "C", 0.0), (4L, 400L, 1L, "D", 0.0),
      (5L, 150L, 2L, "A", 0.0), (6L, 250L, 2L, "B", 0.0),
      (7L, 350L, 2L, "C", 0.0))
    val out = TimeSeries.eventPaths(df).as[(String, String, String, Long)]
      .collect().toSet
    assert(out === Set(("A", "B", "C", 2L), ("B", "C", "D", 1L)))
    // topK cuts on the total (count DESC, e1, e2, e3) order
    val top1 = TimeSeries.eventPaths(df, topK = 1).as[(String, String, String, Long)]
      .collect().toSeq
    assert(top1 === Seq(("A", "B", "C", 2L)))
  }

  test("ts_theil_sen: a linear series recovers its slope, one planted outlier cannot move it") {
    // v = 2.0·hour + 1, hourly buckets; slope per hour must be exactly 2
    def mk(vs: Seq[Double]) = vs.zipWithIndex.map { case (v, i) =>
      (i.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 3600L)),
        1L, "t", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val lin = mk((0 until 24).map(h => 2.0 * h + 1))
    val got = TimeSeries.theilSen(lin).select("slope_per_hour").as[Double].head()
    assert(math.abs(got - 2.0) < 1e-6)
    // one wild outlier hour: the median pairwise slope is unmoved
    val dirty = mk((0 until 24).map(h => if (h == 12) 1e6 else 2.0 * h + 1))
    val rob = TimeSeries.theilSen(dirty).select("slope_per_hour").as[Double].head()
    assert(math.abs(rob - 2.0) < 0.1, s"robust slope was $rob")
  }

  test("ts_theil_sen salt: k consecutive hour buckets take k distinct salts") {
    // hour-truncated epoch seconds are multiples of 3600, so salting the
    // seconds themselves mod k collapsed to one or two salts
    val k = 4
    val hs = (0 until 2 * k).map(i => 1704067200L + i * 3600L).toDF("hs")
    val salts = hs.select(TimeSeries.theilSenSalt(col("hs"), k)).as[Long].collect()
    assert(salts.distinct.sorted.toSeq === (0L until k.toLong))
  }

  test("ts_theil_sen: bucketed rank selection ≡ the row-rank window form (round-9 rewrite pin)") {
    // the old form ranked every pair through one window per event_type;
    // the rewrite selects the median by bucket histogram + in-bucket
    // cumulative. This pins them equal on a messy multi-type series
    // (ties, negative slopes, a type with a single pair).
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(42)
    val rows = (for {
      t <- Seq("a", "b", "c")
      h <- 0 until (if (t == "c") 2 else 48)
    } yield (rng.nextLong().abs, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)),
      1L, t, math.round(rng.nextDouble() * 50) / 10.0)) // coarse values → slope ties
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    // reference: the pre-rewrite row-rank window form, verbatim
    val b = df.groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(graft.rel.Queries.rnd(avg(col("value")), 6).as("v"))
      .select(col("event_type"), col("hs"), floor(col("v") * 1e6 + 0.5).cast("long").as("vu"))
    val a1 = b.select(col("event_type"), col("hs").as("h1"), col("vu").as("v1"))
    val c1 = b.select(col("event_type"), col("hs").as("h2"), col("vu").as("v2"))
    val pairs = a1.join(c1, Seq("event_type")).filter(col("h1") < col("h2"))
      .select(col("event_type"), col("h1"), col("h2"),
        ((col("v2") - col("v1")) / ((col("h2") - col("h1")) / lit(3600L))).as("slope"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope"), col("h1"), col("h2"))
    val g = Window.partitionBy(col("event_type"))
    val ref = pairs.withColumn("r", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(g))
      .filter(col("r") * 2 >= col("n"))
      .groupBy(col("event_type"))
      .agg(min(col("slope")).as("med"), max(col("n")).as("n_pairs"))
      .select(col("event_type"), col("n_pairs"),
        graft.rel.Queries.rnd(col("med") / 1e6, 6).as("slope_per_hour"))
      .as[(String, Long, Double)].collect().toSet
    val got = TimeSeries.theilSen(df).as[(String, Long, Double)].collect().toSet
    assert(got === ref)
  }

  test("ts_theil_sen sampled: budget ≥ T is the identity; subsample recovers the trend and caps pairs") {
    // long linear series with noise: the subsampled estimator must land
    // on the same trend while enumerating quadratically fewer pairs
    val rng = new scala.util.Random(7)
    val rows = (0 until 500).map { h =>
      (h.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)),
        1L, "t", 2.0 * h + 1 + rng.nextGaussian() * 0.5)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val exact = TimeSeries.theilSen(rows)
      .as[(String, Long, Double)].collect().head
    // identity: budget above the bucket count changes nothing
    val ident = TimeSeries.theilSenSampled(rows, maxBucketsPerType = 1000)
      .as[(String, Long, Double)].collect().head
    assert(ident === exact)
    // real subsample: ~1/4 of the buckets → ≤ ~1/16 of the pairs,
    // trend within 1% of the exact estimate (deterministic: hash-mod)
    val samp = TimeSeries.theilSenSampled(rows, maxBucketsPerType = 125)
      .as[(String, Long, Double)].collect().head
    assert(samp._2 <= exact._2 / 8, s"pairs must shrink quadratically: ${samp._2} vs ${exact._2}")
    assert(math.abs(samp._3 - exact._3) < 0.02 * exact._3.abs,
      s"sampled slope ${samp._3} vs exact ${exact._3}")
  }

  test("ts_cusum: closed form ≡ the sequential S⁺ recurrence; planted drift alarms, noise does not") {
    // 20 flat hours at 10, then 20 hours at 13 — a +3 level shift whose
    // CUSUM ramps past the 10-unit threshold only after the shift
    val vals = (0 until 20).map(_ => 10.0) ++ (0 until 20).map(_ => 13.0)
    val rows = vals.zipWithIndex.map { case (v, h) =>
      (h.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)),
        1L, "t", v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TimeSeries.cusumHourly(rows)
      .orderBy("hs").select("cusum_pos", "alarm")
      .as[(Double, Boolean)].collect()
    // reference: the textbook sequential recurrence over the same means
    val mean = vals.sum / vals.length
    val ref = vals.scanLeft(0.0)((s, v) => math.max(0.0, s + (v - mean))).tail
    got.map(_._1).zip(ref).zipWithIndex.foreach { case ((g, r), i) =>
      assert(math.abs(g - r) < 1e-6, s"hour $i: closed form $g vs recurrence $r")
    }
    assert(!got.take(20).exists(_._2), "no alarm before the shift")
    // drift ramps +1.5/hour from hour 20 → crosses the 10-unit threshold
    // at hour 26 (S = 10.5)
    assert(got.drop(26).forall(_._2), "sustained drift must alarm")
  }

  test("events_burstiness: a metronome scores −1, a bursty feed scores positive") {
    def mk(offsetsSec: Seq[Long], typ: String) = offsetsSec.zipWithIndex.map {
      case (o, i) => ((typ.hashCode.toLong << 20) + i, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(o)),
        1L, typ, 1.0)
    }
    // metronome: exact 60 s gaps → σ = 0 → B = −1, cv = 0
    val metro = mk((0 until 50).map(_ * 60L), "metro")
    // bursty: tight 1 s volleys separated by 1-hour silences
    val bursty = mk((0 until 10).flatMap(b =>
      (0 until 5).map(i => b * 3600L + i)), "bursty")
    val got = TimeSeries.burstiness((metro ++ bursty)
      .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(4), r.getDouble(5))).toMap
    assert(got("metro")._2 === -1.0)
    assert(got("metro")._1 === 0.0)
    // analytic B for this fixture ≈ 0.356 (σ ≈ 1393 s, μ ≈ 661 s)
    assert(got("bursty")._2 > 0.3, s"bursty B was ${got("bursty")._2}")
  }

  test("events_markov_stationary: two-state chain converges to the analytic π") {
    // chain a→b always, b→a half the time: P = [[0,1],[.5,.5]] whose
    // stationary distribution is π = (1/3, 2/3); the event feed plays
    // the chain deterministically (a b b a b b …) for one user
    val seq = Iterator.continually(Seq("a", "b", "b")).flatten.take(300).toSeq
    val rows = seq.zipWithIndex.map { case (t, i) =>
      (i.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i.toLong)),
        1L, t, 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val pi = TimeSeries.markovStationary(rows)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // empirical P(b→a) = 99/199 ≈ 0.4975 (not exactly 0.5 — the feed is
    // finite), so π lands ~1e-3 off the ideal (1/3, 2/3)
    assert(math.abs(pi("a") - 1.0 / 3) < 5e-3, s"π(a) = ${pi("a")}")
    assert(math.abs(pi("b") - 2.0 / 3) < 5e-3, s"π(b) = ${pi("b")}")
    // entries are 6-dp rounded at the edge; renormalization holds to that
    assert(math.abs(pi.values.sum - 1.0) < 2e-6, "renormalized each round")
  }

  test("events_slo_burn: one bad hour trips the fast window but the slow window suppresses the page") {
    // 11 hours of 1-in-10 errors, then one ALL-ERROR hour. SLO=0.75 →
    // budget 0.25: steady burn = 0.4 (quiet); the bad hour's 1h burn =
    // 4.0 > 1.2 but the 6h window still averages ~0.46 < 1.0 → page
    // stays FALSE (the blip suppression the two-window pattern buys).
    val rows = (0 until 12).flatMap { h =>
      (0 until 10).map { i =>
        val typ = if (h == 11) "error" else if (i == 0) "error" else "view"
        ((h * 10 + i).toLong, h * 3600L, 1L, typ, 1.0)
      }
    }
    val out = TimeSeries.sloBurn(ev(rows: _*))
      .orderBy("hour_us").collect()
    val bad = out.last
    assert(math.abs(bad.getDouble(3) - 4.0) < 1e-6, s"1h burn: ${bad.getDouble(3)}")
    // e6 = 5·1 + 10 = 15 of n6 = 60 → rate 0.25 → burn exactly 1.0,
    // NOT strictly over the slow threshold
    assert(bad.getDouble(4) <= 1.0, s"6h burn should not exceed slow threshold: ${bad.getDouble(4)}")
    assert(!bad.getBoolean(5), "single-hour blip must not page")
    // sustained burn: six all-error hours page on both windows
    val sustained = (0 until 12).flatMap { h =>
      (0 until 10).map { i =>
        val typ = if (h >= 6) "error" else "view"
        ((h * 10 + i).toLong, h * 3600L, 1L, typ, 1.0)
      }
    }
    val out2 = TimeSeries.sloBurn(ev(sustained: _*)).orderBy("hour_us").collect()
    assert(out2.last.getBoolean(5), "six sustained all-error hours must page")
  }

  test("ts_hampel: a spike flags; a clean series and a LEVEL SHIFT do not flood-flag") {
    // 24 steady hours at 10.0 with one 1000.0 spike at hour 12
    val spike = (0 until 24).map { h =>
      (h.toLong, h * 3600L, 1L, "click", if (h == 12) 1000.0 else 10.0)
    }
    val out = TimeSeries.hampel(ev(spike: _*)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.get(3))).toMap
    assert(out("click")._1 === 24L)
    assert(out("click")._2 === 1L, "exactly the spike hour flags")
    assert(out("click")._3 === 12L * 3600)
    // constant series: zero deviation, zero flags
    val flat = (0 until 24).map(h => (h.toLong, h * 3600L, 1L, "view", 5.0))
    val outFlat = TimeSeries.hampel(ev(flat: _*)).collect()
    assert(outFlat.head.getLong(2) === 0L)
    // level shift at hour 12: the ROLLING median adapts within the
    // 7-hour window, so at most the transition hours flag — never the
    // whole post-shift half (the ts_mad failure mode this row fixes)
    val shift = (0 until 24).map { h =>
      (h.toLong, h * 3600L, 1L, "error", if (h < 12) 10.0 else 500.0)
    }
    val outShift = TimeSeries.hampel(ev(shift: _*)).collect()
    assert(outShift.head.getLong(2) <= 4L,
      s"level shift must not flood-flag: ${outShift.head.getLong(2)}")
  }

  test("events_forecast_naive: a perfectly 24h-periodic series backtests at MAE 0") {
    val rows = (0 until 48).map { h =>
      (h.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)),
        1L, "t", (h % 24).toDouble)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = TimeSeries.forecastNaive(rows)
      .select("n", "mae").as[(Long, Double)].head()
    assert(out._1 === 24L) // second day scored against the first
    assert(out._2 === 0.0)
  }
}
