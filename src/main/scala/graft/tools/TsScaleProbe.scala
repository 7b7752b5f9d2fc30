package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Ckpt.TruncateSyntax
import graft.rel.{BloomPrune, TimeSeries}

/** Scale experiment for the TimeSeries/CDC family + Bloom pruning over
  * an N-event synthetic CDC feed (many updates per key — the regime
  * where compaction strategy matters: here 100 versions/key, so the
  * window form sorts 100× more shuffled rows than the aggregate form
  * ships).
  *
  * usage: tools/run.sh graft.tools.TsScaleProbe [nEvents]
  */
object TsScaleProbe {
  def main(args: Array[String]): Unit = {
    val nEvents = if (args.nonEmpty) args(0).toInt else 2000000
    val spark = graft.Session()
    val tally = Tally.on(spark)

    // 100 versions per user key; value hash-seeded, ts strides 1s
    val evPath = s"/tmp/scale_ts_$nEvents"
    spark.range(nEvents)
      .select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id") % 2592000).as("ts"),
        (col("id") % (nEvents / 100)).as("user_id"),
        concat(lit("t"), col("id") % 5).as("event_type"),
        (abs(hash(col("id"))) % 1000 / 10.0).as("value"))
      .write.mode("overwrite").parquet(evPath)
    val events = spark.read.parquet(evPath)

    // shuffle-write accounting: wall time barely moves on an in-memory
    // local shuffle, so the number that predicts cluster behavior is
    // BYTES SHUFFLED — the tally sums them per leg
    def legN(name: String, n: Long)(body: => Long): Unit = {
      tally.take()
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name nEvents=$n rows=$rows wall=$wall%.1f s " +
        f"(${n / wall}%.0f ev/s) shuffleMB=${tally.take().shuffleMb}%.1f")
    }
    def leg(name: String)(body: => Long): Unit = legN(name, nEvents)(body)

    leg("cdc_latest_agg")(TimeSeries.cdcLatest(events).count())
    leg("cdc_latest_window")(TimeSeries.cdcLatestWindow(events).count())
    leg("ts_resample")(TimeSeries.resampleHourly(events).count())
    leg("ts_interpolate")(TimeSeries.interpolateHourly(events).count())
    leg("ts_ohlc")(TimeSeries.ohlcHourly(events).count())
    leg("ts_ewma")(TimeSeries.ewmaHourly(events).count())
    // per-EVENT fold (the stream twin's batch form): linear in events,
    // parallelism = key cardinality — one row out per row in
    leg("ts_ewma_events")(TimeSeries.ewmaEventsScan(events).count())
    leg("ts_anomaly")(TimeSeries.anomalyZscore(events).count())
    // 24h buckets over the 30-day feed: 30 buckets × 5 types of sort
    // parallelism vs the global form's 5 partitions
    leg("ts_anomaly_salted")(TimeSeries.anomalyZscoreScalable(events, 24).count())
    leg("scd2_intervals")(TimeSeries.scd2Intervals(events).count())
    leg("events_retention")(TimeSeries.eventsRetention(events).count())

    // EWMA container scaling: ONE key over a multi-year hourly span —
    // per-key span is what the HOF form is quadratic in (array-append
    // accumulator copies), while ewmaScan's mapPartitions fold is linear.
    // Doubling span should ~4× the HOF wall and ~2× (or less — fixed
    // overheads dominate) the scan wall.
    Seq(10000, 20000, 40000).foreach { span =>
      val sp = spark.range(span).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1104067200L) + col("id") * 3600).as("ts"),
        lit(1L).as("user_id"),
        lit("t0").as("event_type"),
        (abs(hash(col("id"))) % 1000 / 10.0).as("value"))
        .truncated() // isolate generation from the measured fold
      legN(s"ewma_hof_span$span", span)(TimeSeries.ewmaHourly(sp).count())
      legN(s"ewma_scan_span$span", span)(TimeSeries.ewmaScan(sp).count())
      // Holt shares the container shapes — same quadratic/linear split,
      // slightly heavier constants (two registers, struct state)
      legN(s"holt_hof_span$span", span)(TimeSeries.holtHourly(sp).count())
      legN(s"holt_scan_span$span", span)(TimeSeries.holtScan(sp).count())
      // Holt-Winters adds the seasonal lookback: the HOF form's
      // element_at(acc, -24) is a per-step O(1) read, so the quadratic
      // term is still the append copy — same split, ring-buffer scan
      legN(s"hw_hof_span$span", span)(TimeSeries.holtWintersHourly(sp).count())
      legN(s"hw_scan_span$span", span)(TimeSeries.holtWintersScan(sp).count())
    }

    // Keyless interval join: binned equi-join vs the native θ-join plan
    // (broadcast nested loop — every window tests every point). 2 k
    // 2-hour windows over the 30-day feed: BNLJ runs |W|·|P| interval
    // tests; the binned form shuffles each side once by 1-hour bin and
    // touches only co-binned pairs (~3 bins per window).
    {
      val binUs = 3600000000L
      val winUs = 7200000000L
      // max(1, …): a probe run with nEvents < 2000 would otherwise make
      // the stride 0 and the modulo throw
      val wins = events.filter(col("event_id") % math.max(1, nEvents / 2000) === 0)
        .select(col("event_id").as("w_id"), expr("unix_micros(ts)").as("ws"))
        .select(col("w_id"), col("ws"), (col("ws") + winUs).as("we"))
        .truncated()
      val pts = events.select(col("event_id").as("p_id"),
        expr("unix_micros(ts)").as("pt"), col("value"))
      def agg(j: org.apache.spark.sql.DataFrame): Long =
        j.groupBy(col("w_id")).agg(count(lit(1)).as("n")).count()
      legN("interval_binned", nEvents) {
        val wb = wins.select(col("w_id"), col("ws"), col("we"),
          explode(expr(s"sequence(ws div ${binUs}L, (we - 1) div ${binUs}L)")).as("bin"))
        val pb = pts.withColumn("bin", expr(s"pt div ${binUs}L"))
        agg(wb.join(pb, "bin").filter(col("pt") >= col("ws") && col("pt") < col("we")))
      }
      legN("interval_bnlj", nEvents) {
        agg(wins.join(pts, col("pt") >= col("ws") && col("pt") < col("we")))
      }
    }

    // Bloom prune: 0.1% of keys selective; `merge` hint pins a shuffle
    // join (the cluster regime — both sides too big to broadcast) so the
    // probe shows what pruning does to the big side's shuffle volume.
    // The key table is MATERIALIZED SEPARATELY: deriving it by filtering
    // `events` lets InferFiltersFromConstraints push the defining
    // predicate through the join onto the big side — static pruning that
    // no real dimension table offers (found when this probe's first cut
    // reported 0 shuffled bytes for the plain join).
    val smallPath = s"/tmp/scale_ts_keys_$nEvents"
    spark.range(0, nEvents / 100, 1000).select(col("id").as("k"))
      .write.mode("overwrite").parquet(smallPath)
    val small = spark.read.parquet(smallPath)
    leg("join_plain")(
      events.hint("merge").join(small, events("user_id") === small("k")).count())
    leg("join_bloom_pruned") {
      val bloom = BloomPrune.bloomOf(small, small("k"),
        expectedItems = nEvents / 100000 + 10)
      BloomPrune.prune(events, events("user_id"), bloom).hint("merge")
        .join(small, events("user_id") === small("k")).count()
    }

    // winsorize: the row-rank window form partitions on event_type —
    // 5 window partitions at ANY corpus size, each sorting nEvents/5
    // rows on one task. The shipped histogram form's cumulative window
    // reads the (type, value) count frame instead — its size is the
    // VALUE DOMAIN (≤ 5 × 10⁴ e2-cents here), corpus-size-independent.
    // Wall on a local in-memory shuffle understates the gap (the
    // packing-probe lesson); the structural number is the window-input
    // row count printed below.
    def winsorizeRowWindow(ev: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val ve2 = floor(col("value") * 100 + 0.5).cast("long")
      val w = Window.partitionBy(col("event_type")).orderBy(col("ve2"), col("event_id"))
      val g = Window.partitionBy(col("event_type"))
      val ranked = ev.select(col("event_id"), col("event_type"), ve2.as("ve2"))
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(g))
      val fences = ranked.groupBy(col("event_type"))
        .agg(min(when(col("r") * 20 >= col("n"), col("ve2"))).as("lo_e2"),
          min(when(col("r") * 20 >= col("n") * 19, col("ve2"))).as("hi_e2"))
      ranked.join(broadcast(fences), "event_type")
        .select(col("event_id"), col("event_type"),
          graft.rel.Queries.rnd(col("ve2") / 1e2, 2).as("value"),
          graft.rel.Queries.rnd(
            greatest(col("lo_e2"), least(col("hi_e2"), col("ve2"))) / 1e2, 2)
            .as("clipped"))
    }
    leg("winsorize_row_window")(winsorizeRowWindow(events).count())
    leg("winsorize_histogram")(TimeSeries.winsorize(events).count())
    val histRows = events
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("ve2"))
      .distinct().count()
    println(s"[scale] winsorize window-input rows: row_window=$nEvents " +
      s"histogram=$histRows (value-domain-bounded)")
    val diff = winsorizeRowWindow(events)
      .except(TimeSeries.winsorize(events)).count()
    assert(diff == 0, s"winsorize forms diverge on $diff rows")
    println("[scale] winsorize row-window ≡ histogram: asserted")

    // ---- theil_sen: row-rank window vs distributed selection (round-9)
    // The r8 verdict's calendar hazard made concrete: ONE event type
    // over a full year = 8 760 hourly buckets → 38.4 M pairwise slopes,
    // ALL of which the pre-rewrite form sorted through one
    // Window.partitionBy(event_type) task (an O(1)-cardinality key).
    // The round-9 rewrite selects the median via per-slope-value counts
    // + a 4096-bin histogram + an in-bucket cumulative — no window ever
    // sees the pair stream. Both forms run here on the same series;
    // outputs asserted identical. (Wall favors whichever shape the
    // local allocator likes at this size — the cluster argument is the
    // single-task ceiling, which only the window form carries.)
    val nHours = 8760
    val thPath = s"/tmp/scale_theil_$nHours"
    spark.range(nHours)
      .select(col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 3600L).as("ts"),
        lit(1L).as("user_id"), lit("t0").as("event_type"),
        (col("id") * 0.001 + (abs(hash(col("id"))) % 100) / 10.0).as("value"))
      .write.mode("overwrite").parquet(thPath)
    val thEvents = spark.read.parquet(thPath)
    def theilSenRowWindow(ev: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val b = ev.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).cast("long").as("hs"))
        .agg(graft.rel.Queries.rnd(avg(col("value")), 6).as("v"))
        .select(col("event_type"), col("hs"),
          floor(col("v") * 1e6 + 0.5).cast("long").as("vu"))
      val a = b.select(col("event_type"), col("hs").as("h1"), col("vu").as("v1"))
      val c = b.select(col("event_type"), col("hs").as("h2"), col("vu").as("v2"))
      val pairs = a.join(c, Seq("event_type")).filter(col("h1") < col("h2"))
        .select(col("event_type"), col("h1"), col("h2"),
          ((col("v2") - col("v1")) / ((col("h2") - col("h1")) / lit(3600L))).as("slope"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("slope"), col("h1"), col("h2"))
      val g = Window.partitionBy(col("event_type"))
      pairs.withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(g))
        .filter(col("r") * 2 >= col("n"))
        .groupBy(col("event_type"))
        .agg(min(col("slope")).as("med"), max(col("n")).as("n_pairs"))
        .select(col("event_type"), col("n_pairs"),
          graft.rel.Queries.rnd(col("med") / 1e6, 6).as("slope_per_hour"))
    }
    legN("theil_sen_row_window_1y", nHours)(theilSenRowWindow(thEvents).count())
    legN("theil_sen_distributed_1y", nHours)(TimeSeries.theilSen(thEvents).count())
    val diffT = theilSenRowWindow(thEvents)
      .except(TimeSeries.theilSen(thEvents)).count()
    assert(diffT == 0, s"theil-sen forms diverge on $diffT rows")
    println("[scale] theil_sen row-window ≡ distributed selection over " +
      s"${nHours.toLong * (nHours - 1) / 2}%s pairs: asserted".format(""))
    spark.stop()
  }
}
