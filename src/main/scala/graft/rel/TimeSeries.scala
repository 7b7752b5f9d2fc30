package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Ckpt
import graft.core.Ckpt.TruncateSyntax
import graft.rel.Queries.rnd

/** Time-series / change-data-capture operators over `events` — the
  * monitoring + incremental-ingest surface a training-data pipeline
  * runs next to its batch curation jobs (SURVEY.md §2.9c; the reference
  * lineage has no native time-series ops [LINEAGE §2.10], so these are
  * north-star EXT additions like `llm/Curation`).
  *
  * Scale notes (100 TB framing):
  *  - `resampleHourly`'s gap grid is `sequence()`-exploded per key, so
  *    grid size is bounded by key-cardinality × CALENDAR span (hours in
  *    the retention window), never by event count — the grid side of the
  *    left join stays small/AQE-broadcastable while the bucket side is a
  *    plain partial-agg shuffle.
  *  - `anomalyZscore` is one window pass per event_type, rows-bounded
  *    frame (24 preceding). A single dominant event_type serializes into
  *    one sort partition — `anomalyZscoreScalable` is the measured
  *    overlap-chunk fix (types × time-buckets parallelism, identical
  *    output; TsScaleProbe + spec twin).
  *  - `cdcLatest` deliberately AVOIDS the textbook row_number window:
  *    a max-on-struct aggregate gets map-side partial combine, so the
  *    shuffle carries ≤ one row per (partition, key) instead of every
  *    version of every key — the difference between O(updates) and
  *    O(keys) shuffle bytes on a busy CDC feed. TimeSeriesSpec asserts
  *    it ≡ the window form; the DuckDB oracle IS the window form.
  *  - `scd2Intervals` is one keyed window; `eventsRetention` dedups to
  *    (user, week) map-side before its aggs see a shuffle.
  */
object TimeSeries {

  private val WeekUs = 604800000000L // 7 * 86400 * 1e6

  // Declared-row constants, interpolated into the oracle strings below
  // so Spark and DuckDB read one source of truth (ADVICE r7)
  private[graft] val LttbBucket = 24
  private[graft] val CrossCorrTypeA = "click"
  private[graft] val CrossCorrTypeB = "purchase"
  private[graft] val CrossCorrMaxLag = 3

  // ---- ts_resample: hourly gap-fill + forward fill ----------------------

  /** Per-event_type hourly resample: every hour in [min, max] of that
    * type's span appears exactly once; empty hours carry n = 0 and the
    * last non-null hourly average forward-filled.
    */
  def resampleHourly(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(count(lit(1)).as("n"), rnd(avg(col("value")), 6).as("v"))
    val grid = b.groupBy("event_type")
      .agg(min("hs").as("lo"), max("hs").as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hs"))
    val ffill = Window.partitionBy("event_type").orderBy("hs")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(b, Seq("event_type", "hs"), "left")
      .select(col("event_type"), col("hs"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("v"), ignoreNulls = true).over(ffill).as("v_fill"))
  }

  def resample(s: SparkSession, d: String): DataFrame =
    resampleHourly(Tables.events(s, d))

  /** Linear interpolation over the same hourly grid as `resampleHourly`:
    * gap hours get the line between the nearest observed buckets
    * (endpoints clamp to the nearest observation). Same calendar-bounded
    * grid + two grid-sized window passes (backward carry of the previous
    * observation, forward carry of the next) — nothing here scales with
    * event count after the first bucket aggregation.
    */
  def interpolateHourly(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(avg(col("value")).as("v"))
    val grid = b.groupBy("event_type")
      .agg(min("hs").as("lo"), max("hs").as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hs"))
    val back = Window.partitionBy("event_type").orderBy("hs")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy("event_type").orderBy("hs")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(b, Seq("event_type", "hs"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("ph", last(when(col("v").isNotNull, col("hs")), ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nh", first(when(col("v").isNotNull, col("hs")), ignoreNulls = true).over(fwd))
      .select(col("event_type"), col("hs"),
        rnd(
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (col("hs") - col("ph")) / (col("nh") - col("ph"))), 6).as("v_lin"))
  }

  def interpolate(s: SparkSession, d: String): DataFrame =
    interpolateHourly(Tables.events(s, d))

  /** OHLC (open/high/low/close) bars per (event_type, hour) — the
    * classic downsampling aggregate. open/close are min_by/max_by on
    * the (ts, event_id) struct (same deterministic-tie trick as
    * `agg_argmax`), so the whole bar is ONE partial-combine aggregation
    * — no window, no per-group sort beyond the aggregate's own.
    */
  def ohlcHourly(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n"))

  def ohlc(s: SparkSession, d: String): DataFrame =
    ohlcHourly(Tables.events(s, d))

  /** Exponentially-weighted moving average (α = 0.3) of the hourly
    * series — a RECURSIVE fold (e_i = α·v_i + (1−α)·e_{i−1}), which no
    * window frame expresses. Each key's buckets are collected sorted
    * and folded with the `aggregate` higher-order function in one pass;
    * per-key state is CALENDAR-bounded (hours in the key's span), the
    * same bound as the resample grid — but the array-append accumulator
    * makes the fold O(span²) in element copies, so for multi-year spans
    * use `ewmaScan` (identical fold, linear `mapPartitions` container;
    * spec-twinned bit-identical). The DuckDB twin runs the identical
    * recurrence as a recursive CTE.
    */
  def ewmaHourly(events: DataFrame, alpha: Double = 0.3): DataFrame = {
    // decimal-string complement: 1 - 0.3 in BINARY doubles is
    // 0.7000000000000001, one ulp off the 0.7 the oracle's literal
    // parses to — format both factors as exact decimal text
    val a = BigDecimal(alpha.toString)
    val compl = (BigDecimal(1) - a).toString
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(avg(col("value")).as("v"))
    b.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("hs"), col("v")))).as("xs"))
      .select(col("event_type"), explode(expr(
        s"""aggregate(xs, cast(array() as array<struct<hs:bigint,e:double>>),
           |  (acc, x) -> acc || array(struct(x.hs as hs,
           |    if(size(acc) = 0, x.v,
           |       ${a}D * x.v + ${compl}D * element_at(acc, -1).e) as e)))"""
          .stripMargin)).as("s"))
      .select(col("event_type"), col("s.hs").as("hs"), rnd(col("s.e"), 6).as("ewma"))
  }

  def ewma(s: SparkSession, d: String): DataFrame =
    ewmaHourly(Tables.events(s, d))

  /** The linear-time container for the SAME fold as `ewmaHourly` — the
    * multi-year-span path the `ewmaHourly` scaladoc names. The HOF form
    * appends to the accumulator array with `acc || array(...)`, which
    * copies the accumulated array per element: O(span²) element copies
    * on one task for a long key (a 10-year hourly key ≈ 87 k buckets ≈
    * 3.8 B copies). Here the key's buckets are instead routed to one
    * partition (`repartition(event_type)`), sorted WITHIN the partition
    * (no global sort exchange), and folded by a linear `mapPartitions`
    * scan carrying one (prevKey, prevEwma) register — O(span) per key,
    * O(1) state.
    *
    * Arithmetic parity with the HOF form (TimeSeriesSpec asserts ≡):
    * the factors come from the same decimal strings (`BigDecimal("0.3")
    * .toDouble` is the identical double the SQL literal `0.3D` parses
    * to) and the fold runs the identical `a·v + compl·prev` expression
    * in the identical order — bit-identical doubles, not just close.
    * `ewmaHourly` stays the declared/oracle row (its per-key state is
    * calendar-bounded, fine at harness spans); this is the library's
    * scale path, TsScaleProbe measures the linear wall growth.
    */
  def ewmaScan(events: DataFrame, alpha: Double = 0.3): DataFrame = {
    val a = BigDecimal(alpha.toString).toDouble
    val compl = (BigDecimal(1) - BigDecimal(alpha.toString)).toDouble
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(avg(col("value")).as("v"))
    val sess = events.sparkSession
    import sess.implicits._
    b.select(col("event_type").cast("string"), col("hs"), col("v"))
      .as[(String, Long, Double)]
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("hs"))
      .mapPartitions { it =>
        var curKey: String = null
        var prev = 0.0
        var seeded = false
        it.map { case (k, hs, v) =>
          if (k != curKey) { curKey = k; seeded = false }
          val e = if (!seeded) v else a * v + compl * prev
          seeded = true
          prev = e
          (k, hs, e)
        }
      }
      .toDF("event_type", "hs", "e")
      .select(col("event_type"), col("hs"), rnd(col("e"), 6).as("ewma"))
  }

  /** EWMA over RAW events per type in (ts, event_id) order — the batch
    * twin of `Streaming.ewmaStream`. The hourly forms fold over bucket
    * means; a stateful stream scores every row as it arrives, so its
    * batch twin must too. Same linear `mapPartitions` container (and
    * the same decimal-string factor parity) as `ewmaScan`; output is
    * one row per event.
    */
  def ewmaEventsScan(events: DataFrame, alpha: Double = 0.3): DataFrame = {
    val a = BigDecimal(alpha.toString).toDouble
    val compl = (BigDecimal(1) - BigDecimal(alpha.toString)).toDouble
    val sess = events.sparkSession
    import sess.implicits._
    events
      .select(col("event_type").cast("string"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("value").cast("double").as("value"))
      .as[(String, Long, Long, Double)]
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("tus"), col("event_id"))
      .mapPartitions { it =>
        var curKey: String = null
        var prev = 0.0
        var seeded = false
        it.map { case (k, _, id, v) =>
          if (k != curKey) { curKey = k; seeded = false }
          val e = if (!seeded) v else a * v + compl * prev
          seeded = true
          prev = e
          (k, id, e)
        }
      }
      .toDF("event_type", "event_id", "e")
      .select(col("event_type"), col("event_id"), rnd(col("e"), 6).as("ewma"))
  }

  // ---- ts_holt: double exponential smoothing -----------------------------

  /** Holt's linear-trend (double exponential) smoothing over the hourly
    * series — the EWMA recurrence extended with a trend register:
    * lᵢ = α·vᵢ + (1−α)·(lᵢ₋₁ + bᵢ₋₁), bᵢ = γ·(lᵢ − lᵢ₋₁) + (1−γ)·bᵢ₋₁,
    * seeded l₁ = v₁, b₁ = 0. Same container as `ewmaHourly` (sorted
    * collect + `aggregate` HOF, per-key state CALENDAR-bounded), same
    * decimal-string factor parity, and the same O(span²) append caveat —
    * `holtScan` is the linear container for multi-year keys. The new
    * level's expression is REPEATED inside the trend update (SQL lambdas
    * have no let-binding); double arithmetic is deterministic, so the
    * repeated evaluation is bit-identical, and the DuckDB twin repeats
    * the identical text inside its recursive CTE.
    */
  def holtHourly(events: DataFrame, alpha: Double = 0.3, gamma: Double = 0.2): DataFrame = {
    val a = BigDecimal(alpha.toString)
    val ac = (BigDecimal(1) - a).toString
    val g = BigDecimal(gamma.toString)
    val gc = (BigDecimal(1) - g).toString
    val lNew = s"${a}D * x.v + ${ac}D * (element_at(acc, -1).l + element_at(acc, -1).b)"
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(avg(col("value")).as("v"))
    b.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("hs"), col("v")))).as("xs"))
      .select(col("event_type"), explode(expr(
        s"""aggregate(xs, cast(array() as array<struct<hs:bigint,l:double,b:double>>),
           |  (acc, x) -> acc || array(if(size(acc) = 0,
           |    struct(x.hs as hs, x.v as l, 0.0D as b),
           |    struct(x.hs as hs,
           |      $lNew as l,
           |      ${g}D * (($lNew) - element_at(acc, -1).l)
           |        + ${gc}D * element_at(acc, -1).b as b))))"""
          .stripMargin)).as("s"))
      .select(col("event_type"), col("s.hs").as("hs"),
        rnd(col("s.l"), 6).as("level"), rnd(col("s.b"), 6).as("trend"))
  }

  def holt(s: SparkSession, d: String): DataFrame =
    holtHourly(Tables.events(s, d))

  /** Linear-time container for the SAME Holt fold — `ewmaScan`'s shape
    * with a two-register (level, trend) state. Factor doubles come from
    * the identical decimal strings and the update runs the identical
    * expressions in the identical order, so TimeSeriesSpec asserts
    * bit-identity with `holtHourly`, not closeness.
    */
  def holtScan(events: DataFrame, alpha: Double = 0.3, gamma: Double = 0.2): DataFrame = {
    val a = BigDecimal(alpha.toString).toDouble
    val ac = (BigDecimal(1) - BigDecimal(alpha.toString)).toDouble
    val g = BigDecimal(gamma.toString).toDouble
    val gc = (BigDecimal(1) - BigDecimal(gamma.toString)).toDouble
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(avg(col("value")).as("v"))
    val sess = events.sparkSession
    import sess.implicits._
    b.select(col("event_type").cast("string"), col("hs"), col("v"))
      .as[(String, Long, Double)]
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("hs"))
      .mapPartitions { it =>
        var curKey: String = null
        var l = 0.0
        var t = 0.0
        var seeded = false
        it.map { case (k, hs, v) =>
          if (k != curKey) { curKey = k; seeded = false }
          if (!seeded) { l = v; t = 0.0; seeded = true }
          else {
            val lNew = a * v + ac * (l + t)
            t = g * (lNew - l) + gc * t
            l = lNew
          }
          (k, hs, l, t)
        }
      }
      .toDF("event_type", "hs", "l", "b")
      .select(col("event_type"), col("hs"),
        rnd(col("l"), 6).as("level"), rnd(col("b"), 6).as("trend"))
  }

  // ---- ts_holt_winters: additive triple exponential smoothing ----------

  /** Additive Holt-Winters over the hourly series, season S = 24 (daily
    * cycle on hourly buckets): the Holt recurrence plus a seasonal
    * register read S steps back —
    * lᵢ = α·(vᵢ − sᵢ₋S) + (1−α)·(lᵢ₋₁ + bᵢ₋₁),
    * bᵢ = γ·(lᵢ − lᵢ₋₁) + (1−γ)·bᵢ₋₁,
    * sᵢ = δ·(vᵢ − lᵢ) + (1−δ)·sᵢ₋S.
    * Fully-causal seeding (every value computable left-to-right, the
    * property both the fold and the streaming shape need): i = 1 seeds
    * l = v, b = 0, s = 0; the first season (i ≤ S) runs plain Holt and
    * records s = v − l as its seasonal factor; from i > S the full
    * recurrence applies. The HOF fold reads sᵢ₋S straight out of its own
    * history (`element_at(acc, -S)`), so no ring state is needed here;
    * the DuckDB twin's recursive CTE carries an explicit last-S ring
    * LIST instead — same values, TimeSeriesSpec-pinned. Same calendar
    * bound, decimal-string factor parity, repeated-subexpression
    * discipline, and O(span²) append caveat as `holtHourly` —
    * `holtWintersScan` is the linear container.
    */
  def holtWintersHourly(events: DataFrame, alpha: Double = 0.3, gamma: Double = 0.2,
      delta: Double = 0.25, season: Int = 24): DataFrame = {
    val a = BigDecimal(alpha.toString)
    val ac = (BigDecimal(1) - a).toString
    val g = BigDecimal(gamma.toString)
    val gc = (BigDecimal(1) - g).toString
    val dl = BigDecimal(delta.toString)
    val dc = (BigDecimal(1) - dl).toString
    val prevL = "element_at(acc, -1).l"
    val prevB = "element_at(acc, -1).b"
    val sLag = s"element_at(acc, -$season).s"
    val lB = s"${a}D * x.v + ${ac}D * ($prevL + $prevB)"
    val lF = s"${a}D * (x.v - $sLag) + ${ac}D * ($prevL + $prevB)"
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(avg(col("value")).as("v"))
    b.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("hs"), col("v")))).as("xs"))
      .select(col("event_type"), explode(expr(
        s"""aggregate(xs, cast(array() as array<struct<hs:bigint,l:double,b:double,s:double>>),
           |  (acc, x) -> acc || array(if(size(acc) = 0,
           |    struct(x.hs as hs, x.v as l, 0.0D as b, 0.0D as s),
           |    if(size(acc) < $season,
           |      struct(x.hs as hs, $lB as l,
           |        ${g}D * (($lB) - $prevL) + ${gc}D * $prevB as b,
           |        x.v - ($lB) as s),
           |      struct(x.hs as hs, $lF as l,
           |        ${g}D * (($lF) - $prevL) + ${gc}D * $prevB as b,
           |        ${dl}D * (x.v - ($lF)) + ${dc}D * ($sLag) as s)))))"""
          .stripMargin)).as("o"))
      .select(col("event_type"), col("o.hs").as("hs"),
        rnd(col("o.l"), 6).as("level"), rnd(col("o.b"), 6).as("trend"),
        rnd(col("o.s"), 6).as("seasonal"))
  }

  def holtWinters(s: SparkSession, d: String): DataFrame =
    holtWintersHourly(Tables.events(s, d))

  /** Linear container for the SAME Holt-Winters fold — `holtScan`'s
    * shape with the seasonal register in an explicit S-slot ring buffer.
    * Identical decimal-string factors, identical expression order ⇒
    * TimeSeriesSpec asserts bit-identity with `holtWintersHourly`.
    */
  def holtWintersScan(events: DataFrame, alpha: Double = 0.3, gamma: Double = 0.2,
      delta: Double = 0.25, season: Int = 24): DataFrame = {
    val a = BigDecimal(alpha.toString).toDouble
    val ac = (BigDecimal(1) - BigDecimal(alpha.toString)).toDouble
    val g = BigDecimal(gamma.toString).toDouble
    val gc = (BigDecimal(1) - BigDecimal(gamma.toString)).toDouble
    val dl = BigDecimal(delta.toString).toDouble
    val dc = (BigDecimal(1) - BigDecimal(delta.toString)).toDouble
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(avg(col("value")).as("v"))
    val sess = events.sparkSession
    import sess.implicits._
    b.select(col("event_type").cast("string"), col("hs"), col("v"))
      .as[(String, Long, Double)]
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("hs"))
      .mapPartitions { it =>
        var curKey: String = null
        var l = 0.0
        var t = 0.0
        var ring: Array[Double] = null
        var n = 0
        it.map { case (k, hs, v) =>
          if (k != curKey) { curKey = k; n = 0; ring = new Array[Double](season) }
          val s =
            if (n == 0) { l = v; t = 0.0; 0.0 }
            else if (n < season) {
              val lNew = a * v + ac * (l + t)
              t = g * (lNew - l) + gc * t
              l = lNew
              v - lNew
            } else {
              val sLag = ring(n % season)
              val lNew = a * (v - sLag) + ac * (l + t)
              t = g * (lNew - l) + gc * t
              l = lNew
              dl * (v - lNew) + dc * sLag
            }
          ring(n % season) = s
          n += 1
          (k, hs, l, t, s)
        }
      }
      .toDF("event_type", "hs", "l", "b", "s")
      .select(col("event_type"), col("hs"),
        rnd(col("l"), 6).as("level"), rnd(col("b"), 6).as("trend"),
        rnd(col("s"), 6).as("seasonal"))
  }

  // ---- ts_anomaly: rolling z-score outliers -----------------------------

  /** Rolling z-score anomaly detection: each event scored against the
    * mean/stddev of the 24 events preceding it (same event_type, event
    * time order). Emits only scored outliers (|z| > 2 with ≥ 12-event
    * history and non-degenerate spread) — the alert stream, not the
    * full scored corpus.
    */
  def anomalyZscore(events: DataFrame): DataFrame = {
    val frame = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-24, -1)
    events
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .withColumn("mu", avg(col("value")).over(frame))
      .withColumn("sd", stddev_samp(col("value")).over(frame))
      .withColumn("hist", count(col("value")).over(frame))
      .filter(col("hist") >= 12 && col("sd") > 0 &&
        abs((col("value") - col("mu")) / col("sd")) > 2)
      .select(col("event_id"), col("event_type"), col("value"),
        rnd((col("value") - col("mu")) / col("sd"), 6).as("z"))
  }

  def anomaly(s: SparkSession, d: String): DataFrame =
    anomalyZscore(Tables.events(s, d))

  /** The at-scale form of `anomalyZscore`: overlap-chunk windowing.
    * Rows are salted into (event_type, time-bucket) partitions; each
    * bucket imports the previous bucket's last 24 rows as context-only
    * copies, so every scored row still sees its full 24-row history
    * while the sort parallelism becomes types × buckets instead of
    * types. Context routes to each bucket's next NON-EMPTY successor
    * (an idle bucket must not break the history chain — the bucket
    * list is types × buckets rows, so the routing join is broadcast-
    * sized). Results are IDENTICAL to the global-window form (spec
    * twin, including an empty-middle-bucket case) PROVIDED the bucket
    * span is chosen so each NON-EMPTY bucket holds ≥ 24 events per
    * type (monitoring feeds: hours-to-days spans) — a sparser bucket's
    * successors could see a shorter history than the unsalted window
    * would, since context is only imported from one bucket back. The
    * precondition is RUNTIME-GUARDED: a bucket that exports context to
    * a successor while holding < 24 events raises a descriptive error
    * instead of silently diverging (TimeSeriesSpec pins both sides).
    */
  def anomalyZscoreScalable(events: DataFrame, bucketSpanHours: Int = 168): DataFrame = {
    val spanUs = bucketSpanHours * 3600L * 1000000L
    val base = events.select(col("event_id"), col("event_type"), col("ts"), col("value"),
      expr(s"unix_micros(ts) div ${spanUs}L").as("bkt"))
    val nextNonEmpty = base.select(col("event_type"), col("bkt")).distinct()
      .withColumn("nbkt", lead(col("bkt"), 1)
        .over(Window.partitionBy("event_type").orderBy("bkt")))
    val tail = Window.partitionBy("event_type", "bkt")
      .orderBy(col("ts").desc, col("event_id").desc)
    // Runtime guard (round-5, ADVICE): the ≥24-events-per-non-empty-
    // bucket precondition lived only in the scaladoc — a sparser feed
    // silently diverged from anomalyZscore. The guard costs nothing the
    // tail window hasn't already paid (bucket size capped at 24 = one
    // more window count over the same partition keys) and only fires for
    // buckets that EXPORT context (have a non-empty successor) — the
    // last bucket of a type may be arbitrarily sparse, nothing reads
    // history through it. Violations raise with the knob to turn.
    val ctx = base.withColumn("tn", row_number().over(tail)).filter(col("tn") <= 24)
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("event_type", "bkt")))
      .join(nextNonEmpty, Seq("event_type", "bkt"))
      .filter(col("nbkt").isNotNull)
      .select(col("event_id"), col("event_type"),
        when(col("bsz") < 24, raise_error(concat(
          lit("anomalyZscoreScalable: non-empty bucket ("), col("event_type"),
          lit(", "), col("bkt"), lit(") holds only "), col("bsz"),
          lit(" events but exports history to a successor — results would " +
            "diverge from anomalyZscore; widen bucketSpanHours")))
          .cast("timestamp")).otherwise(col("ts")).as("ts"),
        col("value"), col("nbkt").as("bkt"), lit(true).as("ctx"))
    val all = base.withColumn("ctx", lit(false)).unionByName(ctx)
    val frame = Window.partitionBy("event_type", "bkt")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-24, -1)
    all
      .withColumn("mu", avg(col("value")).over(frame))
      .withColumn("sd", stddev_samp(col("value")).over(frame))
      .withColumn("hist", count(col("value")).over(frame))
      .filter(!col("ctx") && col("hist") >= 12 && col("sd") > 0 &&
        abs((col("value") - col("mu")) / col("sd")) > 2)
      .select(col("event_id"), col("event_type"), col("value"),
        rnd((col("value") - col("mu")) / col("sd"), 6).as("z"))
  }

  // ---- cdc_latest: keep-latest-version per key --------------------------

  /** Latest event per user — the CDC "current snapshot" compaction.
    * max-on-struct so the shuffle sees one partial row per (partition,
    * user) — see object scaladoc. (ts, event_id) leads the struct, so
    * lexicographic max = latest-then-highest-id, matching the window
    * oracle's ORDER BY ts DESC, event_id DESC tiebreak.
    */
  def cdcLatest(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"), col("m.value").as("value"))

  /** The textbook window form of `cdcLatest` — spec twin only (the
    * aggregate form above is what scales; results must be identical).
    */
  private[graft] def cdcLatestWindow(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
  }

  def latest(s: SparkSession, d: String): DataFrame =
    cdcLatest(Tables.events(s, d))

  // ---- cdc_merge: MERGE-INTO upsert of a change batch -------------------

  /** Incremental-refresh primitive — the relational core of
    * `MERGE INTO base USING changes ON key`: rows whose key appears in
    * the change batch leave the base (one LEFT ANTI join on the key),
    * then the batch's upserts append (deletes simply never re-enter).
    * This is exactly how lakehouse MERGE plans physically — key-shuffled
    * anti join + union, both sides partial-agg/AQE-friendly; at 100 TB
    * the base side stays partitioned on the merge key so only matched
    * partitions rewrite. Declared split: base = even event_ids, change
    * batch = event_ids divisible by 3 with value < 10 as deletes and
    * the rest as upserts carrying a bumped value; `src` labels
    * provenance (kept / upserted) so the oracle checks the row's origin
    * too.
    */
  def cdcMerge(events: DataFrame): DataFrame = {
    val base = events.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"), col("value"))
    val changes = events.filter(col("event_id") % 3 === 0)
      .select(col("event_id"), col("event_type"),
        when(col("value") < 10, lit("delete")).otherwise(lit("upsert")).as("op"),
        rnd(col("value") * 2.0, 6).as("new_value"))
    val kept = base.join(changes.select("event_id"), Seq("event_id"), "left_anti")
      .select(col("event_id"), col("event_type"), rnd(col("value"), 6).as("value"),
        lit("kept").as("src"))
    val upserts = changes.filter(col("op") === "upsert")
      .select(col("event_id"), col("event_type"), col("new_value").as("value"),
        lit("upserted").as("src"))
    kept.unionAll(upserts)
  }

  def merge(s: SparkSession, d: String): DataFrame =
    cdcMerge(Tables.events(s, d))

  // ---- scd2_intervals: event log → validity intervals -------------------

  /** Slowly-changing-dimension type-2 shape: each per-user event becomes
    * a [valid_from, valid_to) interval in epoch µs, valid_to = next
    * event's valid_from (NULL ⇒ current version). One keyed window.
    */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("valid_from"), col("valid_to"))
  }

  def scd2(s: SparkSession, d: String): DataFrame =
    scd2Intervals(Tables.events(s, d))

  // ---- events_retention: weekly cohort retention ------------------------

  /** Cohort retention matrix: users bucketed by first-seen calendar
    * (epoch) week, counted in each offset week they reappear. The FIRST
    * op is `distinct` on (user, week) — map-side dedup collapses every
    * event a user fires in a week to one row BEFORE anything shuffles,
    * so all downstream work (first-week agg, self-join, cohort-cell
    * count) runs on O(user-weeks), never O(events). TsScaleProbe at 8 M
    * events / 100 versions per key: 21 MB shuffled vs 98 MB for the
    * first-event-anchored join form (4.6× — the ratio is
    * events-per-user-week, so it widens with feed density).
    */
  def eventsRetention(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"), expr(s"unix_micros(ts) div $WeekUs").as("w"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min("w").as("w0"))
    uw.join(first, "user_id")
      .groupBy(col("w0").as("cohort_week"), (col("w") - col("w0")).as("week_n"))
      .agg(count(lit(1)).as("users")) // (user, w) already distinct
  }

  def retention(s: SparkSession, d: String): DataFrame =
    eventsRetention(Tables.events(s, d))

  // ---- events_paths: top-k 3-step behavior paths ------------------------

  /** Sequential path mining lite: the top-10 most frequent 3-step
    * event-type paths across all users — the "what do users actually do"
    * query product analytics runs before any funnel is designed (funnels
    * test a HYPOTHESIZED sequence; this surfaces the dominant observed
    * ones). Per user, consecutive event triples via two `lead`s over the
    * (ts, event_id) order; one keyed count.
    *
    * Scale: the per-user window is the same partition-sort every
    * sessionize/SCD2 query already pays (users are independent — no
    * global sort of events); the aggregate's key space is |event_type|³
    * (125 here), so the final top-k ranking window runs on a
    * vocabulary-sized frame, never on event rows. Tie-break is total:
    * (count DESC, e1, e2, e3) — top-10 is deterministic.
    */
  def eventPaths(events: DataFrame, topK: Int = 10): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tri = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n_paths"))
    val rk = Window.orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
    tri.withColumn("rn", row_number().over(rk)).filter(col("rn") <= topK)
      .select(col("e1"), col("e2"), col("e3"), col("n_paths"))
  }

  def paths(s: SparkSession, d: String): DataFrame =
    eventPaths(Tables.events(s, d))

  // ---- ts_lttb: largest-triangle-three-buckets downsampling -------------

  /** LTTB downsampling of the per-type hourly series (Steinarsson 2013)
    * — the visual-fidelity decimation every observability/monitoring UI
    * runs before plotting: keep, per fixed-size bucket, the point that
    * forms the largest triangle with its neighbor buckets, plus the
    * series endpoints. This is the PARALLEL variant: both anchors are
    * the neighbor buckets' mean points (classic LTTB anchors the
    * previously-SELECTED point, which makes bucket b depend on b-1 —
    * a sequential chain; mean-anchoring makes every bucket independent,
    * the published "LTTB with fixed anchors" simplification, and the
    * one a distributed engine wants anyway).
    *
    * Determinism discipline: bucket means are FLOORED-integer anchors
    * (`div` ≡ DuckDB `//`, both truncate toward zero) over exact
    * micro-unit values, so the doubled-triangle-area |cross product| is
    * pure BIGINT arithmetic — no float enters until the final /1e6
    * display division, and the per-bucket argmax tie-breaks on
    * earliest hour. Magnitudes: epoch-seconds ~2e9 × micro-values
    * ~5e8 ⇒ products ~1e18 < 2^63 at these data ranges; the window
    * deltas that actually enter the cross product are far smaller.
    *
    * Scale: one keyed hourly aggregate over raw events, then
    * bucket-count-sized stats/joins — the mid-point join keys on
    * (event_type, bucket), never corpus rows. Per-type partitions
    * independent.
    */
  def lttbHourly(events: DataFrame, bucket: Int = LttbBucket): DataFrame = {
    val base = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("event_type").orderBy("hs")) - 1)
      .withColumn("bk", expr(s"rn div $bucket").cast("long"))
      .select(col("event_type"), col("bk"), col("hs"), col("vu"))
    val stats = base.groupBy("event_type", "bk")
      .agg(count(lit(1)).as("n"), sum("hs").as("sx"), sum("vu").as("sy"))
    val anchors = stats.select(col("event_type"), col("bk"),
      expr("sx div n").as("mx"), expr("sy div n").as("my"))
    val bmax = stats.groupBy("event_type").agg(max("bk").as("bmax"))
    val mid = base
      .join(anchors.select(col("event_type"), (col("bk") + 1).as("bk"),
        col("mx").as("xl"), col("my").as("yl")), Seq("event_type", "bk"))
      .join(anchors.select(col("event_type"), (col("bk") - 1).as("bk"),
        col("mx").as("xr"), col("my").as("yr")), Seq("event_type", "bk"))
      .withColumn("a2", abs(
        (col("xl") - col("xr")) * (col("vu") - col("yl")) -
          (col("xl") - col("hs")) * (col("yl") - col("yr"))))
      .groupBy("event_type", "bk")
      .agg(min(struct((-col("a2")).as("na"), col("hs").as("h"), col("vu").as("u"))).as("m"))
      .select(col("event_type"), col("m.h").as("hs"), col("m.u").as("vu"))
    val first = base.filter(col("bk") === 0)
      .groupBy("event_type")
      .agg(min(struct(col("hs"), col("vu"))).as("m"))
      .select(col("event_type"), col("m.hs").as("hs"), col("m.vu").as("vu"))
    val last = base.join(bmax, "event_type").filter(col("bk") === col("bmax"))
      .groupBy("event_type")
      .agg(max(struct(col("hs"), col("vu"))).as("m"))
      .select(col("event_type"), col("m.hs").as("hs"), col("m.vu").as("vu"))
    mid.unionByName(first).unionByName(last).distinct()
      .select(col("event_type"), col("hs"), (col("vu") / 1e6).as("v"))
  }

  def lttb(s: SparkSession, d: String): DataFrame =
    lttbHourly(Tables.events(s, d))

  // ---- events_attribution: last-touch conversion attribution ------------

  /** Last-touch attribution: each purchase is credited to the most
    * recent non-purchase event by the same user within a 7-day
    * lookback — the standard marketing-analytics credit assignment.
    * Purchases with no candidate in the window credit `none`.
    * Deterministic: the candidate argmax is max(struct(ct, cid, ...)),
    * so an exact-timestamp tie breaks on the higher event_id.
    *
    * Shape: one user-keyed equi-join with the time predicate applied
    * post-join (bounded per user — the `join_asof` family's shape),
    * one per-purchase argmax aggregate (map-side partials), one
    * vocabulary-sized channel count. Nothing corpus-proportional is
    * broadcast.
    *
    * Heavy-user guard (the `coOrderEdgesFrom` discipline): the
    * purchases⋈candidates expansion is quadratic in ONE user's event
    * count — a bot account with 10⁴ purchases × 10⁵ clicks silently
    * generates 10⁹ pre-filter rows in one task. A user whose
    * purchases×candidates product exceeds `maxPairsPerUser` raises a
    * descriptive error naming the knob; the check costs one per-user
    * count window on the purchase side (same user_id key the join
    * shuffles by) plus a user-keyed candidate count.
    */
  def attributionLastTouch(events: DataFrame,
      lookbackUs: Long = WeekUs,
      maxPairsPerUser: Long = 1000000L): DataFrame = {
    val ev = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("t"))
    val candAll = ev.filter(col("event_type") =!= "purchase")
    val candCnt = candAll.groupBy("user_id").agg(count(lit(1)).as("nc"))
    val purch = ev.filter(col("event_type") === "purchase")
      .withColumn("np", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .join(candCnt, Seq("user_id"), "left")
      .select(col("user_id"), col("event_id").as("pid"),
        when(col("np") * coalesce(col("nc"), lit(0L)) > maxPairsPerUser,
          raise_error(concat(
            lit("attributionLastTouch: user "), col("user_id").cast("string"),
            lit(" expands to "), (col("np") * col("nc")).cast("string"),
            lit(s" purchase x candidate pairs > maxPairsPerUser=$maxPairsPerUser — " +
              "sample or pre-aggregate heavy users first"))))
          .otherwise(col("t")).as("pt"))
    val cand = candAll
      .select(col("user_id"), col("event_type").as("channel"),
        col("event_id").as("cid"), col("t").as("ct"))
    val best = purch.join(cand, Seq("user_id"))
      .filter(col("ct") < col("pt") && col("ct") >= col("pt") - lookbackUs)
      .groupBy("pid")
      .agg(max(struct(col("ct"), col("cid"), col("channel"))).as("m"))
      .select(col("pid"), col("m.channel").as("channel"))
    purch.join(best, Seq("pid"), "left")
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"))
  }

  def attribution(s: SparkSession, d: String): DataFrame =
    attributionLastTouch(Tables.events(s, d))

  // ---- ts_mad: median-absolute-deviation robust outlier screen ----------

  /** Robust outlier detection via the modified z-score (Iglewicz-Hoaglin):
    * flag |v − median| > 3.5 · 1.4826 · MAD per event_type — the screen
    * that survives exactly the outliers that poison `ts_anomaly`'s
    * mean/σ z-score (one 10⁶× spike inflates σ enough to mask every
    * other anomaly; the median and MAD don't move). Both medians are
    * DISCRETE rank-⌈n/2⌉ values (the `outlier_iqr` discipline — actual
    * data values, no interpolation arithmetic), so the cutoff
    * comparison runs against bit-identical doubles in both engines.
    *
    * Shape: two partition-sort rank passes (the unavoidable exact-
    * median shuffles) + one broadcast join back per pass; at 100 TB
    * an approx-percentile sketch replaces pass one and this exact form
    * is the oracle semantics — same split as agg_quantiles vs
    * agg_approx_quantiles.
    */
  def madOutliers(events: DataFrame, cutoff: Double = 3.5): DataFrame = {
    val v = events.select(col("event_type"), col("value").as("v"))
    val wS = Window.partitionBy("event_type").orderBy("v")
    val wN = Window.partitionBy("event_type")
    val med = v
      .withColumn("rn", row_number().over(wS))
      .withColumn("n", count(lit(1)).over(wN))
      .groupBy("event_type")
      .agg(max(when(col("rn") === ceil(col("n") * 0.5), col("v"))).as("med"))
    val dev = v.join(broadcast(med), "event_type")
      .withColumn("dv", abs(col("v") - col("med")))
    val wD = Window.partitionBy("event_type").orderBy("dv")
    val mad = dev
      .withColumn("rn", row_number().over(wD))
      .withColumn("n", count(lit(1)).over(wN))
      .groupBy("event_type")
      .agg(max(when(col("rn") === ceil(col("n") * 0.5), col("dv"))).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        rnd(max(col("med")), 6).as("med"),
        rnd(max(col("mad")), 6).as("mad"),
        count(when(col("dv") > lit(cutoff) * lit(1.4826) * col("mad"), 1)).as("n_out"))
  }

  def mad(s: SparkSession, d: String): DataFrame =
    madOutliers(Tables.events(s, d))

  // ---- ts_pattern: consecutive-decline sequence detection ---------------

  /** Sequence-pattern alerting lite: per event_type, count the hourly
    * buckets that complete THREE consecutive declines (vu < l1 < l2 < l3
    * over the observed bucket order — the MATCH_RECOGNIZE-style
    * monotone-run rule an alerting pipeline evaluates without needing a
    * pattern engine), plus the first hour it happens. Comparisons run
    * on the exact micro-unit integers of the 6-dp bucket means, so no
    * float boundary exists; lags are ROW-based over observed buckets —
    * a calendar gap joins its neighbors into one run (documented
    * semantics; `ts_resample` is the gap-filling precursor if calendar
    * adjacency is wanted). One keyed aggregate + one partition-sort.
    */
  def declineRuns(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hs")
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
      .withColumn("l1", lag(col("vu"), 1).over(w))
      .withColumn("l2", lag(col("vu"), 2).over(w))
      .withColumn("l3", lag(col("vu"), 3).over(w))
      .filter(col("vu") < col("l1") && col("l1") < col("l2") && col("l2") < col("l3"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_matches"), min("hs").as("first_hs"))
  }

  def pattern(s: SparkSession, d: String): DataFrame =
    declineRuns(Tables.events(s, d))

  // ---- ts_hampel: rolling-median outlier filter --------------------------

  /** ts_hampel — the Hampel filter: flag hourly buckets whose value
    * deviates from the ±3-hour ROLLING lower median by more than
    * 3·1.4826·(rolling MAD). `ts_mad` screens against the GLOBAL
    * median — a level shift mid-series flags everything after it; the
    * rolling window adapts, which is why Hampel is the standard spike
    * cleaner ahead of forecasting. All medians are discrete
    * lower-median picks from the sorted 7-element window (exact e6
    * integers, `sort_array`/`element_at` ≡ the oracle's
    * `list_sort`/1-based index — no interpolation, no float sums);
    * only the final cutoff compare touches a double, identically
    * shaped in both engines. Windows are per-type row frames of ≤ 7 —
    * bounded whatever the corpus.
    */
  /** Per-hour detail frame (event_type, hs, v, vu, med, flag) — the
    * declared row aggregates it; `Streaming.hampelStream`'s twin pin
    * compares against these rows directly. */
  def hampelDetail(events: DataFrame, k: Double = 3.0): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hs").rowsBetween(-3, 3)
    val idx = expr("(size(win) + 1) div 2").cast("int")
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
      .withColumn("win", sort_array(collect_list(col("vu")).over(w)))
      .withColumn("med", element_at(col("win"), idx))
      .withColumn("dev", abs(col("vu") - col("med")))
      .withColumn("madw", element_at(
        sort_array(transform(col("win"), x => abs(x - col("med")))), idx))
      .withColumn("flag", col("dev") > lit(k) * lit(1.4826) * col("madw"))
  }

  def hampel(events: DataFrame, k: Double = 3.0): DataFrame =
    hampelDetail(events, k).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_out"),
        min(when(col("flag"), col("hs"))).as("first_hs"))

  def hampelQuery(s: SparkSession, d: String): DataFrame =
    hampel(Tables.events(s, d))

  // ---- ts_decompose: additive seasonal decomposition --------------------

  /** Classical additive decomposition of the per-type hourly series:
    * trend = centered ±12 h moving average (a RANGE frame on the epoch
    * key, so calendar gaps shrink the window instead of silently pulling
    * in far-away rows — the row-frame trap on sparse series), seasonal =
    * per-(type, hour-of-day) mean of the detrended series, remainder =
    * observed − trend − seasonal. The STL-lite a monitoring pipeline
    * runs before `ts_anomaly`-style residual scoring.
    *
    * Scale: one keyed hourly aggregation over raw events (map-side
    * partials), then two window passes and one group mean over the
    * BUCKET series — nothing past the first aggregate scales with event
    * count. Per-type partitions are independent; a year of hourly
    * buckets is ~9 k rows per key.
    */
  def decomposeHourly(events: DataFrame): DataFrame = {
    // All window math runs in EXACT micro-unit integers. Averaging the
    // 6-dp bucket means in doubles is systematically boundary-hostile:
    // 25ths of a 1e-6 grid land exactly on half-ulps of the 6th decimal,
    // so engine summation-order differences flip the rnd(6) output
    // (observed at sf0.01 AND sf0.1). Integer window sums have no order
    // sensitivity, the one division per output is IEEE-exact-rounded
    // identically in both engines, and half-up is applied once via the
    // shared floor(x + 0.5) formula.
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
    val wTrend = Window.partitionBy("event_type").orderBy("hs")
      .rangeBetween(-43200L, 43200L)
    val wSeason = Window.partitionBy(col("event_type"), col("phase"))
    b.withColumn("tu",
        floor(sum(col("vu")).over(wTrend).cast("double") /
          count(lit(1)).over(wTrend) + 0.5).cast("long"))
      .withColumn("phase", expr("(hs div 3600) % 24"))
      .withColumn("su",
        floor(sum(col("vu") - col("tu")).over(wSeason).cast("double") /
          count(lit(1)).over(wSeason) + 0.5).cast("long"))
      .select(col("event_type"), col("hs"),
        col("v"),
        (col("tu") / 1e6).as("trend"),
        (col("su") / 1e6).as("seasonal"),
        ((col("vu") - col("tu") - col("su")) / 1e6).as("remainder"))
  }

  def decompose(s: SparkSession, d: String): DataFrame =
    decomposeHourly(Tables.events(s, d))

  /** ts_seasonality_strength — Hyndman's seasonal-strength read-out of
    * the decomposition: Fₛ = max(0, 1 − Var(R)/Var(S+R)) per type —
    * ≈ 1 when the seasonal component explains the detrended series,
    * ≈ 0 when the "seasonality" is noise. THE number that decides
    * whether `ts_holt_winters` (seasonal) or `ts_holt` (trend-only)
    * models a feed. Components come from the SAME `decomposeHourly`
    * chain (shared oracle CTEs, so the score cannot drift from the
    * decomposition); variances from explicit raw moments over the
    * exact micro-unit-derived doubles (`agg_corr` discipline), output
    * bounded in [0, 1] where rnd(6) is safe. One calendar-bounded
    * aggregate over the bucket series.
    */
  def seasonalityStrength(events: DataFrame): DataFrame = {
    val comp = decomposeHourly(events)
      .select(col("event_type"), col("remainder").as("r"),
        (col("seasonal") + col("remainder")).as("sr"))
    comp.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("r")).as("mr"), avg(col("r") * col("r")).as("mrr"),
        avg(col("sr")).as("msr"), avg(col("sr") * col("sr")).as("msrsr"))
      .select(col("event_type"), col("n"),
        rnd(when(col("msrsr") - col("msr") * col("msr") === 0.0, lit(0.0))
          .otherwise(greatest(lit(0.0),
            lit(1.0) - (col("mrr") - col("mr") * col("mr")) /
              (col("msrsr") - col("msr") * col("msr")))), 6)
          .as("seasonal_strength"))
  }

  def seasonalityStrengthQuery(s: SparkSession, d: String): DataFrame =
    seasonalityStrength(Tables.events(s, d))

  // ---- ts_autocorr: lag-k autocorrelation -------------------------------

  /** Lag-1..3 autocorrelation of the per-type hourly series — the
    * seasonality/persistence detector run before committing to a
    * decomposition period. Pairs come from a TIME-lag equi-join
    * (y.hs = x.hs + k·3600), not a row-offset window, so calendar gaps
    * pair nothing instead of silently pairing non-adjacent hours.
    * Pearson r over the matched pairs, assembled from explicit raw
    * moments avg(x), avg(y), avg(x·y), avg(x²), avg(y²) in BOTH
    * engines (the agg_corr discipline — no engine-internal one-pass
    * co-moment merge orders), output bounded in [-1, 1] where rnd(6)
    * is safe. Scale: the bucket series is calendar-bounded; three
    * integer-keyed self-joins and one keyed aggregate.
    */
  def autocorrHourly(events: DataFrame, maxLag: Int = 3): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
    val x = b.withColumn("lag", explode(array((1 to maxLag).map(lit): _*)))
      .select(col("event_type"), col("lag"), col("hs"), col("v").as("x"))
    val y = b.select(col("event_type"), col("hs").as("yhs"), col("v").as("y"))
    val denom = (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))) *
      (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
    x.join(y, x("event_type") === y("event_type") &&
        col("yhs") === col("hs") + col("lag") * 3600)
      .drop(y("event_type"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        rnd(when(denom > 0,
          (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y"))) / sqrt(denom))
          .otherwise(lit(0.0)), 6).as("r"))
  }

  def autocorr(s: SparkSession, d: String): DataFrame =
    autocorrHourly(Tables.events(s, d))

  // ---- ts_cross_corr: lagged cross-type correlation ---------------------

  /** Lagged CROSS-correlation between two event-type series (does
    * activity in series A lead series B by k hours?) — `ts_autocorr`'s
    * two-series sibling and the lead-lag screen behind "did the error
    * burst cause the purchase dip". Pairs x = typeA's hourly mean at
    * hs with y = typeB's at hs + lag for lag 0..maxLag over TIME-lag
    * equi-joins (calendar gaps pair nothing), Pearson r from explicit
    * raw moments (the `agg_corr` discipline) — bounded in [−1, 1],
    * degenerate variance defined 0.
    *
    * Scale: the join keys are (hs) over two calendar-bounded bucket
    * series — everything after the first keyed aggregation is
    * bucket-count-sized.
    */
  def crossCorrHourly(events: DataFrame, typeA: String, typeB: String,
      maxLag: Int = CrossCorrMaxLag): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
    val x = b.filter(col("event_type") === typeA)
      .withColumn("lag", explode(array((0 to maxLag).map(lit): _*)))
      .select(col("lag"), col("hs"), col("v").as("x"))
    val y = b.filter(col("event_type") === typeB)
      .select(col("hs").as("yhs"), col("v").as("y"))
    val denom = (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))) *
      (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y")))
    x.join(y, col("yhs") === col("hs") + col("lag") * 3600)
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        rnd(when(denom > 0,
          (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y"))) / sqrt(denom))
          .otherwise(lit(0.0)), 6).as("r"))
  }

  def crossCorr(s: SparkSession, d: String): DataFrame =
    crossCorrHourly(Tables.events(s, d), CrossCorrTypeA, CrossCorrTypeB)

  // ---- ts_islands: gaps-and-islands coverage runs -----------------------

  /** Gaps-and-islands over the hourly buckets: per event_type, the
    * contiguous calendar runs where data EXISTS — island count, longest
    * run, covered bucket count (the uptime/coverage report read before
    * trusting any windowed aggregate over the feed; `ts_resample` fills
    * these gaps, this row MEASURES them). The classic island key:
    * hour-index − row_number is constant exactly within a contiguous
    * run — pure integer arithmetic, no boundary to flip.
    *
    * Scale: the island window runs over the calendar-bounded bucket
    * series (one partition-sort per type), never raw events; the
    * double grouping after it is island-count-sized.
    */
  def hourlyIslands(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hs")
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("hs"))
      .withColumn("grp", expr("hs div 3600") - row_number().over(w))
      .groupBy("event_type", "grp")
      .agg(count(lit(1)).as("len"), min("hs").as("start_hs"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_islands"), max("len").as("longest"),
        sum("len").as("n_buckets"), min("start_hs").as("first_hs"))
  }

  def islands(s: SparkSession, d: String): DataFrame =
    hourlyIslands(Tables.events(s, d))

  // ---- interval_merge: overlapping-interval union per key ---------------

  /** Merge overlapping [s, e) intervals per user — the temporal-table
    * compaction primitive (coverage union, on-call schedule flattening,
    * downtime consolidation). Distinct from gap-sessionization: interval
    * ENDS are variable (here duration scales with the event's value), so
    * an interval can swallow several later ones and chain-merge through
    * them — the running max-of-prior-ends is load-bearing, not just the
    * previous row's end. A new merged group starts exactly when s >
    * max(all prior e) (strict: touching intervals [a,b) [b,c) merge).
    * All boundaries are exact integers (µs epochs + floor'd durations),
    * so the group key is bit-identical cross-engine.
    *
    * Scale: one partition-sort per user (the window shuffle), then a
    * keyed aggregate over (user, group) — never corpus-crossing.
    */
  def mergeIntervals(iv: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
    val prior = order.rowsBetween(Window.unboundedPreceding, -1)
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.withColumn("pmax", max(col("e")).over(prior))
      .withColumn("new_g",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("new_g")).over(run))
      .groupBy(col("user_id"), col("grp"))
      .agg(min("s").as("start_us"), max("e").as("end_us"),
        count(lit(1)).as("n_merged"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_merged"))
  }

  def intervalMerge(s: SparkSession, d: String): DataFrame =
    mergeIntervals(Tables.events(s, d).select(
      col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + floor(col("value") * 6e7).cast("long")).as("e")))

  // ---- ts_changepoint: CUSUM max-deviation changepoint ------------------

  /** CUSUM changepoint per event_type: over the hourly bucket series
    * (6-dp means → micro-unit integers, the `ts_decompose` discipline),
    * the cumulative deviation S_i = Σ_{j≤i}(v_j − v̄) peaks at the hour
    * where the series' level shifts — the classic offline CUSUM
    * estimator a monitoring pipeline runs when `ts_anomaly` keeps
    * firing and someone asks "since WHEN". Everything up to the one
    * final division is EXACT integer arithmetic scaled by n:
    * n·1e6·S_i = n·prefix_i − i·total, so there is no engine
    * summation-order difference to amplify (a naive double cumsum
    * amplifies avg() jitter by i — boundary-hostile exactly like the
    * ts_decompose trap). Argmax ties break to the earliest hour via
    * lexicographic struct max on (|nS|, −hs).
    *
    * Scale: one keyed hourly aggregation over raw events (map-side
    * partials), one per-type ordered window over the calendar-bounded
    * bucket series, one 1-row-per-type argmax aggregate. Nothing past
    * the first aggregate scales with event count.
    */
  def changepointHourly(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
    val wOrd = Window.partitionBy("event_type").orderBy("hs")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    b.withColumn("i", count(lit(1)).over(wOrd))
      .withColumn("pre", sum(col("vu")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("vu")).over(wAll))
      .withColumn("ns", col("n") * col("pre") - col("i") * col("tot"))
      .groupBy(col("event_type"))
      .agg(max(struct(abs(col("ns")).as("a"), (-col("hs")).as("nhs"),
        col("ns").as("ns"), col("hs").as("hs"), col("n").as("n"))).as("m"))
      .select(col("event_type"), col("m.hs").as("cp_hs"),
        rnd(col("m.ns").cast("double") /
          (col("m.n").cast("double") * 1e6), 6).as("cusum"),
        col("m.n").as("n_buckets"))
  }

  def changepoint(s: SparkSession, d: String): DataFrame =
    changepointHourly(Tables.events(s, d))

  // ---- ts_cusum: one-sided CUSUM drift statistic with reset -------------

  /** ts_cusum — the ONLINE drift detector next to `ts_changepoint`'s
    * offline argmax (round 10): per (type, hour) the one-sided upper
    * CUSUM S⁺_i = max(0, S⁺_{i−1} + (v_i − v̄)) — the page-when-it-
    * crosses statistic a monitor tracks continuously, where
    * changepoint answers "since WHEN" after the fact. The textbook
    * recurrence is sequential, but it has a closed form over two stock
    * windows: S⁺_i = P_i − min(0, min_{j≤i} P_j) with prefix deviations
    * P_i = Σ_{j≤i}(v_j − v̄) — a reset-at-zero is just subtracting the
    * running minimum of the prefix walk. Integer discipline identical
    * to `ts_changepoint`: n·1e6·P_i = n·pre_i − i·tot, all BIGINT; the
    * one double division happens per output row. `alarm` flags hours
    * where the statistic exceeds `CusumThreshold` value-units (shared
    * Spark/oracle literal). Scale: one keyed hourly aggregate over raw
    * events, then two windows over the calendar-bounded bucket series.
    */
  private[graft] val CusumThreshold = "10e0"

  def cusumHourly(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
    val wOrd = Window.partitionBy("event_type").orderBy("hs")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    b.withColumn("i", count(lit(1)).over(wOrd))
      .withColumn("pre", sum(col("vu")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("vu")).over(wAll))
      .withColumn("ns", col("n") * col("pre") - col("i") * col("tot"))
      .withColumn("runmin", least(lit(0L), min(col("ns")).over(wOrd)))
      .select(col("event_type"), col("hs"), col("v"),
        rnd((col("ns") - col("runmin")).cast("double") /
          (col("n").cast("double") * 1e6), 6).as("cusum_pos"))
      .withColumn("alarm", col("cusum_pos") > expr(CusumThreshold))
  }

  def cusum(s: SparkSession, d: String): DataFrame =
    cusumHourly(Tables.events(s, d))

  /** CUSUM against a FIXED trained baseline — the ONLINE form of
    * `cusumHourly`, whose reference mean is the series' own global mean
    * (inherently offline: the last hour moves every deviation). A
    * production detector trains μ₀ on a reference window and monitors
    * against it; with μ₀ held as an exact e6 integer the recurrence
    * S⁺ = max(0, S⁺ + (v̄ − μ₀)) stays in BIGINT, written here in closed
    * form (prefix-deviation minus running-min, the `cusumHourly`
    * identity) — two stock windows over the calendar-bounded hourly
    * frame. `Streaming.cusumStream` is the constant-state online twin;
    * StreamingSpec pins stream ≡ batch on every closed hour.
    */
  def cusumFixedBaselineHourly(events: DataFrame,
      baselineE6: Map[String, Long]): DataFrame = {
    val s = events.sparkSession
    val base = s.createDataFrame(baselineE6.toSeq).toDF("event_type", "mu_e6")
    val wOrd = Window.partitionBy("event_type").orderBy("hs")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
      .join(broadcast(base), "event_type")
      .withColumn("dev", col("vu") - col("mu_e6"))
      .withColumn("pre", sum(col("dev")).over(wOrd))
      .withColumn("runmin", least(lit(0L), min(col("pre")).over(wOrd)))
      .select(col("event_type"), col("hs"), col("v"),
        rnd((col("pre") - col("runmin")).cast("double") / 1e6, 6).as("cusum_pos"))
      .withColumn("alarm", col("cusum_pos") > expr(CusumThreshold))
  }

  /** Train the e6-integer baseline `cusumFixedBaselineHourly` monitors
    * against: per type, the mean of the hourly means over the reference
    * feed (collected — one row per type, the broadcast-dim scale of
    * `RunMonitor`'s launch step).
    */
  def cusumBaselineE6(events: DataFrame): Map[String, Long] =
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .groupBy(col("event_type"))
      .agg(floor(avg(col("v")) * 1e6 + 0.5).cast("long").as("mu_e6"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // ---- events_burstiness: inter-arrival burstiness per event type -------

  /** events_burstiness — Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of the
    * inter-arrival gaps per event type (round 10), with the coefficient
    * of variation σ/μ alongside: B → −1 for a metronome, 0 for a
    * Poisson stream, → 1 for heavy bursts — the one-number answer to
    * "is this feed event-driven or scheduled" that sizes stream state
    * and batch windows. Gaps are floor-second integers from the
    * (ts, event_id)-ordered lag per type (partitioned window — types
    * independent, no global sort); Σd and Σd² stay BIGINT (seconds
    * keep Σd² < 2⁶³ where micro-unit gaps would overflow), and the
    * moment algebra runs as the identical double expression tree in
    * both engines: μ = Σd/n, σ² = Σd²/n − μ². σ = μ = 0 (all gaps
    * sub-second) yields NULL burstiness, not 0/0.
    */
  def burstiness(events: DataFrame): DataFrame = {
    val gaps = events
      .select(col("event_type"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_s", expr("(us - lag(us, 1) OVER (PARTITION BY event_type " +
        "ORDER BY ts, event_id)) div 1000000"))
      .filter(col("gap_s").isNotNull)
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("s1"),
        sum(col("gap_s") * col("gap_s")).as("s2"))
      .select(col("event_type"), col("n_gaps"),
        rnd(col("s1") / col("n_gaps").cast("double"), 6).as("mean_gap_s"),
        rnd(sqrt(col("s2") / col("n_gaps").cast("double") -
          (col("s1") / col("n_gaps").cast("double")) *
            (col("s1") / col("n_gaps").cast("double"))), 6).as("sd_gap_s"))
      .withColumn("cv",
        when(col("mean_gap_s") === 0, lit(null).cast("double"))
          .otherwise(rnd(col("sd_gap_s") / col("mean_gap_s"), 6)))
      .withColumn("burstiness",
        when(col("sd_gap_s") + col("mean_gap_s") === 0, lit(null).cast("double"))
          .otherwise(rnd((col("sd_gap_s") - col("mean_gap_s")) /
            (col("sd_gap_s") + col("mean_gap_s")), 6)))
  }

  def burstinessQuery(s: SparkSession, d: String): DataFrame =
    burstiness(Tables.events(s, d))

  // ---- driver wiring ----------------------------------------------------

  // ---- events_rfm: recency/frequency/monetary user segmentation ---------

  /** Classic RFM scoring: per user, days since last event (against the
    * corpus max — a broadcast one-row aggregate, not a driver collect),
    * event count, and exact micro-unit monetary sum; each metric then
    * quartile-scored 1-4 by `ntile` with a total tie order
    * (metric, user_id) so tile boundaries cannot wobble (`window_ntile`
    * precedent). Each ordering puts the BEST users in tile 1 (fewest
    * days / most events / most spend first); emitting 5 − tile makes
    * 4 = best uniformly, the conventional RFM polarity.
    *
    * Scale: the scored frame is USER-cardinality (one row per user after
    * one partial-agg shuffle); the three ntiles are global sorts of that
    * user table — rank semantics are inherently global, and a sort of
    * the user dimension (not the event fact table) is the cheapest total
    * order available. Monetary sums in exact e6 integer units (value is
    * 2-decimal; the `vu` discipline) so partial-agg order cannot shift a
    * quartile boundary.
    */
  def eventsRfm(events: DataFrame): DataFrame = {
    val per = events
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        floor(col("value") * 1e6 + 0.5).cast("long").as("vu"))
      .groupBy("user_id")
      .agg(max(col("tu")).as("last_us"), count(lit(1)).as("frequency"),
        sum(col("vu")).as("monetary_e6"))
    val corpusMax = broadcast(per.agg(max(col("last_us")).as("corpus_max_us")))
    val base = per.crossJoin(corpusMax)
      .withColumn("recency_days",
        expr("(corpus_max_us - last_us) div 86400000000"))
    // three quartile cuts over the corpus-scaled user frame — each a
    // distributed global rank + closed-form ntile (the
    // events_power_users rewrite ×3; one range exchange per dimension,
    // no single-partition sort). Identical scores: same total orders,
    // same standard ntile bucketing (oracle unchanged).
    val tot = broadcast(base.select(col("user_id")).agg(count(lit(1)).as("n_total")))
    def score(df: DataFrame, sort: Seq[org.apache.spark.sql.Column], name: String): DataFrame =
      Rank.globalRank(df, sort).crossJoin(tot)
        .withColumn(name,
          (lit(5) - Rank.ntileOf(col("grank"), col("n_total"), 4)).cast("int"))
        .drop("grank", "n_total")
    val scored = score(score(score(base,
      Seq(col("recency_days"), col("user_id")), "r_score"),
      Seq(col("frequency").desc, col("user_id")), "f_score"),
      Seq(col("monetary_e6").desc, col("user_id")), "m_score")
    scored.select(col("user_id"), col("recency_days"), col("frequency"),
      rnd(col("monetary_e6") / 1e6, 6).as("monetary"),
      col("r_score"), col("f_score"), col("m_score"))
  }

  def rfm(s: SparkSession, d: String): DataFrame =
    eventsRfm(Tables.events(s, d))

  // ---- events_session_stats: per-user session summary -------------------

  /** Per-USER rollup of 30-minute-gap sessions: session count, busiest
    * session's event count, longest session duration, total events —
    * the engagement summary `stream_sessionize` (per-session rows) feeds
    * but doesn't itself compute. Same lag/flag/running-sum session
    * derivation (boundaries asserted equal by StreamingSpec's
    * session_window twin), then two keyed aggregates. Durations are
    * BIGINT micros end to end — no float touches this query, so the row
    * hash cannot drift.
    *
    * Scale: one per-user window sort (users independent — the partition
    * key IS the parallelism) + two hash aggregates that collapse to
    * session- then user-cardinality immediately.
    */
  def eventsSessionStats(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("tu", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("tu"), 1).over(order))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("tu") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_ev"), min(col("tu")).as("t0"), max(col("tu")).as("t1"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), max(col("n_ev")).as("max_session_events"),
        max(col("t1") - col("t0")).as("longest_session_us"),
        sum(col("n_ev")).as("n_events"))
  }

  def sessionStats(s: SparkSession, d: String): DataFrame =
    eventsSessionStats(Tables.events(s, d))

  // ---- ts_bollinger: rolling mean ± 2σ bands ----------------------------

  /** Bollinger bands over the hourly 'view' feed: per hour, the trailing
    * 24-hour rolling mean and population σ (current hour inclusive), and
    * whether the hour's own mean escapes mean ± 2σ — the volatility
    * screen `ts_anomaly` (z-score) and `ts_mad` (robust) sit beside.
    *
    * Numeric discipline: raw moments ride the rolling frame as exact
    * BIGINT sums — per hour n, Σv in e6 units, Σv² in e2-squared (= e4)
    * units (value is 2-decimal so e2 is exact and its square fits BIGINT
    * at 10⁶× this feed; e6² would overflow). The window then sums
    * INTEGERS — engines disagree on float window-sum association (DuckDB
    * segment-tree vs Spark running frame), integers cannot disagree —
    * and the mean/σ doubles are derived from identical BIGINTs at the
    * edge. Frame is ROWS-bounded on the gapless hourly grid.
    *
    * Scale: one partial-agg shuffle to hour cardinality, then a window
    * over the per-type CALENDAR-sized series (rows = hours in retention,
    * not events) — the `anomalyZscore` shape with the same chunked
    * escape hatch if one type dominates.
    */
  def tsBollinger(events: DataFrame, windowHours: Int = 24): DataFrame = {
    val hourly = events.filter(col("event_type") === "view")
      .select(
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(3600000000L))).as("hour_us"),
        floor(col("value") * 1e6 + 0.5).cast("long").as("v6"),
        floor(col("value") * 100 + 0.5).cast("long").as("v2"))
      .groupBy("hour_us")
      .agg(count(lit(1)).as("n"), sum(col("v6")).as("s1_e6"),
        sum(col("v2") * col("v2")).as("s2_e4"))
    val w = Window.orderBy(col("hour_us")).rowsBetween(-(windowHours - 1), 0)
    hourly
      .withColumn("rn", sum(col("n")).over(w))
      .withColumn("rs1", sum(col("s1_e6")).over(w))
      .withColumn("rs2", sum(col("s2_e4")).over(w))
      .select(col("hour_us"),
        rnd(col("s1_e6") / 1e6 / col("n"), 6).as("hour_mean"),
        rnd(col("rs1") / 1e6 / col("rn"), 6).as("roll_mean"),
        rnd(sqrt(col("rs2") / 1e4 / col("rn") -
          (col("rs1") / 1e6 / col("rn")) * (col("rs1") / 1e6 / col("rn"))), 6).as("roll_sigma"),
        (abs(col("s1_e6") / 1e6 / col("n") - col("rs1") / 1e6 / col("rn")) >
          lit(2.0) * sqrt(col("rs2") / 1e4 / col("rn") -
            (col("rs1") / 1e6 / col("rn")) * (col("rs1") / 1e6 / col("rn")))).as("breakout"))
  }

  def bollinger(s: SparkSession, d: String): DataFrame =
    tsBollinger(Tables.events(s, d))

  // ---- ts_drawdown: running peak and drawdown-from-peak -----------------

  /** Per-type hourly drawdown: the running all-time-high of the hourly
    * mean and each hour's fractional drop from it — the risk read-out
    * ("how far below the best hour are we, and when did we crater")
    * that complements `ts_bollinger`'s volatility bands. The running
    * max rides the exact e6 micro-unit integers of the 6-dp bucket
    * means (integer window max cannot disagree between engines); the
    * drawdown ratio is the one closing double. Window is per-type over
    * the CALENDAR-sized hourly series (the `declineRuns` shape).
    */
  def tsDrawdown(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hs")
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
      .withColumn("peak", max(col("vu")).over(w))
      .select(col("event_type"), col("hs"), col("v"),
        rnd(col("peak") / 1e6, 6).as("peak_v"),
        // peak == 0 guard (ADVICE r9): a zero/negative value series can
        // put the all-time peak at exactly 0 — under ANSI mode the bare
        // division THROWS there; emit NULL (drawdown from a zero peak is
        // undefined) and the streaming twin emits None on the same hour
        rnd(when(col("peak") === 0L, lit(null).cast("double"))
          .otherwise((col("peak") - col("vu")) / col("peak").cast("double")), 6)
          .as("drawdown"))
  }

  def drawdown(s: SparkSession, d: String): DataFrame =
    tsDrawdown(Tables.events(s, d))

  // ---- ts_rsi: Cutler's 14-period relative strength index ---------------

  /** Cutler's RSI over the hourly 'view' feed: rolling 14-bucket sums
    * of up-moves and down-moves of the hourly mean, RSI = 100·SG/(SG+SL).
    * Cutler's variant (simple moving sums) over Wilder's deliberately:
    * the fold is pure integer arithmetic on the e6 micro-unit deltas —
    * window sums of BIGINTs, engines cannot disagree — where Wilder's
    * exponential recursion would need the containerized-fold treatment
    * for a marginal smoothing difference. Emitted only when the full 14
    * deltas exist (count guard, not null-poisoning). Flat markets
    * (SG = SL = 0) emit NULL RSI in both engines via the 0/0 guard.
    */
  def tsRsi(events: DataFrame, periods: Int = 14): DataFrame = {
    val hourly = events.filter(col("event_type") === "view")
      .groupBy((unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(3600000000L)))
        .as("hour_us"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("vu", floor(col("v") * 1e6 + 0.5).cast("long"))
    val wLag = Window.orderBy("hour_us")
    val wRoll = Window.orderBy("hour_us").rowsBetween(-(periods - 1), 0)
    hourly
      .withColumn("delta", col("vu") - lag(col("vu"), 1).over(wLag))
      .filter(col("delta").isNotNull)
      .withColumn("gain", when(col("delta") > 0, col("delta")).otherwise(lit(0L)))
      .withColumn("loss", when(col("delta") < 0, -col("delta")).otherwise(lit(0L)))
      .withColumn("sg", sum(col("gain")).over(wRoll))
      .withColumn("sl", sum(col("loss")).over(wRoll))
      .withColumn("nd", count(lit(1)).over(wRoll))
      .filter(col("nd") === periods)
      .select(col("hour_us"), col("sg"), col("sl"),
        rnd(when(col("sg") + col("sl") > 0,
          lit(100.0) * col("sg") / (col("sg") + col("sl")).cast("double")), 6).as("rsi"))
  }

  def rsi(s: SparkSession, d: String): DataFrame =
    tsRsi(Tables.events(s, d))

  // ---- events_cooccur: event-type co-occurrence lift --------------------

  /** Market-basket lift over event types: for each unordered type pair,
    * how many users fired both, and the lift n_ab·N / (n_a·n_b) — the
    * "does A predict B" screen run before any funnel or attribution
    * model assumes a link. Per-user distinct types first (≤ |vocab| rows
    * per user — the pair expansion is C(|vocab|,2)-bounded per user, no
    * heavy-user quadratic like raw-event self-joins), then one
    * self-equi-join on user_id, a pair-keyed count, and two
    * vocabulary-sized marginal joins. Lift is one double expression over
    * exact BIGINTs, rounded at the edge.
    *
    * Scale: everything after the first distinct is vocabulary-sized or
    * user-keyed equi-join; the final pair table is |vocab|² rows at any
    * corpus size. The marginal/total frames are broadcast.
    */
  def eventsCooccur(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val nUsers = broadcast(ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users")))
    val marg = broadcast(ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t")))
    val pairs = ut.as("a")
      .join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(marg.select(col("event_type").as("type_a"), col("n_t").as("n_a")), "type_a")
      .join(marg.select(col("event_type").as("type_b"), col("n_t").as("n_b")), "type_b")
      .crossJoin(nUsers)
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
        rnd(col("n_ab") * col("n_users") / (col("n_a") * col("n_b")).cast("double"), 6)
          .as("lift"))
  }

  def cooccur(s: SparkSession, d: String): DataFrame =
    eventsCooccur(Tables.events(s, d))

  // ---- events_transition: first-order Markov transition matrix ----------

  /** First-order behavior model: P(next event type | current) with the
    * supporting counts — `events_paths` surfaces the dominant 3-step
    * sequences; this is the full one-step transition matrix a
    * simulation, anomaly screen, or next-action model consumes. Per
    * user one `lead` over the (ts, event_id) order (the shared
    * sessionize window — users independent, no global sort), then a
    * |vocab|²-bounded pair count; row totals come from RE-AGGREGATING
    * the pair table (vocabulary-sized), not a second pass over events.
    * P is one exact-BIGINT ratio rounded at the edge.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
    val rowTot = pairs.groupBy(col("cur")).agg(sum(col("n")).as("row_n"))
    pairs.join(rowTot, "cur")
      .select(col("cur"), col("nxt"), col("n"),
        rnd(col("n") / col("row_n").cast("double"), 6).as("p"))
  }

  def transition(s: SparkSession, d: String): DataFrame =
    transitionMatrix(Tables.events(s, d))

  /** events_markov_stationary — the stationary distribution π of the
    * `events_transition` chain by `MarkovIters` synchronous power-
    * iteration rounds from a uniform start (round 10): where the
    * transition row answers "what happens NEXT", π answers "where does
    * the behavior SETTLE" — the long-run type mix a capacity model or
    * simulator consumes. Each round is one join + one keyed sum over
    * the |types|²-bounded matrix (`graph_pagerank`'s shape on a far
    * smaller graph — the matrix is vocabulary-sized, so the loop costs
    * nothing at any corpus size; the corpus-scale work happens once in
    * `transitionMatrix`'s pair count). π is RENORMALIZED each round
    * (one broadcast one-row sum, the pageRank node-count discipline):
    * the 6-dp-rounded matrix rows don't sum to exactly 1, and mass
    * stepping onto a type with no outgoing observations would
    * otherwise leak; π is rounded to 12 dp per round so both engines
    * iterate identical doubles (the oracle unrolls the same rounds).
    */
  private[graft] val MarkovIters = 10

  def markovStationary(events: DataFrame): DataFrame = {
    // the matrix is truncated ONCE: it is the only corpus-scale subtree,
    // and a lazy pm would be re-derived from raw events by every one of
    // the MarkovIters round jobs (measured 6.5 s/row at sf0.1 → 10×
    // the window-lead pair count; checkpointed ≤ |types|² rows it is
    // one pass + ten trivial round jobs)
    val pm = Ckpt.truncate(
      transitionMatrix(events).select(col("cur"), col("nxt"), col("p")))
    val states = pm.select(col("cur").as("state")).distinct()
    var pi = states
      .crossJoin(broadcast(states.agg(count(lit(1)).as("k"))))
      .select(col("state"), (lit(1.0) / col("k")).as("pi"))
    // round r−1's stepped checkpoint has no reader once round r has
    // materialized (round 14, VERDICT r13 #2 — this loop left 11
    // resident blocksets, the suite's worst; the declared row's
    // `Ckpt.scopedQ` wrap catches the tail, this bounds the IN-LOOP
    // residency to one round like every other power iteration here)
    var prevStepped: DataFrame = null
    for (_ <- 1 to MarkovIters) {
      // truncated per round: `stepped` feeds BOTH the renormalizing
      // total and the next π, so a lazy tree would double every round
      // (the Ckpt scaladoc's exponential-analysis trap — this loop hung
      // Catalyst before truncation despite the 6-row frames)
      // repartition(1) before the checkpoint: the frame is |types| rows,
      // and materializing it as 32 shuffle partitions × 10 rounds × 2
      // bench runs is pure task-scheduling overhead (measured 5.8 s/row
      // at sf0.1 — dropping to one partition per round removes ~97 % of
      // the tasks; the corpus-scale work all happened in transitionMatrix)
      val stepped = Ckpt.truncate(
        pi.join(pm, pi("state") === pm("cur"))
          .groupBy(col("nxt"))
          .agg(sum(col("pi") * col("p")).as("w"))
          .repartition(1))
      if (prevStepped != null) Ckpt.release(prevStepped)
      prevStepped = stepped
      pi = stepped
        .crossJoin(broadcast(stepped.agg(sum(col("w")).as("tw"))))
        .select(col("nxt").as("state"), rnd(col("w") / col("tw"), 12).as("pi"))
    }
    pi.select(col("state"), rnd(col("pi"), 6).as("pi"))
  }

  def markovStationaryQuery(s: SparkSession, d: String): DataFrame =
    markovStationary(Tables.events(s, d))

  // ---- events_time_to_convert: signup→purchase latency distribution -----

  /** Conversion-latency report: for each user with a signup, the time
    * to their FIRST purchase at-or-after it; one summary row with the
    * signup cohort size, converted count, and the min / discrete-rank
    * median / max latency — the growth metric `events_funnel` (did
    * they?) and `events_attribution` (what drove it?) sit beside
    * (how LONG did it take?). Latencies are BIGINT micros end to end;
    * the median is the rank-⌊(n+1)/2⌋ SELECTION under (delta, user_id)
    * — the `outlier_iqr` discipline, no interpolation, no float.
    *
    * Scale: two filtered user-keyed aggregates + one user equi-join
    * (the purchases side pre-aggregates to first-at-or-after via
    * min-on-filtered-join — never a per-user sort); the median
    * selection sorts the CONVERTED-USER table, one row per user.
    */
  def timeToConvert(events: DataFrame): DataFrame = {
    val su = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("su_us"))
    val pu = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pu_us"))
    val conv = su.join(pu, "user_id")
      .filter(col("pu_us") >= col("su_us"))
      .groupBy(col("user_id"), col("su_us")).agg(min(col("pu_us")).as("first_pu"))
      .select(col("user_id"), (col("first_pu") - col("su_us")).as("delta_us"))
    val nSignup = broadcast(su.agg(count(lit(1)).as("n_signup")))
    val nConv = broadcast(conv.agg(count(lit(1)).as("n_converted"),
      min(col("delta_us")).as("min_us"), max(col("delta_us")).as("max_us")))
    val med = broadcast(conv.crossJoin(nConv.select(col("n_converted").as("nc")))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("delta_us"), col("user_id"))))
      .filter(col("rk") === expr("(nc + 1) div 2"))
      .select(col("delta_us").as("median_us")))
    nSignup.crossJoin(nConv).crossJoin(med)
      .select(col("n_signup"), col("n_converted"), col("min_us"),
        col("median_us"), col("max_us"))
  }

  def timeToConvertQuery(s: SparkSession, d: String): DataFrame =
    timeToConvert(Tables.events(s, d))

  // ---- events_stickiness: DAU / trailing-7-day WAU ----------------------

  /** The product-health ratio DAU/WAU per active day. The WAU side is
    * the interesting plan: a trailing-7-day DISTINCT count per day is
    * a rolling set-union no window aggregate expresses cheaply — the
    * standard rewrite EXPLODES each (user, day) activity row into the
    * 7 report days it contributes to, dedups, and counts: O(7·user-days)
    * map work, two hash aggregates, no window at all (the
    * `events_retention` (user, week)-dedup-first discipline, then the
    * offset trick). Integer day arithmetic end to end; one exact ratio
    * rounded at the edge.
    */
  def eventsStickiness(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        rnd(col("dau") / col("wau").cast("double"), 6).as("stickiness"))
  }

  def stickiness(s: SparkSession, d: String): DataFrame =
    eventsStickiness(Tables.events(s, d))

  // ---- events_error_rate: hourly error rate with Wilson bounds ----------

  /** Per-hour error rate with the 95 % Wilson score interval — the
    * ops-health row an alerting rule should read INSTEAD of the raw
    * rate: at 3 events/hour a single error is "33 % errors" but the
    * Wilson lower bound stays near zero, which is exactly the
    * low-volume false-page the interval exists to suppress. Counts are
    * exact BIGINTs from one hour-keyed aggregate; the interval is one
    * closed-form double expression per row (both engines evaluate the
    * identical formula over identical integers — no iteration, no
    * sampling). z = 1.96 stated once, shared with the oracle.
    */
  private val WilsonZ = "1.96e0"

  def errorRateHourly(events: DataFrame): DataFrame =
    wilsonBounds(events
      .select((unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(3600000000L)))
        .as("hour_us"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
      .groupBy(col("hour_us"))
      .agg(count(lit(1)).as("n"), sum(col("is_err")).as("n_err")))

  /** The Wilson-interval projection over an (hour_us, n, n_err) counts
    * frame — shared by the batch row above and the watermarked
    * streaming twin (`Streaming.errorRateStream`), which builds the
    * same counts through a `window()` aggregate so late data is
    * governed by the watermark instead of silently mutating history.
    */
  private[graft] def wilsonBounds(hourly: DataFrame): DataFrame =
    hourly.select(col("hour_us"), col("n"), col("n_err"),
      rnd(expr(
        s"""(n_err / cast(n AS double) + $WilsonZ * $WilsonZ / (2e0 * n)
           |  - $WilsonZ * sqrt(n_err / cast(n AS double) * (1e0 - n_err / cast(n AS double)) / n
           |    + $WilsonZ * $WilsonZ / (4e0 * n * n)))
           | / (1e0 + $WilsonZ * $WilsonZ / n)""".stripMargin), 6).as("wilson_lo"),
      rnd(expr(
        s"""(n_err / cast(n AS double) + $WilsonZ * $WilsonZ / (2e0 * n)
           |  + $WilsonZ * sqrt(n_err / cast(n AS double) * (1e0 - n_err / cast(n AS double)) / n
           |    + $WilsonZ * $WilsonZ / (4e0 * n * n)))
           | / (1e0 + $WilsonZ * $WilsonZ / n)""".stripMargin), 6).as("wilson_hi"))

  def errorRate(s: SparkSession, d: String): DataFrame =
    errorRateHourly(Tables.events(s, d))

  /** events_slo_burn — multi-window SLO burn rate (round 9; the
    * Google-SRE alerting pattern next to `events_error_rate`'s Wilson
    * row): per hour, the 1 h and rolling 6 h error rates expressed as
    * BURN RATES (error rate ÷ error budget, budget = 1 − SLO), plus
    * the two-window alert flag — fast burn must show in BOTH windows
    * before paging (the short window catches the spike, the long one
    * suppresses the blip). Rates are exact-integer ratios: the 6 h
    * window sums BIGINT counts (rowsBetween −5..0 over the
    * calendar-bounded hourly frame — the `quality_ks_drift` cumulative
    * discipline: window input is hours, never events), and each burn
    * is one closing double division. SLO/thresholds are declared
    * constants shared with the oracle. The first 5 hours still emit
    * (their 6 h window is a partial prefix — standard for a burn
    * monitor warming up).
    *
    * POPULATED-HOURS SEMANTICS (ADVICE r9): the "6 h" window is
    * rowsBetween(−5, 0) over hours that HAVE events — across a total
    * traffic gap (zero events for an hour) the slow window spans more
    * than 6 wall-clock hours, so recovery after an outage gap reads
    * slower than a calendar window would. This is deliberate: an
    * hour with n = 0 has an undefined error RATE (0/0), and
    * rate-of-populated-hours is what the exact-integer form and the
    * streaming twin's 5-entry ring both compute (batch ≡ stream pinned
    * either way). Callers needing strict calendar hours should densify
    * the hourly frame first (`tsResample`'s calendar spine) with an
    * explicit n = 0 convention.
    */
  private[graft] val SloTarget = "0.75e0"      // synthetic feed: ~20 % 'error'
  private[graft] val BurnFast = "1.2e0"        // 1 h burn must exceed
  private[graft] val BurnSlow = "1.0e0"        // 6 h burn must exceed

  def sloBurn(events: DataFrame): DataFrame = {
    val hourly = events
      .select((unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(3600000000L)))
        .as("hour_us"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
      .groupBy(col("hour_us"))
      .agg(count(lit(1)).as("n"), sum(col("is_err")).as("n_err"))
    val w6 = Window.orderBy(col("hour_us")).rowsBetween(-5, 0)
    hourly
      .withColumn("n6", sum(col("n")).over(w6))
      .withColumn("e6", sum(col("n_err")).over(w6))
      .select(col("hour_us"), col("n"), col("n_err"),
        rnd(expr(s"(n_err / cast(n AS double)) / (1e0 - $SloTarget)"), 6).as("burn_1h"),
        rnd(expr(s"(e6 / cast(n6 AS double)) / (1e0 - $SloTarget)"), 6).as("burn_6h"),
        expr(s"(n_err / cast(n AS double)) / (1e0 - $SloTarget) > $BurnFast AND " +
          s"(e6 / cast(n6 AS double)) / (1e0 - $SloTarget) > $BurnSlow").as("page"))
  }

  def sloBurnQuery(s: SparkSession, d: String): DataFrame =
    sloBurn(Tables.events(s, d))

  // ---- events_power_users: Pareto concentration by decile ---------------

  /** Event-volume concentration: per-user counts cut into deciles (1 =
    * heaviest), each decile's user count, event total, and share of all
    * events — the "do 10 % of users generate half the traffic" read-out
    * that sizes rate limits and capacity. The decile cut is a global
    * ntile over the USER-cardinality frame (one row per user — already
    * aggregated, so the single-partition window holds u rows, not
    * events; the `events_rfm` note), ordered (n DESC, user_id) so the
    * cut is a total order. Counts exact; the one double is the share.
    */
  def eventsPowerUsers(events: DataFrame): DataFrame = {
    val per = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    // decile = closed-form ntile over a DISTRIBUTED global rank
    // (Rank.globalRank, a Rank.prefixSum count): the user frame scales
    // with the corpus, so the previous single-partition ntile window
    // was this family's one remaining corpus-scaled global sort. Same
    // (n DESC, user_id) total order, identical tiles (oracle unchanged,
    // hash-green at 3 SFs).
    val tot = broadcast(per.agg(count(lit(1)).as("n_total")))
    Rank.globalRank(per, Seq(col("n").desc, col("user_id")))
      .crossJoin(tot)
      .withColumn("decile", Rank.ntileOf(col("grank"), col("n_total"), 10).cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("events"))
      .withColumn("share",
        rnd(col("events") / sum(col("events")).over(Window.partitionBy()), 6))
  }

  def powerUsers(s: SparkSession, d: String): DataFrame =
    eventsPowerUsers(Tables.events(s, d))

  // ---- events_churn: week-over-week active/retained/new/churned ---------

  /** Week-over-week lifecycle accounting: per epoch-week (µs-day div 7 —
    * pure integer arithmetic, no calendar), how many users were active,
    * how many of them were already active the prior week (retained), how
    * many are new to that week, and how many of the PRIOR week's actives
    * vanished (churned). retention_rate = retained / prev_active. Shape:
    * one distinct on (user, week) — the only events-cardinality pass —
    * then a self-equi-join on (user, week−1) and two week-keyed
    * aggregates; at 100 TB every step shuffles on user or week keys,
    * never wider.
    */
  def eventsChurn(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000 div 7").as("week"))
      .distinct()
    val prev = uw.select(col("user_id").as("p_user"), (col("week") + 1).as("p_week"))
    val flagged = uw.join(prev,
        col("user_id") === col("p_user") && col("week") === col("p_week"), "left")
      .select(col("week"), col("user_id"), col("p_user").isNotNull.as("was_prev"))
    val perWeek = flagged.groupBy(col("week"))
      .agg(count(lit(1)).as("active"),
        sum(when(col("was_prev"), 1L).otherwise(0L)).as("retained"),
        sum(when(col("was_prev"), 0L).otherwise(1L)).as("new_users"))
    val prevActive = perWeek.select((col("week") + 1).as("week"),
      col("active").as("prev_active"))
    perWeek.join(prevActive, Seq("week"), "left")
      .select(col("week"), col("active"), col("retained"), col("new_users"),
        coalesce(col("prev_active") - col("retained"), lit(0L)).as("churned"),
        rnd(col("retained") / col("prev_active").cast("double"), 6).as("retention_rate"))
  }

  def churn(s: SparkSession, d: String): DataFrame =
    eventsChurn(Tables.events(s, d))

  // ---- events_hourly_profile: day-of-week × hour-of-day heatmap ---------

  /** The traffic heatmap behind every on-call staffing chart: per
    * (day-of-week, hour-of-day) cell, event count, share of all events,
    * and mean event value in exact e6 micro-units until the one closing
    * divide. Day-of-week from epoch days ((d+4) % 7, 0=Sunday — epoch
    * day 0 was a Thursday); hour from µs — integer arithmetic both
    * engines, immune to session-timezone drift. One hash aggregate over
    * a 168-cell key space: map-side partials collapse it regardless of
    * corpus size.
    */
  /** The 168-cell (dow, hour) counts aggregate — shared by the batch
    * read-out below and the streaming twin
    * (`Streaming.hourlyProfileStream`, which runs exactly this
    * aggregate in update mode: state is bounded by the 168-cell KEY
    * SPACE, not stream length, so no watermark is needed — the profile
    * deliberately accumulates all history).
    */
  private[graft] def hourlyProfileCells(events: DataFrame): DataFrame =
    events
      .select(expr("pmod(unix_micros(ts) div 86400000000 + 4, 7)").as("dow"),
        expr("unix_micros(ts) div 3600000000 % 24").as("hour"),
        floor(col("value") * 1e6 + 0.5).cast("long").as("vu"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"), sum(col("vu")).as("svu"))

  def eventsHourlyProfile(events: DataFrame): DataFrame = {
    val per = hourlyProfileCells(events)
    per.select(col("dow"), col("hour"), col("n"),
      rnd(col("n") / sum(col("n")).over(Window.partitionBy()).cast("double"), 6).as("share"),
      rnd(col("svu") / col("n") / 1e6, 6).as("avg_value"))
  }

  def hourlyProfile(s: SparkSession, d: String): DataFrame =
    eventsHourlyProfile(Tables.events(s, d))

  // ---- ts_macd: MACD fast/slow/signal EWMA triplet ----------------------

  /** One seeded EWMA fold over a keyed (bucket, value) frame — the
    * `ewmaHourly` recursion with the value column and smoothing factor
    * parameterized, so MACD's three folds share one definition.
    * Factors come from decimal STRINGS (the `ewmaHourly` parity rule:
    * `1 − 0.15` in binary doubles is one ulp off the `0.85` the oracle
    * literal parses to).
    */
  private def ewmaFoldOf(keyed: DataFrame, alpha: String, out: String): DataFrame = {
    val compl = (BigDecimal(1) - BigDecimal(alpha)).toString
    keyed.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("hs"), col("v")))).as("xs"))
      .select(col("event_type"), explode(expr(
        s"""aggregate(xs, cast(array() as array<struct<hs:bigint,e:double>>),
           |  (acc, x) -> acc || array(struct(x.hs as hs,
           |    if(size(acc) = 0, x.v,
           |       ${alpha}D * x.v + ${compl}D * element_at(acc, -1).e) as e)))"""
          .stripMargin)).as("s"))
      .select(col("event_type"), col("s.hs").as("hs"), col("s.e").as(out))
  }

  /** ts_macd — the MACD trend indicator per event type over hourly
    * means: fast EWMA − slow EWMA, plus a signal EWMA OF the macd
    * series and the histogram (macd − signal). Smoothing factors are
    * EXACT decimal literals (0.15/0.075/0.2) rather than the classic
    * 2/(n+1) values — 2/13 is a non-terminating decimal whose
    * two-engine parse parity is exactly the hazard the decimal-string
    * discipline exists to avoid. Three folds + two (type, hour)
    * equi-joins; per-key state is calendar-bounded like `ts_ewma`, and
    * the linear `ewmaScan` container remains the multi-year path.
    */
  def macdHourly(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(avg(col("value")).as("v"))
    val fast = ewmaFoldOf(b, "0.15", "ef")
    val slow = ewmaFoldOf(b, "0.075", "es")
    val macd = fast.join(slow, Seq("event_type", "hs"))
      .select(col("event_type"), col("hs"), (col("ef") - col("es")).as("v"))
    val signal = ewmaFoldOf(macd, "0.2", "sig")
    macd.withColumnRenamed("v", "macd").join(signal, Seq("event_type", "hs"))
      .select(col("event_type"), col("hs"), rnd(col("macd"), 6).as("macd"),
        rnd(col("sig"), 6).as("signal"), rnd(col("macd") - col("sig"), 6).as("hist"))
  }

  def macd(s: SparkSession, d: String): DataFrame = macdHourly(Tables.events(s, d))

  // ---- events_cohort_ltv: weekly cohort lifetime-value matrix -----------

  /** events_cohort_ltv — the cohort LTV triangle: users bucketed by
    * first-seen week, their spend accumulated per week-of-age. The
    * canonical growth read-out ("is week-3 revenue per cohort
    * improving"). Cohort assignment is ONE per-user min aggregate
    * joined back (no window over the event stream); ages are exact
    * integer week arithmetic on epoch seconds; value sums in exact e2
    * integer units (events.value is 2-decimal, checked like the TPC-H
    * money columns). Weeks ride as epoch-second BIGINTs — raw
    * timestamp output columns are a cross-engine hazard (Tables.events
    * gotcha), epoch seconds are not.
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val wk = date_trunc("week", col("ts")).cast("long")
    val base = events.select(col("user_id"), wk.as("wk"),
      floor(col("value") * 100 + 0.5).cast("long").as("v_e2"))
    val cohort = base.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
    base.join(cohort, "user_id")
      .groupBy(col("cw").as("cohort_week"),
        ((col("wk") - col("cw")) / 604800L).cast("long").as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n_events"),
        sum(col("v_e2")).as("v_e2"))
      .select(col("cohort_week"), col("age_weeks"), col("users"), col("n_events"),
        rnd(col("v_e2") / 1e2, 2).as("ltv"))
  }

  def cohortLtvQuery(s: SparkSession, d: String): DataFrame =
    cohortLtv(Tables.events(s, d))

  /** ts_winsorize — per-type p5/p95 winsorization of event values: the
    * robust-statistics preprocessing that caps (not drops) tail
    * outliers before any mean-based aggregate. Fences are DISCRETE
    * rank selections over the (value_e2, event_id) total order (the
    * `ts_mad` rule — no interpolation, so both engines pick the
    * identical element), found with two rank comparisons against
    * ceil-free integer arithmetic: rank r is the p-th percentile iff
    * 20·r ≥ n and 20·(r−1) < n (p5; mirrored for p95). Values clip in
    * exact e2 integers; one window for ranks + one ≤2-row-per-type
    * broadcast join back.
    */
  // SCALE SHAPE: a per-row rank window would partition on event_type —
  // an O(1)-cardinality key serializing the whole stream through a
  // handful of window partitions (the seq_pack hazard class). The
  // fences only need the VALUE HISTOGRAM: one map-side-combining
  // (type, value) count, a cumulative window over that
  // value-domain-bounded frame, then fences as min-value-where-
  // cum·20 ≥ {n, 19n} (≡ the rank rule: the row at rank ⌈p·n⌉ carries
  // the smallest value whose cumulative count reaches p·n). The clip
  // itself is a map + ≤|types|-row broadcast join. Oracle keeps the
  // row-rank window form — identical fences by the equivalence above.
  def winsorize(events: DataFrame): DataFrame = {
    val ve2 = floor(col("value") * 100 + 0.5).cast("long")
    val base = events.select(col("event_id"), col("event_type"), ve2.as("ve2"))
    val hist = base.groupBy(col("event_type"), col("ve2")).agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("ve2"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = Window.partitionBy(col("event_type"))
    val fences = hist
      .withColumn("cumc", sum(col("c")).over(cum))
      .withColumn("n", sum(col("c")).over(g))
      .groupBy(col("event_type"))
      .agg(min(when(col("cumc") * 20 >= col("n"), col("ve2"))).as("lo_e2"),
        min(when(col("cumc") * 20 >= col("n") * 19, col("ve2"))).as("hi_e2"))
    base.join(broadcast(fences), "event_type")
      .select(col("event_id"), col("event_type"),
        rnd(col("ve2") / 1e2, 2).as("value"),
        rnd(greatest(col("lo_e2"), least(col("hi_e2"), col("ve2"))) / 1e2, 2)
          .as("clipped"))
  }

  def winsorizeQuery(s: SparkSession, d: String): DataFrame =
    winsorize(Tables.events(s, d))

  /** ts_theil_sen — Theil-Sen robust trend estimate per event type:
    * the median of all pairwise slopes over the hourly-mean series, the
    * trend statistic a single outlier hour cannot move (OLS can be
    * dragged arbitrarily; the breakdown point here is 29%). Pairs are
    * O(T²) in the BUCKET count — calendar-bounded like every fold in
    * this family, never corpus-row-bounded (2 M events in a month is
    * still 720 buckets = 259 k pairs/type). Slopes are
    * (Δe6-int / Δhour-int) — identical double divisions of exact
    * integers in both engines, so per-slope-value counts (and the
    * discrete lower-median rule 2·cum ≥ n, the `ts_mad` rule) cannot
    * diverge cross-engine.
    *
    * SCALE SHAPE (round-9 rewrite, VERDICT r8 #2 — the
    * `agg_weighted_median` precedent applied to the pair table): the
    * old form ranked ALL O(T²) pairs through a window partitioned by
    * event_type — an O(1)-cardinality key, so a 10-year feed's 3.8 B
    * pairs/type would sort on ONE task. Now the median is a two-level
    * DISTRIBUTED RANK SELECTION, and no window ever sees the pair
    * stream: (1) pairs collapse to per-(type, slope-value) counts —
    * one map-side-combining aggregate on a high-cardinality key,
    * checkpointed so both selection levels read it once; (2) a
    * `TheilSenBuckets`-bin histogram over the per-type slope range
    * locates the median's bucket (cumulative window over ≤ buckets
    * rows/type — bounded by the BIN COUNT at any corpus size); (3) the
    * in-bucket cumulative (window over the median bucket's distinct
    * slopes, ~distinct/buckets rows in expectation) picks the smallest
    * slope with 2·(below + cum) ≥ n. Identical output: the old
    * min-slope-where-2·rank≥n only ever read value-run boundaries, so
    * rank selection over per-value counts is the same statistic
    * (TimeSeriesSpec pins ≡ the window form). The oracle keeps its
    * row-rank window shape.
    */
  private[graft] val TheilSenBuckets = 4096

  def theilSen(events: DataFrame): DataFrame = theilSenImpl(events, 0)

  /** SUBSAMPLED Theil-Sen — the follow-up the round-10 composite sweep
    * named: the distributed rank selection bounded the RANKING, but pair
    * GENERATION is inherently O(T²) in the hourly-bucket count, so a
    * feed whose calendar grows 10× pays 100× in the pair self-join
    * (SCALE.md round 10 sweep: 12.6 s at 2× → 226.5 s at 10×, 18× wall for 5×
    * data). The standard scale move is POINT subsampling (Theil-Sen
    * over a random subset of points is a consistent estimator of the
    * same median slope — its breakdown/efficiency degrade smoothly with
    * the subsample size): `maxBucketsPerType` caps the per-type hourly
    * series by deterministic hash-mod refinement
    * (`u16(md5(type_hs)) % ceil(T/max) = 0` — the md5 hex-prefix
    * uniform, the `stats_bootstrap_ci` cross-engine trick, applied with
    * the `harmonicPerSeed` maxSeeds discipline), after which pairs ≤
    * max²/2 regardless of calendar span. `maxBucketsPerType ≥ T` is the
    * identity (spec-pinned). Round 11 DECLARES the sampled form as its
    * own oracle-gated row (`ts_theil_sen_sampled`, budget
    * `TheilSenSampleBuckets`) — the harmonic/harmonic_hll division of
    * labor applied to the one superlinear exact plan: the exact row
    * stays the verification twin, this row is the one to run when the
    * calendar grows 100×. n_pairs reports the SAMPLED pair count
    * (honest denominator, not a fake exact one).
    */
  def theilSenSampled(events: DataFrame, maxBucketsPerType: Int): DataFrame =
    theilSenImpl(events, maxBucketsPerType)

  /** Declared sampling budget: a week of hourly buckets per type —
    * ≥ 168 buckets keeps ≥ ~14k pairs per type (tight slope CIs) while
    * bounding the pair join at 168²/2 ≈ 14k rows per type FOREVER. */
  private[graft] val TheilSenSampleBuckets = 168

  /** Theil-Sen pair-join salt: the integral hour index of bucket `hs`
    * mod k (`hs` itself is a multiple of 3600, near-constant mod k). */
  private[graft] def theilSenSalt(hs: Column, k: Int): Column =
    pmod(call_function("div", hs, lit(3600L)), lit(k.toLong))

  private def theilSenImpl(events: DataFrame, maxBucketsPerType: Int): DataFrame = {
    val bAll = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .select(col("event_type"), col("hs"),
        floor(col("v") * 1e6 + 0.5).cast("long").as("vu"))
    val b =
      if (maxBucketsPerType <= 0) bAll
      else {
        val m = bAll.groupBy(col("event_type")).agg(count(lit(1)).as("t"))
          .select(col("event_type"), greatest(lit(1L),
            ceil(col("t") / maxBucketsPerType.toDouble).cast("long")).as("m"))
        val u16 = conv(substring(md5(concat(col("event_type"), lit("_"),
          col("hs").cast("string"))), 1, 4), 16, 10).cast("long")
        bAll.join(broadcast(m), "event_type")
          .filter(pmod(u16, col("m")) === 0)
          .select(col("event_type"), col("hs"), col("vu"))
      }
    // SALTED pair join on the UNBOUNDED path only (round 17, guide §2.5
    // — hot keys in joins): `event_type` is an O(1)-cardinality key, so
    // the exact row's pair self-join hashed every type's whole bucket
    // series into one partition and the O(T²) pair generation +
    // map-side slope counts ran on ≤ |types| tasks (OPTIMIZATION_r17.md change 2, at
    // sf0.1-local[32]: one 1.2 s single-task stage = a third of the
    // row) — and at a 10-year calendar that one task generates 3.8 B
    // pairs. Standard salt: the left side keys each bucket by
    // `theilSenSalt`, the right side is replicated k ways, the join keys
    // on (event_type, salt) — each (h1, h2) pair still meets EXACTLY
    // once (h1 determines the one replica it can match), so the pair
    // multiset and every slope value are unchanged. k rides the
    // session's shuffle parallelism (scale-adaptive, never a local
    // constant); replication cost is T·k rows — calendar-bounded T
    // keeps it trivial next to the T²/k pairs each task now generates.
    // The explicit repartition pins the width: AQE would otherwise
    // coalesce the few-MB exchange back to 1-2 partitions and re-create
    // the skew. The SAMPLED path keeps the unsalted join: its budget
    // bounds pairs at maxBucketsPerType²/2 per type FOREVER (that row
    // exists to be the at-scale form), and the full bench measured the
    // salt machinery as pure overhead there (+0.5 s on a 0.7 s row).
    val nSalt =
      if (maxBucketsPerType > 0) 1
      else graft.Session.width(events)
    val (a, c) =
      if (nSalt <= 1)
        (b.select(col("event_type"), col("hs").as("h1"), col("vu").as("v1")),
          b.select(col("event_type"), col("hs").as("h2"), col("vu").as("v2")))
      else
        (b.select(col("event_type"), col("hs").as("h1"), col("vu").as("v1"),
            theilSenSalt(col("hs"), nSalt).as("ps"))
          .repartition(nSalt, col("event_type"), col("ps")),
          b.select(col("event_type"), col("hs").as("h2"), col("vu").as("v2"))
            .withColumn("ps", explode(array((0 until nSalt).map(i => lit(i.toLong)): _*)))
            .repartition(nSalt, col("event_type"), col("ps")))
    val joinKeys = if (nSalt <= 1) Seq("event_type") else Seq("event_type", "ps")
    val pairs = a.join(c, joinKeys).filter(col("h1") < col("h2"))
      .select(col("event_type"),
        ((col("v2") - col("v1")) / ((col("h2") - col("h1")) / lit(3600L))).as("slope"))
    // per-value counts: the ONLY pass over the pair stream (truncated —
    // the bucket histogram and the in-bucket selection both read it)
    val cnt = pairs.groupBy(col("event_type"), col("slope"))
      .agg(count(lit(1)).as("c")).truncated()
    val rng = cnt.groupBy(col("event_type"))
      .agg(min(col("slope")).as("lo"), max(col("slope")).as("hi"), sum(col("c")).as("n"))
    // bucket index from identical doubles on both reads of cnt
    val bkt = when(col("hi") === col("lo"), lit(0)).otherwise(
      least(floor((col("slope") - col("lo")) / (col("hi") - col("lo")) * TheilSenBuckets),
        lit(TheilSenBuckets - 1))).cast("int")
    val hist = cnt.join(broadcast(rng), "event_type")
      .select(col("event_type"), bkt.as("bk"), col("c"), col("n"))
      .groupBy(col("event_type"), col("bk"))
      .agg(sum(col("c")).as("bc"), max(col("n")).as("n"))
    val cumB = Window.partitionBy(col("event_type")).orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = hist.withColumn("cumc", sum(col("bc")).over(cumB))
    // the median's bucket: first bucket where 2·cum ≥ n; `below` = mass
    // strictly before it = cum − that bucket's own count
    val target = withCum.filter(col("cumc") * 2 >= col("n"))
      .groupBy(col("event_type"))
      .agg(min_by(struct(col("bk"), (col("cumc") - col("bc")).as("below")), col("bk")).as("t"))
      .select(col("event_type"), col("t.bk").as("tb"), col("t.below").as("below"))
    val cumS = Window.partitionBy(col("event_type")).orderBy(col("slope"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cnt.join(broadcast(rng), "event_type")
      .select(col("event_type"), col("slope"), col("c"), bkt.as("bk"), col("n"))
      .join(broadcast(target), "event_type")
      .filter(col("bk") === col("tb"))
      .withColumn("cums", sum(col("c")).over(cumS))
      .filter((col("below") + col("cums")) * 2 >= col("n"))
      .groupBy(col("event_type"))
      .agg(min(col("slope")).as("med"), max(col("n")).as("n_pairs"))
      .select(col("event_type"), col("n_pairs"),
        rnd(col("med") / 1e6, 6).as("slope_per_hour"))
  }

  def theilSenQuery(s: SparkSession, d: String): DataFrame =
    theilSen(Tables.events(s, d))

  def theilSenSampledQuery(s: SparkSession, d: String): DataFrame =
    theilSenSampled(Tables.events(s, d), TheilSenSampleBuckets)

  /** events_forecast_naive — seasonal-naive backtest per event type:
    * forecast(h) = value(h − 24h), scored by MAE over every hour with
    * a day-earlier observation. The canonical forecasting BASELINE —
    * any model that can't beat seasonal-naive is noise, so this row is
    * the yardstick every forecast evaluation starts from. Shape: one
    * hourly aggregate + one self EQUI-join on the lagged hour key (no
    * window, no sequential scan — the lag is an exact epoch-second
    * offset); errors are exact e6-integer |Δ|, summed as BIGINTs with
    * ONE closing division.
    */
  def forecastNaive(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .select(col("event_type"), col("hs"),
        floor(col("v") * 1e6 + 0.5).cast("long").as("vu"))
    val prev = b.select(col("event_type"), (col("hs") + 86400L).as("hs"),
      col("vu").as("vu_prev"))
    b.join(prev, Seq("event_type", "hs"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("vu") - col("vu_prev"))).as("ae"))
      .select(col("event_type"), col("n"),
        rnd(col("ae") / col("n") / 1e6, 6).as("mae"))
  }

  def forecastNaiveQuery(s: SparkSession, d: String): DataFrame =
    forecastNaive(Tables.events(s, d))

  // ---- ts_sax: symbolic aggregate approximation -------------------------

  /** ts_sax — SAX symbolization of each event-type's hourly series: the
    * classic motif/shape index for massive time-series stores (Lin et
    * al.). Hourly means (edge-rounded, the `ts_resample` bucket) →
    * 8-hour PAA segments on epoch-aligned boundaries → z-score against
    * the series' own mean/σ (explicit sums, `zipfRegression` rule) →
    * 4-letter Gaussian-breakpoint alphabet (±0.6745, 0) → one 3-symbol
    * word per epoch day. The breakpoint CASE compares the ROUNDED z in
    * both engines, so classification is identical by construction.
    * Scale shape: every step is a keyed aggregate narrower than the one
    * before (hours → 8 h segments → days); the word assembly sorts ≤3
    * structs per group. PAA segments average the POPULATED hours of the
    * window (the `events_slo_burn` populated-hours semantics — gap
    * hours are absent, not zero).
    */
  def saxHourly(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
    val st = b.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("s"), sum(col("v") * col("v")).as("q"))
    val paa = b.groupBy(col("event_type"), expr("hs div 28800").as("pa"))
      .agg(avg(col("v")).as("pv"), count(lit(1)).as("nh"))
    val z = paa.join(st, "event_type")
      .select(col("event_type"), col("pa"), col("nh"),
        rnd((col("pv") - col("s") / col("n")) /
          sqrt((col("q") - col("s") * col("s") / col("n")) / col("n")), 6).as("z"))
    z.select(col("event_type"), col("pa"), col("nh"),
        when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
          .when(col("z") < 0.6745, "c").otherwise("d").as("sym"))
      .groupBy(col("event_type"), expr("pa div 3").as("day_idx"))
      .agg(
        concat_ws("", transform(
          array_sort(collect_list(struct(col("pa"), col("sym")))),
          e => e.getField("sym"))).as("sax_word"),
        sum(col("nh")).as("n_hours"))
  }

  def saxQuery(s: SparkSession, d: String): DataFrame =
    saxHourly(Tables.events(s, d))

  // ---- events_seq_mining: frequent consecutive 3-sequences --------------

  /** events_seq_mining — sequential-pattern mining over per-user event
    * streams: every consecutive event-type 3-gram with its support
    * (distinct users exhibiting it) and total occurrence count — the
    * funnel-discovery precursor to `events_funnel`'s fixed pattern.
    * Scale shape: two `lead`s over the user-partitioned stream (the
    * `events_transition` window — no self-join on position), then one
    * keyed aggregate on the pattern; output bounded by |alphabet|³.
    */
  def seqMining(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .select(col("user_id"),
        concat_ws(">", col("t1"), col("t2"), col("t3")).as("pattern"))
      .groupBy("pattern")
      .agg(countDistinct(col("user_id")).as("support"),
        count(lit(1)).as("n_occurrences"))
  }

  def seqMiningQuery(s: SparkSession, d: String): DataFrame =
    seqMining(Tables.events(s, d))

  // ---- events_regex_funnel: sequence-pattern matching -------------------

  /** events_regex_funnel — regex sequence matching over per-user event
    * streams (the MATCH_RECOGNIZE shape next to `events_seq_mining`'s
    * fixed-length mining): each user's ordered event types become a
    * one-char-per-event string, the funnel pattern 's[cv]*p' (signup,
    * any clicks/views, purchase) is counted non-overlapping per user,
    * and the result rolls to a matches-per-user histogram. The pattern
    * is chosen backtracking-free ([cv]* cannot cross the closing 'p'),
    * so Java regex and DuckDB's RE2 agree match-for-match. Scale shape:
    * one user-keyed ordered collect (per-user strings are session-
    * bounded), one regexp count per user, one bounded histogram agg.
    */
  def regexFunnel(events: DataFrame): DataFrame = {
    val code = when(col("event_type") === "click", "c")
      .when(col("event_type") === "view", "v")
      .when(col("event_type") === "purchase", "p")
      .when(col("event_type") === "signup", "s").otherwise("e")
    events
      .select(col("user_id"), col("ts"), col("event_id"), code.as("ch"))
      .groupBy(col("user_id"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("ch")))),
        x => x.getField("ch"))).as("seq"))
      .select(col("user_id"), expr("regexp_count(seq, 's[cv]*p')").as("n_matches"))
      .groupBy(col("n_matches"))
      .agg(count(lit(1)).as("n_users"))
  }

  def regexFunnelQuery(s: SparkSession, d: String): DataFrame =
    regexFunnel(Tables.events(s, d))

  // ---- ts_periodogram: spectral seasonality detection -------------------

  /** ts_periodogram — single-frequency DFT power at candidate periods
    * (6 h, 12 h, 24 h, 168 h) over each type's mean-centered hourly
    * series: the SPECTRAL seasonality detector next to
    * `ts_seasonality_strength`'s variance-ratio (a periodogram names
    * WHICH period, the ratio only says "seasonal"). Reported as the
    * estimated sinusoid amplitude 2·√(C² + S²)/n. The phase argument is
    * reduced IN INTEGERS first (2π·(t mod p)/p — identical doubles in
    * both engines; raw 2πt/p at epoch-hour magnitudes would leave
    * argument reduction to each engine's libm); cos/sin then differ by
    * ≤ 1 ulp cross-engine (the `metrics_logloss` ln precedent), washed
    * by the 6-dp edge rounding. One hourly aggregate, one |periods|×
    * fan-out, one keyed sum — calendar-bounded throughout.
    */
  def periodogramHourly(events: DataFrame): DataFrame = {
    val b = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hs"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .withColumn("t", expr("hs div 3600"))
    val mean = b.groupBy("event_type").agg((sum("v") / count(lit(1))).as("mu"))
    b.join(mean, "event_type")
      .select(col("event_type"), col("t"), (col("v") - col("mu")).as("vc"))
      .withColumn("p", explode(array(lit(6), lit(12), lit(24), lit(168))))
      .withColumn("th", lit(6.283185307179586) * pmod(col("t"), col("p")) / col("p"))
      .groupBy(col("event_type"), col("p").as("period"))
      .agg(sum(col("vc") * cos(col("th"))).as("cs"),
        sum(col("vc") * sin(col("th"))).as("sn"), count(lit(1)).as("n"))
      .select(col("event_type"), col("period"),
        rnd(lit(2.0) * sqrt(col("cs") * col("cs") + col("sn") * col("sn")) / col("n"), 6)
          .as("amplitude"))
  }

  def periodogramQuery(s: SparkSession, d: String): DataFrame =
    periodogramHourly(Tables.events(s, d))

  // ---- events_bot_detection: rate/burst curation filter -----------------

  /** events_bot_detection — the bot/abuse filter a web-data curation
    * pipeline runs before any engagement metric: per user, event count,
    * active span, sustained rate, the worst 60-second burst (a range
    * window over the user-partitioned integer-µs stream — per-user
    * frames, never global), and the share of ≤ 1 s inter-event gaps;
    * `bot_flag` when the burst or sustained rate crosses the declared
    * thresholds. All-integer until three closing divisions. On the
    * synthetic feed nothing flags — the machinery is the operator (the
    * `data_constraints` reading); the spec plants a 100-events-in-a-
    * minute bot and watches it flag.
    */
  def botDetection(events: DataFrame): DataFrame = {
    val wBurst = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-60000000L, 0L)
    val wLag = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("burst", count(lit(1)).over(wBurst))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(wLag))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("(max(us) - min(us)) div 1000000").as("span_s"),
        max(col("burst")).as("max_burst_60s"),
        sum(when(col("gap_us") <= 1000000L, 1L).otherwise(0L)).as("rapid_gaps"))
      .select(col("user_id"), col("n_events"), col("span_s"), col("max_burst_60s"),
        when(col("span_s") > 0,
          rnd(col("n_events") * lit(3600.0) / col("span_s"), 6)).as("events_per_hour"),
        when(col("n_events") > 1,
          rnd(col("rapid_gaps") / (col("n_events") - lit(1.0)), 6)).as("rapid_ratio"),
        (col("max_burst_60s") >= 30 ||
          (col("n_events") >= 50 && col("span_s") > 0 &&
            col("n_events") * lit(3600.0) / col("span_s") > 1000.0)).as("bot_flag"))
  }

  def botDetectionQuery(s: SparkSession, d: String): DataFrame =
    botDetection(Tables.events(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_periodogram" -> periodogramQuery,
    "events_bot_detection" -> botDetectionQuery,
    "events_regex_funnel" -> regexFunnelQuery,
    "ts_sax" -> saxQuery,
    "events_seq_mining" -> seqMiningQuery,
    "events_forecast_naive" -> forecastNaiveQuery,
    "ts_cusum" -> cusum,
    "events_burstiness" -> burstinessQuery,
    "events_markov_stationary" -> Ckpt.scopedQ(markovStationaryQuery),
    "ts_theil_sen" -> theilSenQuery,
    "ts_theil_sen_sampled" -> Ckpt.scopedQ(theilSenSampledQuery),
    "ts_winsorize" -> winsorizeQuery,
    "events_error_rate" -> errorRate,
    "events_slo_burn" -> sloBurnQuery,
    "events_stickiness" -> stickiness,
    "events_time_to_convert" -> timeToConvertQuery,
    "events_transition" -> transition,
    "ts_resample" -> resample,
    "ts_interpolate" -> interpolate,
    "ts_ohlc" -> ohlc,
    "ts_ewma" -> ewma,
    // declared on the event_id % 5 slice: the oracle replays the fold as
    // a recursive CTE whose depth = events per type, and the unsliced
    // sf0.1 feed (20 k deep) runs past any reasonable oracle budget —
    // the operator itself is slice-independent (the doc_id < 500
    // precedent); StreamingSpec exercises it unsliced
    "ts_ewma_events" -> ((s, d) =>
      ewmaEventsScan(Tables.events(s, d).filter(col("event_id") % 5 === 0))),
    "ts_holt" -> holt,
    "ts_holt_winters" -> holtWinters,
    "ts_anomaly" -> anomaly,
    "ts_decompose" -> decompose,
    "ts_seasonality_strength" -> seasonalityStrengthQuery,
    "ts_autocorr" -> autocorr,
    "ts_changepoint" -> changepoint,
    "cdc_latest" -> latest,
    "cdc_merge" -> merge,
    "scd2_intervals" -> scd2,
    "events_retention" -> retention,
    "events_paths" -> paths,
    "events_attribution" -> attribution,
    "ts_lttb" -> lttb,
    "ts_mad" -> mad,
    "ts_hampel" -> hampelQuery,
    "ts_pattern" -> pattern,
    "ts_cross_corr" -> crossCorr,
    "ts_islands" -> islands,
    "interval_merge" -> intervalMerge,
    "events_rfm" -> Ckpt.scopedQ(rfm),
    "events_session_stats" -> sessionStats,
    "ts_bollinger" -> bollinger,
    "events_cooccur" -> cooccur,
    "events_power_users" -> Ckpt.scopedQ(powerUsers),
    "events_churn" -> churn,
    "events_hourly_profile" -> hourlyProfile,
    "ts_drawdown" -> drawdown,
    "ts_rsi" -> rsi,
    "ts_macd" -> macd,
    "events_cohort_ltv" -> cohortLtvQuery,
  )

  /** The decomposition CTE chain through `se(event_type, hs, v, vu, tu,
    * su)` — shared by the decompose row and its seasonality-strength
    * rollup (one definition, so the read-out cannot drift from the
    * decomposition it scores). */
  private val DecomposeCtes: String =
    "b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
      "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
      "u AS (SELECT *, floor(v * 1e6 + 0.5e0)::BIGINT AS vu FROM b), " +
      "t AS (SELECT *, floor(sum(vu) OVER w ::DOUBLE / count(*) OVER w + 0.5e0)::BIGINT AS tu " +
      "FROM u WINDOW w AS (PARTITION BY event_type ORDER BY hs " +
      "RANGE BETWEEN 43200 PRECEDING AND 43200 FOLLOWING)), " +
      "p AS (SELECT *, (hs // 3600) % 24 AS phase FROM t), " +
      "se AS (SELECT *, floor(sum(vu - tu) OVER w2 ::DOUBLE / count(*) OVER w2 + 0.5e0)::BIGINT AS su " +
      "FROM p WINDOW w2 AS (PARTITION BY event_type, phase))"

  val rawOracles: Map[String, String] = Map(
    "ts_periodogram" ->
      // identical integer phase reduction; cos/sin differ ≤ 1 ulp
      // cross-engine, washed by the 6-dp edge
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "bt AS (SELECT event_type, hs // 3600 AS t, v FROM b), " +
        "m AS (SELECT event_type, sum(v) / count(*) AS mu FROM bt GROUP BY 1), " +
        "c AS (SELECT bt.event_type, t, v - mu AS vc FROM bt " +
        "JOIN m ON bt.event_type = m.event_type), " +
        "pp AS (SELECT event_type, t, vc, p FROM c, unnest([6, 12, 24, 168]) AS u(p)), " +
        "th AS (SELECT event_type, p, vc, " +
        "6.283185307179586e0 * (t % p) / p AS th FROM pp), " +
        "g AS (SELECT event_type, p AS period, sum(vc * cos(th)) AS cs, " +
        "sum(vc * sin(th)) AS sn, count(*) AS n FROM th GROUP BY 1, 2) " +
        "SELECT event_type, period, " +
        "rnd(2e0 * sqrt(cs * cs + sn * sn) / n, 6) AS amplitude FROM g"),

    "events_bot_detection" ->
      ("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "w AS (SELECT user_id, us, " +
        "count(*) OVER (PARTITION BY user_id ORDER BY us " +
        "RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS burst, " +
        "us - lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us " +
        "FROM ev), " +
        "g AS (SELECT user_id, count(*) AS n_events, " +
        "(max(us) - min(us)) // 1000000 AS span_s, " +
        "max(burst) AS max_burst_60s, " +
        "sum(CASE WHEN gap_us <= 1000000 THEN 1 ELSE 0 END)::BIGINT AS rapid_gaps " +
        "FROM w GROUP BY 1) " +
        "SELECT user_id, n_events, span_s, max_burst_60s, " +
        "CASE WHEN span_s > 0 THEN rnd(n_events * 3600e0 / span_s, 6) END AS events_per_hour, " +
        "CASE WHEN n_events > 1 THEN rnd(rapid_gaps / (n_events - 1e0), 6) END AS rapid_ratio, " +
        "(max_burst_60s >= 30 OR (n_events >= 50 AND span_s > 0 " +
        "AND n_events * 3600e0 / span_s > 1000e0)) AS bot_flag FROM g"),

    "events_regex_funnel" ->
      ("WITH s AS (SELECT user_id, string_agg(CASE event_type " +
        "WHEN 'click' THEN 'c' WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p' " +
        "WHEN 'signup' THEN 's' ELSE 'e' END, '' ORDER BY ts, event_id) AS seq " +
        "FROM events GROUP BY 1) " +
        "SELECT len(regexp_extract_all(seq, 's[cv]*p'))::INT AS n_matches, " +
        "count(*) AS n_users FROM s GROUP BY 1"),

    "ts_sax" ->
      // identical hourly rounding, epoch-aligned 28 800 s PAA segments,
      // explicit-sum z, breakpoint CASE over the rounded z
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "st AS (SELECT event_type, count(*) AS n, sum(v) AS s, sum(v * v) AS q " +
        "FROM b GROUP BY 1), " +
        "paa AS (SELECT event_type, hs // 28800 AS pa, avg(v) AS pv, count(*) AS nh " +
        "FROM b GROUP BY 1, 2), " +
        "z AS (SELECT paa.event_type, pa, nh, " +
        "rnd((pv - s / n) / sqrt((q - s * s / n) / n), 6) AS z " +
        "FROM paa JOIN st ON paa.event_type = st.event_type), " +
        "sym AS (SELECT event_type, pa, nh, CASE WHEN z < -0.6745e0 THEN 'a' " +
        "WHEN z < 0e0 THEN 'b' WHEN z < 0.6745e0 THEN 'c' ELSE 'd' END AS sym FROM z) " +
        "SELECT event_type, pa // 3 AS day_idx, " +
        "string_agg(sym, '' ORDER BY pa) AS sax_word, sum(nh)::BIGINT AS n_hours " +
        "FROM sym GROUP BY 1, 2"),

    "events_seq_mining" ->
      ("WITH ev AS (SELECT user_id, event_type AS t1, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3 " +
        "FROM events), " +
        "tri AS (SELECT user_id, t1 || '>' || t2 || '>' || t3 AS pattern " +
        "FROM ev WHERE t3 IS NOT NULL) " +
        "SELECT pattern, count(DISTINCT user_id) AS support, " +
        "count(*) AS n_occurrences FROM tri GROUP BY 1"),

    "events_error_rate" -> {
      def wilson(sign: String): String =
        s"(n_err / n::DOUBLE + $WilsonZ * $WilsonZ / (2e0 * n) " +
          s"$sign $WilsonZ * sqrt(n_err / n::DOUBLE * (1e0 - n_err / n::DOUBLE) / n " +
          s"+ $WilsonZ * $WilsonZ / (4e0 * n * n))) / (1e0 + $WilsonZ * $WilsonZ / n)"
      "WITH h AS (SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us, " +
        "count(*) AS n, sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_err " +
        "FROM events GROUP BY 1) " +
        s"SELECT hour_us, n, n_err, rnd(${wilson("-")}, 6) AS wilson_lo, " +
        s"rnd(${wilson("+")}, 6) AS wilson_hi FROM h"
    },

    "events_slo_burn" ->
      // same hourly-count base as events_error_rate; identical 6-row
      // window sums of BIGINTs and identical double burn expressions
      ("WITH h AS (SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us, " +
        "count(*) AS n, sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_err " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT hour_us, n, n_err, " +
        "sum(n) OVER w::BIGINT AS n6, sum(n_err) OVER w::BIGINT AS e6 FROM h " +
        "WINDOW w AS (ORDER BY hour_us ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)) " +
        s"SELECT hour_us, n, n_err, " +
        s"rnd((n_err / n::DOUBLE) / (1e0 - $SloTarget), 6) AS burn_1h, " +
        s"rnd((e6 / n6::DOUBLE) / (1e0 - $SloTarget), 6) AS burn_6h, " +
        s"(n_err / n::DOUBLE) / (1e0 - $SloTarget) > $BurnFast AND " +
        s"(e6 / n6::DOUBLE) / (1e0 - $SloTarget) > $BurnSlow AS page FROM r"),

    "events_stickiness" ->
      // same offset-explode rewrite; DuckDB range() end-exclusive =
      // Spark sequence(day, day+6) inclusive
      ("WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day " +
        "FROM events), " +
        "dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1), " +
        "c AS (SELECT DISTINCT user_id, rd AS day FROM " +
        "(SELECT user_id, unnest(range(day, day + 7)) AS rd FROM ud)), " +
        "wau AS (SELECT day, count(*) AS wau FROM c GROUP BY 1) " +
        "SELECT dau.day, dau, wau, rnd(dau / wau::DOUBLE, 6) AS stickiness " +
        "FROM dau JOIN wau ON dau.day = wau.day"),

    "events_time_to_convert" ->
      // identical first-at-or-after join and ⌊(n+1)/2⌋ rank median
      ("WITH su AS (SELECT user_id, min(epoch_us(ts)) AS su_us FROM events " +
        "WHERE event_type = 'signup' GROUP BY 1), " +
        "pu AS (SELECT user_id, epoch_us(ts) AS pu_us FROM events " +
        "WHERE event_type = 'purchase'), " +
        "conv AS (SELECT su.user_id, min(pu_us) - su_us AS delta_us " +
        "FROM su JOIN pu ON su.user_id = pu.user_id AND pu_us >= su_us " +
        "GROUP BY su.user_id, su_us), " +
        "ns AS (SELECT count(*) AS n_signup FROM su), " +
        "nc AS (SELECT count(*) AS n_converted, min(delta_us) AS min_us, " +
        "max(delta_us) AS max_us FROM conv), " +
        "md AS (SELECT delta_us AS median_us FROM " +
        "(SELECT delta_us, row_number() OVER (ORDER BY delta_us, user_id) AS rk " +
        "FROM conv), nc WHERE rk = (n_converted + 1) // 2) " +
        "SELECT n_signup, n_converted, min_us, median_us, max_us FROM ns, nc, md"),

    "ts_cusum" ->
      // the changepoint integer chain + one more window: the reset is
      // ns − least(0, running min of ns); alarm compares the ROUNDED
      // statistic in both engines
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "u AS (SELECT *, floor(v * 1e6 + 0.5e0)::BIGINT AS vu FROM b), " +
        "s AS (SELECT event_type, hs, v, " +
        "(count(*) OVER wa)::BIGINT AS n, " +
        "(row_number() OVER (PARTITION BY event_type ORDER BY hs))::BIGINT AS i, " +
        "(sum(vu) OVER wo)::BIGINT AS pre, (sum(vu) OVER wa)::BIGINT AS tot " +
        "FROM u WINDOW wo AS (PARTITION BY event_type ORDER BY hs " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wa AS (PARTITION BY event_type)), " +
        "c AS (SELECT *, n * pre - i * tot AS ns FROM s), " +
        "m AS (SELECT *, least(0, min(ns) OVER (PARTITION BY event_type ORDER BY hs " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS runmin FROM c), " +
        "o AS (SELECT event_type, hs, v, " +
        "rnd((ns - runmin)::DOUBLE / (n::DOUBLE * 1e6), 6) AS cusum_pos FROM m) " +
        s"SELECT event_type, hs, v, cusum_pos, cusum_pos > $CusumThreshold AS alarm FROM o"),

    "events_burstiness" ->
      // floor-second integer gaps (Σd² stays in BIGINT where micro-unit
      // gaps would overflow); moment algebra from the ROUNDED mean/sd
      // columns so both engines divide identical doubles
      ("WITH g AS (SELECT event_type, (epoch_us(ts) - lag(epoch_us(ts)) " +
        "OVER (PARTITION BY event_type ORDER BY ts, event_id)) // 1000000 AS gap_s " +
        "FROM events), " +
        "a AS (SELECT event_type, count(*) AS n_gaps, sum(gap_s)::BIGINT AS s1, " +
        "sum(gap_s * gap_s)::BIGINT AS s2 FROM g WHERE gap_s IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT event_type, n_gaps, rnd(s1 / n_gaps::DOUBLE, 6) AS mean_gap_s, " +
        "rnd(sqrt(s2 / n_gaps::DOUBLE - (s1 / n_gaps::DOUBLE) * (s1 / n_gaps::DOUBLE)), 6) " +
        "AS sd_gap_s FROM a) " +
        "SELECT event_type, n_gaps, mean_gap_s, sd_gap_s, " +
        "CASE WHEN mean_gap_s = 0 THEN NULL ELSE rnd(sd_gap_s / mean_gap_s, 6) END AS cv, " +
        "CASE WHEN sd_gap_s + mean_gap_s = 0 THEN NULL " +
        "ELSE rnd((sd_gap_s - mean_gap_s) / (sd_gap_s + mean_gap_s), 6) END AS burstiness " +
        "FROM m"),

    "events_markov_stationary" ->
      // the transition chain feeding MarkovIters unrolled power-iteration
      // rounds, each MATERIALIZED (the kcore unroll discipline) and
      // renormalized + 12-dp-rounded exactly like the Spark loop
      ("WITH ev AS (SELECT user_id, event_type AS cur, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt " +
        "FROM events), " +
        "pc AS (SELECT cur, nxt, count(*) AS n FROM ev WHERE nxt IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "rt AS (SELECT cur, sum(n)::BIGINT AS row_n FROM pc GROUP BY 1), " +
        "pm AS MATERIALIZED (SELECT pc.cur, nxt, rnd(n / row_n::DOUBLE, 6) AS p " +
        "FROM pc JOIN rt ON pc.cur = rt.cur), " +
        "st AS MATERIALIZED (SELECT DISTINCT cur AS state FROM pm), " +
        "p0 AS MATERIALIZED (SELECT state, 1e0 / (SELECT count(*) FROM st) AS pi FROM st), " +
        (1 to MarkovIters).map { r =>
          val prev = s"p${r - 1}"
          s"s$r AS MATERIALIZED (SELECT nxt AS state, sum(pi * p) AS w " +
            s"FROM $prev JOIN pm ON $prev.state = pm.cur GROUP BY 1), " +
            s"p$r AS MATERIALIZED (SELECT state, " +
            s"rnd(w / (SELECT sum(w) FROM s$r), 12) AS pi FROM s$r), "
        }.mkString.stripSuffix(", ") + " " +
        s"SELECT state, rnd(pi, 6) AS pi FROM p$MarkovIters"),

    "events_transition" ->
      // HUGEINT row-total sum cast back; exact-BIGINT ratio into rnd
      ("WITH ev AS (SELECT user_id, event_type AS cur, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt " +
        "FROM events), " +
        "pc AS (SELECT cur, nxt, count(*) AS n FROM ev WHERE nxt IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "rt AS (SELECT cur, sum(n)::BIGINT AS row_n FROM pc GROUP BY 1) " +
        "SELECT pc.cur, nxt, n, rnd(n / row_n::DOUBLE, 6) AS p " +
        "FROM pc JOIN rt ON pc.cur = rt.cur"),

    "events_rfm" ->
      // same user-keyed aggregate, micro-unit monetary, (metric, user_id)
      // total tile orders; DuckDB windowed sum over BIGINT never enters
      // (ntile only ranks); recency division is pure integer //
      ("WITH per AS (SELECT user_id, max(epoch_us(ts)) AS last_us, " +
        "count(*) AS frequency, " +
        "sum(floor(value * 1e6 + 0.5e0)::BIGINT) AS monetary_e6 " +
        "FROM events GROUP BY 1), " +
        "cm AS (SELECT max(last_us) AS corpus_max_us FROM per), " +
        "base AS (SELECT user_id, (corpus_max_us - last_us) // 86400000000 AS recency_days, " +
        "frequency, monetary_e6 FROM per, cm) " +
        "SELECT user_id, recency_days, frequency, rnd(monetary_e6 / 1e6, 6) AS monetary, " +
        "(5 - ntile(4) OVER (ORDER BY recency_days, user_id))::INT AS r_score, " +
        "(5 - ntile(4) OVER (ORDER BY frequency DESC, user_id))::INT AS f_score, " +
        "(5 - ntile(4) OVER (ORDER BY monetary_e6 DESC, user_id))::INT AS m_score " +
        "FROM base"),

    "events_session_stats" ->
      // identical lag/flag/running-sum session derivation; HUGEINT
      // window sum cast back to BIGINT (the multimodal_dedup discipline)
      ("WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events), " +
        "lg AS (SELECT *, lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS prev_us " +
        "FROM ev), " +
        "fl AS (SELECT *, CASE WHEN prev_us IS NULL OR tu - prev_us > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_s FROM lg), " +
        "sg AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tu, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id FROM fl), " +
        "ses AS (SELECT user_id, session_id, count(*) AS n_ev, min(tu) AS t0, max(tu) AS t1 " +
        "FROM sg GROUP BY 1, 2) " +
        "SELECT user_id, count(*) AS n_sessions, max(n_ev) AS max_session_events, " +
        "max(t1 - t0) AS longest_session_us, sum(n_ev)::BIGINT AS n_events " +
        "FROM ses GROUP BY 1"),

    "ts_bollinger" ->
      // integer moments through the rolling frame (window sums are
      // HUGEINT → cast back); the derived doubles are the identical
      // expressions over identical BIGINTs
      ("WITH hourly AS (SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us, " +
        "count(*) AS n, sum(floor(value * 1e6 + 0.5e0)::BIGINT) AS s1_e6, " +
        "sum(floor(value * 100 + 0.5e0)::BIGINT * floor(value * 100 + 0.5e0)::BIGINT) AS s2_e4 " +
        "FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "roll AS (SELECT hour_us, n, s1_e6, s2_e4, " +
        "sum(n) OVER w::BIGINT AS rn, sum(s1_e6) OVER w::BIGINT AS rs1, " +
        "sum(s2_e4) OVER w::BIGINT AS rs2 FROM hourly " +
        "WINDOW w AS (ORDER BY hour_us ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
        "SELECT hour_us, rnd(s1_e6 / 1e6 / n, 6) AS hour_mean, " +
        "rnd(rs1 / 1e6 / rn, 6) AS roll_mean, " +
        "rnd(sqrt(rs2 / 1e4 / rn - (rs1 / 1e6 / rn) * (rs1 / 1e6 / rn)), 6) AS roll_sigma, " +
        "abs(s1_e6 / 1e6 / n - rs1 / 1e6 / rn) > " +
        "2e0 * sqrt(rs2 / 1e4 / rn - (rs1 / 1e6 / rn) * (rs1 / 1e6 / rn)) AS breakout " +
        "FROM roll"),

    "events_cooccur" ->
      ("WITH ut AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut), " +
        "marg AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1), " +
        "pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab " +
        "FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, n_ab, ma.n_t AS n_a, mb.n_t AS n_b, " +
        "rnd(n_ab * n_users / (ma.n_t * mb.n_t)::DOUBLE, 6) AS lift " +
        "FROM pairs JOIN marg ma ON type_a = ma.event_type " +
        "JOIN marg mb ON type_b = mb.event_type, nu"),

    "ts_drawdown" ->
      // running integer max over the e6 bucket means; one closing double
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "u AS (SELECT *, floor(v * 1e6 + 0.5e0)::BIGINT AS vu FROM b), " +
        "m AS (SELECT *, max(vu) OVER (PARTITION BY event_type ORDER BY hs " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM u) " +
        "SELECT event_type, hs, v, rnd(peak / 1e6, 6) AS peak_v, " +
        "rnd((peak - vu) / peak::DOUBLE, 6) AS drawdown FROM m"),

    "ts_rsi" ->
      // integer rolling up/down sums (HUGEINT cast back); the 0/0 flat
      // guard yields NULL in both engines; count guard = full window
      ("WITH h AS (SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us, " +
        "rnd(avg(value), 6) AS v FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "u AS (SELECT hour_us, floor(v * 1e6 + 0.5e0)::BIGINT AS vu FROM h), " +
        "d AS (SELECT hour_us, vu - lag(vu, 1) OVER (ORDER BY hour_us) AS delta FROM u), " +
        "g AS (SELECT hour_us, CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain, " +
        "CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss FROM d WHERE delta IS NOT NULL), " +
        "r AS (SELECT hour_us, sum(gain) OVER w::BIGINT AS sg, sum(loss) OVER w::BIGINT AS sl, " +
        "count(*) OVER w AS nd FROM g WINDOW w AS (ORDER BY hour_us " +
        "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
        "SELECT hour_us, sg, sl, " +
        "rnd(CASE WHEN sg + sl > 0 THEN 100e0 * sg / (sg + sl)::DOUBLE END, 6) AS rsi " +
        "FROM r WHERE nd = 14"),

    "events_forecast_naive" ->
      // same e6 hourly means; lag as an exact epoch offset equi-join;
      // HUGEINT error sum cast back, one closing division
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "floor(rnd(avg(value), 6) * 1e6 + 0.5e0)::BIGINT AS vu " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT a.event_type, count(*) AS n, " +
        "rnd(sum(abs(a.vu - p.vu))::BIGINT / count(*) / 1e6, 6) AS mae " +
        "FROM b a JOIN b p ON a.event_type = p.event_type AND a.hs = p.hs + 86400 " +
        "GROUP BY 1"),

    "ts_theil_sen" ->
      // identical integer-ratio slopes and discrete lower-median rank
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "floor(rnd(avg(value), 6) * 1e6 + 0.5e0)::BIGINT AS vu " +
        "FROM events GROUP BY 1, 2), " +
        "p AS (SELECT a.event_type, a.hs AS h1, c.hs AS h2, " +
        "(c.vu - a.vu) / ((c.hs - a.hs) / 3600) AS slope " +
        "FROM b a JOIN b c ON a.event_type = c.event_type AND a.hs < c.hs), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY slope, h1, h2) AS r, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM p) " +
        "SELECT event_type, max(n)::BIGINT AS n_pairs, " +
        "rnd(min(slope) / 1e6, 6) AS slope_per_hour " +
        "FROM r WHERE r * 2 >= n GROUP BY 1"),

    "ts_theil_sen_sampled" ->
      // same integer-ratio slopes and lower-median rank over the
      // md5-u16 hash-mod refined bucket set (budget = 168/type): the
      // four hex digits compose the identical u16 both engines filter on
      ("WITH b0 AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "floor(rnd(avg(value), 6) * 1e6 + 0.5e0)::BIGINT AS vu " +
        "FROM events GROUP BY 1, 2), " +
        "mm AS (SELECT event_type, greatest(1, ceil(count(*) / 168e0))::BIGINT AS m " +
        "FROM b0 GROUP BY 1), " +
        "h AS (SELECT b0.*, m, (((" +
        "(instr('0123456789abcdef', substr(md5(event_type || '_' || hs::VARCHAR), 1, 1)) - 1)" +
        " * 16 + " +
        "(instr('0123456789abcdef', substr(md5(event_type || '_' || hs::VARCHAR), 2, 1)) - 1)" +
        ") * 16 + " +
        "(instr('0123456789abcdef', substr(md5(event_type || '_' || hs::VARCHAR), 3, 1)) - 1)" +
        ") * 16 + " +
        "(instr('0123456789abcdef', substr(md5(event_type || '_' || hs::VARCHAR), 4, 1)) - 1)" +
        ") AS u16 FROM b0 JOIN mm USING (event_type)), " +
        "b AS (SELECT event_type, hs, vu FROM h WHERE u16 % m = 0), " +
        "p AS (SELECT a.event_type, a.hs AS h1, c.hs AS h2, " +
        "(c.vu - a.vu) / ((c.hs - a.hs) / 3600) AS slope " +
        "FROM b a JOIN b c ON a.event_type = c.event_type AND a.hs < c.hs), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY slope, h1, h2) AS r, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM p) " +
        "SELECT event_type, max(n)::BIGINT AS n_pairs, " +
        "rnd(min(slope) / 1e6, 6) AS slope_per_hour " +
        "FROM r WHERE r * 2 >= n GROUP BY 1"),

    "ts_winsorize" ->
      // identical discrete-rank fences and integer clip
      ("WITH b AS (SELECT event_id, event_type, " +
        "floor(value * 100 + 0.5e0)::BIGINT AS ve2 FROM events), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY ve2, event_id) AS r, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM b), " +
        "f AS (SELECT event_type, min(CASE WHEN r * 20 >= n THEN ve2 END) AS lo, " +
        "max(CASE WHEN (r - 1) * 20 < n * 19 THEN ve2 END) AS hi FROM r GROUP BY 1) " +
        "SELECT event_id, r.event_type, rnd(ve2 / 1e2, 2) AS value, " +
        "rnd(greatest(lo, least(hi, ve2)) / 1e2, 2) AS clipped " +
        "FROM r JOIN f ON r.event_type = f.event_type"),

    "ts_macd" ->
      // three seeded recursive folds (the ts_ewma recursion thrice);
      // signal folds the DERIVED macd series, joined back on rn. b and
      // m MATERIALIZED — DuckDB inlines plain CTEs, so the recursion
      // referencing m would re-evaluate the rf×rs join PER ITERATION
      // (the graph_kcore 3^rounds pitfall; un-materialized this oracle
      // ran past 7 minutes at sf0.01, materialized it runs in ~3 s)
      ("WITH RECURSIVE b AS MATERIALIZED (SELECT event_type, " +
        "epoch(date_trunc('hour', ts))::BIGINT AS hs, avg(value) AS v, " +
        "row_number() OVER (PARTITION BY event_type " +
        "ORDER BY date_trunc('hour', ts)) AS rn " +
        "FROM events GROUP BY 1, 2, date_trunc('hour', ts)), " +
        "rf AS (SELECT event_type, rn, hs, v AS e FROM b WHERE rn = 1 " +
        "UNION ALL SELECT b.event_type, b.rn, b.hs, 0.15e0 * b.v + 0.85e0 * rf.e " +
        "FROM b JOIN rf ON b.event_type = rf.event_type AND b.rn = rf.rn + 1), " +
        "rs AS (SELECT event_type, rn, hs, v AS e FROM b WHERE rn = 1 " +
        "UNION ALL SELECT b.event_type, b.rn, b.hs, 0.075e0 * b.v + 0.925e0 * rs.e " +
        "FROM b JOIN rs ON b.event_type = rs.event_type AND b.rn = rs.rn + 1), " +
        "m AS MATERIALIZED (SELECT f.event_type, f.rn, f.hs, f.e - s.e AS v " +
        "FROM rf f JOIN rs s ON f.event_type = s.event_type AND f.rn = s.rn), " +
        "rg AS (SELECT event_type, rn, hs, v AS e FROM m WHERE rn = 1 " +
        "UNION ALL SELECT m.event_type, m.rn, m.hs, 0.2e0 * m.v + 0.8e0 * rg.e " +
        "FROM m JOIN rg ON m.event_type = rg.event_type AND m.rn = rg.rn + 1) " +
        "SELECT m.event_type, m.hs, rnd(m.v, 6) AS macd, rnd(rg.e, 6) AS signal, " +
        "rnd(m.v - rg.e, 6) AS hist " +
        "FROM m JOIN rg ON m.event_type = rg.event_type AND m.rn = rg.rn"),

    "events_cohort_ltv" ->
      // exact integer week arithmetic on epoch seconds (both engines
      // truncate weeks to Monday); e2 money; HUGEINT sum cast back
      ("WITH base AS (SELECT user_id, epoch(date_trunc('week', ts))::BIGINT AS wk, " +
        "floor(value * 100 + 0.5e0)::BIGINT AS v_e2 FROM events), " +
        "ch AS (SELECT user_id, min(wk) AS cw FROM base GROUP BY 1) " +
        "SELECT cw AS cohort_week, ((wk - cw) // 604800)::BIGINT AS age_weeks, " +
        "count(DISTINCT user_id) AS users, count(*) AS n_events, " +
        "rnd(sum(v_e2)::BIGINT / 1e2, 2) AS ltv " +
        "FROM base JOIN ch USING (user_id) GROUP BY 1, 2"),

    "events_power_users" ->
      // ntile over the user-cardinality frame with the (n DESC, user)
      // total order; counts exact, share the one double
      ("WITH per AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1), " +
        "d AS (SELECT user_id, n, ntile(10) OVER (ORDER BY n DESC, user_id) AS decile FROM per), " +
        "g AS (SELECT decile::INT AS decile, count(*) AS n_users, sum(n)::BIGINT AS events FROM d GROUP BY 1) " +
        "SELECT decile, n_users, events, " +
        "rnd(events / sum(events) OVER () ::DOUBLE, 6) AS share FROM g"),

    "events_churn" ->
      // epoch-week = µs-day div 7 (integer, no calendar); HUGEINT sums
      // cast back; retention_rate NULL on the first week both engines
      ("WITH uw AS (SELECT DISTINCT user_id, " +
        "epoch_us(ts) // 86400000000 // 7 AS week FROM events), " +
        "f AS (SELECT a.week, a.user_id, " +
        "(b.user_id IS NOT NULL) AS was_prev FROM uw a " +
        "LEFT JOIN uw b ON a.user_id = b.user_id AND a.week = b.week + 1), " +
        "pw AS (SELECT week, count(*) AS active, " +
        "sum(CASE WHEN was_prev THEN 1 ELSE 0 END)::BIGINT AS retained, " +
        "sum(CASE WHEN was_prev THEN 0 ELSE 1 END)::BIGINT AS new_users FROM f GROUP BY 1) " +
        "SELECT pw.week, pw.active, pw.retained, pw.new_users, " +
        "coalesce(pv.active - pw.retained, 0)::BIGINT AS churned, " +
        "rnd(pw.retained / pv.active::DOUBLE, 6) AS retention_rate " +
        "FROM pw LEFT JOIN pw pv ON pw.week = pv.week + 1"),

    "events_hourly_profile" ->
      // integer dow/hour from epoch µs (tz-immune); e6 micro-unit value
      // sum, HUGEINT cast back before the closing divides
      ("WITH per AS (SELECT " +
        "(epoch_us(ts) // 86400000000 + 4) % 7 AS dow, " +
        "epoch_us(ts) // 3600000000 % 24 AS hour, " +
        "count(*) AS n, sum(floor(value * 1e6 + 0.5e0)::BIGINT)::BIGINT AS svu " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT dow, hour, n, " +
        "rnd(n / sum(n) OVER () ::DOUBLE, 6) AS share, " +
        "rnd(svu / n / 1e6, 6) AS avg_value FROM per"),

    "interval_merge" ->
      // same running max-of-prior-ends group key, exact integer
      // boundaries (floor'd duration — Spark double→long cast truncates
      // where DuckDB's ::BIGINT rounds, so floor() is explicit)
      ("WITH iv AS (SELECT user_id, epoch_us(ts) AS s, " +
        "epoch_us(ts) + floor(value * 6e7)::BIGINT AS e FROM events), " +
        "m AS (SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id " +
        "ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv), " +
        "g AS (SELECT user_id, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax " +
        "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY s, e " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM m) " +
        "SELECT user_id, min(s) AS start_us, max(e) AS end_us, " +
        "count(*) AS n_merged FROM g GROUP BY user_id, grp"),

    "ts_cross_corr" ->
      // same time-lag pairing between the two fixed series, same
      // explicit raw moments
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        s"l AS (SELECT unnest(range(0, ${CrossCorrMaxLag + 1})) AS lag), " +
        "p AS (SELECT l.lag::INT AS lag, x.v AS x, y.v AS y " +
        s"FROM (SELECT hs, v FROM b WHERE event_type = '$CrossCorrTypeA') x CROSS JOIN l " +
        s"JOIN (SELECT hs, v FROM b WHERE event_type = '$CrossCorrTypeB') y " +
        "ON y.hs = x.hs + l.lag * 3600), " +
        "m AS (SELECT lag, count(*) AS n_pairs, " +
        "avg(x) AS ax, avg(y) AS ay, avg(x * y) AS axy, " +
        "avg(x * x) AS ax2, avg(y * y) AS ay2 FROM p GROUP BY 1) " +
        "SELECT lag, n_pairs, " +
        "rnd(CASE WHEN (ax2 - ax * ax) * (ay2 - ay * ay) > 0 " +
        "THEN (axy - ax * ay) / sqrt((ax2 - ax * ax) * (ay2 - ay * ay)) " +
        "ELSE 0e0 END, 6) AS r FROM m"),

    "ts_islands" ->
      // same hour-index − row_number island key, pure integers
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs " +
        "FROM events GROUP BY 1, 2), " +
        "g AS (SELECT event_type, hs, hs // 3600 - " +
        "row_number() OVER (PARTITION BY event_type ORDER BY hs) AS grp FROM b), " +
        "isl AS (SELECT event_type, grp, count(*) AS len, min(hs) AS start_hs " +
        "FROM g GROUP BY 1, 2) " +
        "SELECT event_type, count(*) AS n_islands, max(len) AS longest, " +
        "sum(len)::BIGINT AS n_buckets, min(start_hs) AS first_hs " +
        "FROM isl GROUP BY 1"),

    "ts_mad" ->
      // same discrete rank-⌈n/2⌉ medians and the same literal cutoff
      // product — the comparison sees bit-identical doubles
      ("WITH v AS (SELECT event_type, value AS v FROM events), " +
        "r1 AS (SELECT event_type, v, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY v) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM v), " +
        "med AS (SELECT event_type, max(CASE WHEN rn = ceil(n * 0.5e0) THEN v END) AS med " +
        "FROM r1 GROUP BY 1), " +
        "dev AS (SELECT v.event_type, v.v, abs(v.v - med.med) AS dv, med.med " +
        "FROM v JOIN med ON v.event_type = med.event_type), " +
        "r2 AS (SELECT event_type, dv, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY dv) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM dev), " +
        "mad AS (SELECT event_type, max(CASE WHEN rn = ceil(n * 0.5e0) THEN dv END) AS mad " +
        "FROM r2 GROUP BY 1) " +
        "SELECT dev.event_type, rnd(max(dev.med), 6) AS med, rnd(max(mad.mad), 6) AS mad, " +
        "count(CASE WHEN dev.dv > 3.5e0 * 1.4826e0 * mad.mad THEN 1 END) AS n_out " +
        "FROM dev JOIN mad ON dev.event_type = mad.event_type GROUP BY 1"),

    "ts_hampel" ->
      // identical discrete lower-median picks from the sorted rolling
      // window (list_sort + 1-based index ≡ sort_array + element_at)
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "u AS (SELECT event_type, hs, floor(v * 1e6 + 0.5)::BIGINT AS vu FROM b), " +
        "s AS (SELECT event_type, hs, vu, " +
        "list_sort(list(vu) OVER (PARTITION BY event_type ORDER BY hs " +
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS win FROM u), " +
        "m AS (SELECT event_type, hs, vu, win, " +
        "win[((len(win) + 1) // 2)::INT] AS med FROM s), " +
        "f AS (SELECT event_type, hs, abs(vu - med) > 3.0e0 * 1.4826e0 * " +
        "list_sort(list_transform(win, x -> abs(x - med)))" +
        "[((len(win) + 1) // 2)::INT] AS flag FROM m) " +
        "SELECT event_type, count(*) AS n_hours, " +
        "sum(CASE WHEN flag THEN 1 ELSE 0 END)::BIGINT AS n_out, " +
        "min(CASE WHEN flag THEN hs END) AS first_hs FROM f GROUP BY 1"),

    "ts_pattern" ->
      // same micro-unit bucket means, same row-based lags
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "u AS (SELECT event_type, hs, floor(v * 1e6 + 0.5)::BIGINT AS vu FROM b), " +
        "l AS (SELECT event_type, hs, vu, lag(vu, 1) OVER w AS l1, " +
        "lag(vu, 2) OVER w AS l2, lag(vu, 3) OVER w AS l3 FROM u " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY hs)) " +
        "SELECT event_type, count(*) AS n_matches, min(hs) AS first_hs FROM l " +
        "WHERE vu < l1 AND l1 < l2 AND l2 < l3 GROUP BY 1"),

    "ts_lttb" ->
      // identical integer pipeline: micro-unit values, truncating
      // integer-division anchors (// ≡ Spark div), BIGINT cross
      // products, (area DESC, hs) argmax, endpoint buckets kept
      ("WITH b0 AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, hs, floor(v * 1e6 + 0.5)::BIGINT AS vu, " +
        s"((row_number() OVER (PARTITION BY event_type ORDER BY hs) - 1) // $LttbBucket)::BIGINT AS bk " +
        "FROM b0), " +
        "st AS (SELECT event_type, bk, count(*) AS n, sum(hs) AS sx, sum(vu) AS sy " +
        "FROM b GROUP BY 1, 2), " +
        "an AS (SELECT event_type, bk, sx // n AS mx, sy // n AS my FROM st), " +
        "nb AS (SELECT event_type, max(bk) AS bmax FROM st GROUP BY 1), " +
        "mid AS (SELECT p.event_type, p.bk, p.hs, p.vu, " +
        "abs((l.mx - r.mx) * (p.vu - l.my) - (l.mx - p.hs) * (l.my - r.my)) AS a2 " +
        "FROM b p JOIN an l ON l.event_type = p.event_type AND l.bk = p.bk - 1 " +
        "JOIN an r ON r.event_type = p.event_type AND r.bk = p.bk + 1), " +
        "sel AS (SELECT event_type, hs, vu FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY event_type, bk ORDER BY a2 DESC, hs) AS rk FROM mid) WHERE rk = 1), " +
        "fst AS (SELECT event_type, min(hs) AS hs FROM b WHERE bk = 0 GROUP BY 1), " +
        "lst AS (SELECT b.event_type, max(b.hs) AS hs FROM b " +
        "JOIN nb ON nb.event_type = b.event_type AND b.bk = nb.bmax GROUP BY 1), " +
        "pts AS (SELECT event_type, hs, vu FROM sel UNION " +
        "SELECT b.event_type, b.hs, b.vu FROM b JOIN fst " +
        "ON fst.event_type = b.event_type AND fst.hs = b.hs UNION " +
        "SELECT b.event_type, b.hs, b.vu FROM b JOIN lst " +
        "ON lst.event_type = b.event_type AND lst.hs = b.hs) " +
        "SELECT event_type, hs, vu / 1e6 AS v FROM pts"),

    "events_attribution" ->
      // same user-keyed join + (ct, cid) argmax; 'none' for purchases
      // with no candidate in the 7-day lookback
      ("WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events), " +
        "p AS (SELECT user_id, event_id AS pid, t AS pt FROM ev " +
        "WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, event_type AS channel, event_id AS cid, t AS ct FROM ev " +
        "WHERE event_type <> 'purchase'), " +
        "rk AS (SELECT pid, channel, row_number() OVER (PARTITION BY pid " +
        "ORDER BY ct DESC, cid DESC, channel DESC) AS rn " +
        "FROM p JOIN c ON p.user_id = c.user_id " +
        s"WHERE ct < pt AND ct >= pt - $WeekUs), " +
        "b AS (SELECT pid, channel FROM rk WHERE rn = 1) " +
        "SELECT coalesce(b.channel, 'none') AS channel, count(*) AS n_conversions " +
        "FROM p LEFT JOIN b ON p.pid = b.pid GROUP BY 1"),

    "events_paths" ->
      // same per-user lead pairing, same total (n DESC, e1, e2, e3)
      // tie-break for the top-10
      ("WITH s AS (SELECT event_type AS e1, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3 " +
        "FROM events), " +
        "c AS (SELECT e1, e2, e3, count(*) AS n_paths FROM s " +
        "WHERE e3 IS NOT NULL GROUP BY 1, 2, 3), " +
        "rk AS (SELECT *, row_number() OVER " +
        "(ORDER BY n_paths DESC, e1, e2, e3) AS rn FROM c) " +
        "SELECT e1, e2, e3, n_paths FROM rk WHERE rn <= 10"),

    "ts_autocorr" ->
      // same time-lag pairing, same explicit raw moments, r in [-1, 1]
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "l AS (SELECT unnest(range(1, 4)) AS lag), " +
        "p AS (SELECT x.event_type, l.lag::INT AS lag, x.v AS x, y.v AS y " +
        "FROM b x CROSS JOIN l JOIN b y ON y.event_type = x.event_type " +
        "AND y.hs = x.hs + l.lag * 3600), " +
        "m AS (SELECT event_type, lag, count(*) AS n_pairs, " +
        "avg(x) AS ax, avg(y) AS ay, avg(x * y) AS axy, " +
        "avg(x * x) AS ax2, avg(y * y) AS ay2 FROM p GROUP BY 1, 2) " +
        "SELECT event_type, lag, n_pairs, " +
        "rnd(CASE WHEN (ax2 - ax * ax) * (ay2 - ay * ay) > 0 " +
        "THEN (axy - ax * ay) / sqrt((ax2 - ax * ax) * (ay2 - ay * ay)) " +
        "ELSE 0e0 END, 6) AS r FROM m"),

    "ts_changepoint" ->
      // same micro-unit buckets; n·1e6·S_i = n·prefix − i·total kept
      // integer end to end, one division + rnd at the argmax row only
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "u AS (SELECT *, floor(v * 1e6 + 0.5e0)::BIGINT AS vu FROM b), " +
        "s AS (SELECT event_type, hs, " +
        "(count(*) OVER wa)::BIGINT AS n, " +
        "(row_number() OVER (PARTITION BY event_type ORDER BY hs))::BIGINT AS i, " +
        "(sum(vu) OVER wo)::BIGINT AS pre, (sum(vu) OVER wa)::BIGINT AS tot " +
        "FROM u WINDOW wo AS (PARTITION BY event_type ORDER BY hs " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wa AS (PARTITION BY event_type)), " +
        "c AS (SELECT *, n * pre - i * tot AS ns FROM s), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY abs(ns) DESC, hs ASC) AS rk FROM c) " +
        "SELECT event_type, hs AS cp_hs, rnd(ns::DOUBLE / (n::DOUBLE * 1e6), 6) AS cusum, " +
        "n AS n_buckets FROM r WHERE rk = 1"),

    "ts_decompose" ->
      // same hourly buckets, same ±12h RANGE trend frame, same
      // per-(type, hour-of-day) seasonal mean; remainder from unrounded
      // parts in both engines
      // identical micro-unit integer pipeline: exact window sums, one
      // deterministic division + floor(x + 0.5) per output
      (s"WITH $DecomposeCtes " +
        "SELECT event_type, hs, v, tu / 1e6 AS trend, su / 1e6 AS seasonal, " +
        "(vu - tu - su) / 1e6 AS remainder FROM se"),

    "ts_seasonality_strength" ->
      // the same decomposition chain, rolled up into Hyndman's
      // Fs = max(0, 1 − Var(R)/Var(S+R)) per type with agg_corr-style
      // explicit raw moments over the exact micro-unit components
      (s"WITH $DecomposeCtes, " +
        // sr mirrors the Spark assembly EXACTLY: seasonal + remainder
        // as the SUM OF TWO QUOTIENTS — (vu-tu)/1e6 in one division is
        // up to an ulp different
        "comp AS (SELECT event_type, (vu - tu - su) / 1e6 AS r, " +
        "su / 1e6 + (vu - tu - su) / 1e6 AS sr FROM se), " +
        "m AS (SELECT event_type, count(*) AS n, avg(r) AS mr, avg(r * r) AS mrr, " +
        "avg(sr) AS msr, avg(sr * sr) AS msrsr FROM comp GROUP BY 1) " +
        "SELECT event_type, n, rnd(CASE WHEN msrsr - msr * msr = 0e0 THEN 0e0 " +
        "ELSE greatest(0e0, 1e0 - (mrr - mr * mr) / (msrsr - msr * msr)) END, 6) " +
        "AS seasonal_strength FROM m"),

    "cdc_merge" ->
      // the oracle states MERGE semantics declaratively: NOT IN for the
      // anti join, the same op derivation and value bump
      ("WITH base AS (SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0), " +
        "chg AS (SELECT event_id, event_type, " +
        "CASE WHEN value < 10 THEN 'delete' ELSE 'upsert' END AS op, " +
        "rnd(value * 2e0, 6) AS new_value FROM events WHERE event_id % 3 = 0) " +
        "SELECT event_id, event_type, rnd(value, 6) AS value, 'kept' AS src FROM base " +
        "WHERE event_id NOT IN (SELECT event_id FROM chg) " +
        "UNION ALL SELECT event_id, event_type, new_value AS value, 'upserted' AS src " +
        "FROM chg WHERE op = 'upsert'"),

    "ts_resample" ->
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "count(*) AS n, rnd(avg(value), 6) AS v FROM events GROUP BY 1, 2), " +
        "r AS (SELECT event_type, min(hs) AS lo, max(hs) AS hi FROM b GROUP BY 1), " +
        "g AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS hs FROM r), " +
        "j AS (SELECT g.event_type, g.hs, coalesce(n, 0) AS n, v " +
        "FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.hs = b.hs) " +
        "SELECT event_type, hs, n, last_value(v IGNORE NULLS) OVER (" +
        "PARTITION BY event_type ORDER BY hs " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill FROM j"),

    "ts_interpolate" ->
      ("WITH b AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, " +
        "avg(value) AS v FROM events GROUP BY 1, 2), " +
        "r AS (SELECT event_type, min(hs) AS lo, max(hs) AS hi FROM b GROUP BY 1), " +
        "g AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS hs FROM r), " +
        "j AS (SELECT g.event_type, g.hs, v FROM g LEFT JOIN b " +
        "ON g.event_type = b.event_type AND g.hs = b.hs), " +
        "w AS (SELECT event_type, hs, v, " +
        "last_value(v IGNORE NULLS) OVER wb AS pv, " +
        "last_value(CASE WHEN v IS NOT NULL THEN hs END IGNORE NULLS) OVER wb AS ph, " +
        "first_value(v IGNORE NULLS) OVER wf AS nv, " +
        "first_value(CASE WHEN v IS NOT NULL THEN hs END IGNORE NULLS) OVER wf AS nh " +
        "FROM j WINDOW " +
        "wb AS (PARTITION BY event_type ORDER BY hs " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wf AS (PARTITION BY event_type ORDER BY hs " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT event_type, hs, rnd(CASE WHEN v IS NOT NULL THEN v " +
        "WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv " +
        "ELSE pv + (nv - pv) * (hs - ph) / (nh - ph) END, 6) AS v_lin FROM w"),

    "ts_ohlc" ->
      ("WITH x AS (SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hs, value, " +
        "row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts) " +
        "ORDER BY ts, event_id) AS ra, " +
        "row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts) " +
        "ORDER BY ts DESC, event_id DESC) AS rd FROM events) " +
        "SELECT event_type, hs, max(CASE WHEN ra = 1 THEN value END) AS open, " +
        "max(value) AS high, min(value) AS low, " +
        "max(CASE WHEN rd = 1 THEN value END) AS close, count(*) AS n " +
        "FROM x GROUP BY 1, 2"),

    "ts_ewma" ->
      ("WITH RECURSIVE b AS (SELECT event_type, " +
        "epoch(date_trunc('hour', ts))::BIGINT AS hs, avg(value) AS v, " +
        "row_number() OVER (PARTITION BY event_type " +
        "ORDER BY date_trunc('hour', ts)) AS rn " +
        "FROM events GROUP BY 1, 2, date_trunc('hour', ts)), " +
        "r AS (SELECT event_type, rn, hs, v AS e FROM b WHERE rn = 1 " +
        "UNION ALL SELECT b.event_type, b.rn, b.hs, 0.3e0 * b.v + 0.7e0 * r.e " +
        "FROM b JOIN r ON b.event_type = r.event_type AND b.rn = r.rn + 1) " +
        "SELECT event_type, hs, rnd(e, 6) AS ewma FROM r"),

    "ts_ewma_events" ->
      // the per-event state-stream semantic under the gate: one EWMA
      // value PER EVENT in (ts, event_id) order (the hourly row folds
      // bucket means instead). The linear mapPartitions container is
      // the declared form here — the recursive twin proves it against
      // engine-independent SQL at full event depth.
      ("WITH RECURSIVE b AS (SELECT event_type, event_id, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn " +
        "FROM events WHERE event_id % 5 = 0), " +
        "r AS (SELECT event_type, rn, event_id, value AS e FROM b WHERE rn = 1 " +
        "UNION ALL SELECT b.event_type, b.rn, b.event_id, 0.3e0 * b.value + 0.7e0 * r.e " +
        "FROM b JOIN r ON b.event_type = r.event_type AND b.rn = r.rn + 1) " +
        "SELECT event_type, event_id, rnd(e, 6) AS ewma FROM r"),

    "ts_holt" ->
      // identical recurrence; the new level's expression is repeated
      // inside the trend update exactly as the Spark HOF repeats it
      ("WITH RECURSIVE b AS (SELECT event_type, " +
        "epoch(date_trunc('hour', ts))::BIGINT AS hs, avg(value) AS v, " +
        "row_number() OVER (PARTITION BY event_type " +
        "ORDER BY date_trunc('hour', ts)) AS rn " +
        "FROM events GROUP BY 1, 2, date_trunc('hour', ts)), " +
        "r AS (SELECT event_type, rn, hs, v AS l, 0e0 AS tr FROM b WHERE rn = 1 " +
        "UNION ALL SELECT b.event_type, b.rn, b.hs, " +
        "0.3e0 * b.v + 0.7e0 * (r.l + r.tr), " +
        "0.2e0 * ((0.3e0 * b.v + 0.7e0 * (r.l + r.tr)) - r.l) + 0.8e0 * r.tr " +
        "FROM b JOIN r ON b.event_type = r.event_type AND b.rn = r.rn + 1) " +
        "SELECT event_type, hs, rnd(l, 6) AS level, rnd(tr, 6) AS trend FROM r"),

    "ts_holt_winters" ->
      // identical causal recurrence; the recursive state carries the
      // last-24 seasonal factors as a ring LIST (the Spark fold reads
      // them from its own history instead); each branch repeats the new
      // level's text exactly as the Spark HOF repeats it
      ("WITH RECURSIVE b AS (SELECT event_type, " +
        "epoch(date_trunc('hour', ts))::BIGINT AS hs, avg(value) AS v, " +
        "row_number() OVER (PARTITION BY event_type " +
        "ORDER BY date_trunc('hour', ts)) AS rn " +
        "FROM events GROUP BY 1, 2, date_trunc('hour', ts)), " +
        "r AS (SELECT event_type, rn, hs, v AS l, 0e0 AS tr, 0e0 AS s, [0e0] AS ring " +
        "FROM b WHERE rn = 1 " +
        "UNION ALL SELECT b.event_type, b.rn, b.hs, " +
        "CASE WHEN len(r.ring) < 24 THEN 0.3e0 * b.v + 0.7e0 * (r.l + r.tr) " +
        "ELSE 0.3e0 * (b.v - r.ring[1]) + 0.7e0 * (r.l + r.tr) END, " +
        "CASE WHEN len(r.ring) < 24 " +
        "THEN 0.2e0 * ((0.3e0 * b.v + 0.7e0 * (r.l + r.tr)) - r.l) + 0.8e0 * r.tr " +
        "ELSE 0.2e0 * ((0.3e0 * (b.v - r.ring[1]) + 0.7e0 * (r.l + r.tr)) - r.l) + 0.8e0 * r.tr END, " +
        "CASE WHEN len(r.ring) < 24 " +
        "THEN b.v - (0.3e0 * b.v + 0.7e0 * (r.l + r.tr)) " +
        "ELSE 0.25e0 * (b.v - (0.3e0 * (b.v - r.ring[1]) + 0.7e0 * (r.l + r.tr))) + 0.75e0 * r.ring[1] END, " +
        "CASE WHEN len(r.ring) < 24 " +
        "THEN list_append(r.ring, b.v - (0.3e0 * b.v + 0.7e0 * (r.l + r.tr))) " +
        "ELSE list_append(r.ring[2:], " +
        "0.25e0 * (b.v - (0.3e0 * (b.v - r.ring[1]) + 0.7e0 * (r.l + r.tr))) + 0.75e0 * r.ring[1]) END " +
        "FROM b JOIN r ON b.event_type = r.event_type AND b.rn = r.rn + 1) " +
        "SELECT event_type, hs, rnd(l, 6) AS level, rnd(tr, 6) AS trend, " +
        "rnd(s, 6) AS seasonal FROM r"),

    "ts_anomaly" ->
      ("WITH sc AS (SELECT event_id, event_type, value, " +
        "avg(value) OVER w AS mu, stddev_samp(value) OVER w AS sd, " +
        "count(value) OVER w AS hist FROM events " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_id, event_type, value, rnd((value - mu) / sd, 6) AS z " +
        "FROM sc WHERE hist >= 12 AND sd > 0 AND abs((value - mu) / sd) > 2"),

    "cdc_latest" ->
      ("SELECT user_id, event_id, event_type, value FROM (" +
        "SELECT user_id, event_id, event_type, value, row_number() OVER (" +
        "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1"),

    "scd2_intervals" ->
      ("SELECT user_id, event_type, epoch_us(ts) AS valid_from, " +
        "lead(epoch_us(ts)) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts), event_id) AS valid_to FROM events"),

    "events_retention" ->
      (s"WITH uw AS (SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS w FROM events), " +
        "f AS (SELECT user_id, min(w) AS w0 FROM uw GROUP BY 1) " +
        "SELECT w0 AS cohort_week, w - w0 AS week_n, count(*) AS users " +
        "FROM uw JOIN f USING (user_id) GROUP BY 1, 2"),
  )
}
