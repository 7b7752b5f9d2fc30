package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact GLOBAL ranks and running sums without a single-partition
  * window.
  *
  * `Window.orderBy(...)` with no partition key moves the whole frame
  * through ONE task — acceptable when the frame is domain- or
  * calendar-bounded (distinct prices, hourly buckets, eval slices),
  * fatal when it scales with the corpus (per-USER frames under
  * `events_rfm` / `events_power_users`). `prefixSum` is the one
  * container for that case: range-repartition on the order (each task
  * sorts only its range slice), a per-partition running sum, then
  * per-(key, partition) totals prefix-summed over a ≤ #partitions frame
  * and broadcast back as base offsets. Results are IDENTICAL to the
  * window form whenever the order is total within each group (every
  * caller here ends its order in a unique id or a distinct value) —
  * partition boundaries shift which pid a row lands in, never its sum.
  * `globalRank`, `midranks`/`midranksBy`, `Curation.prefixPackBy` and
  * `TextAnalysis.tokenBudgetDocs` are all this one primitive.
  */
object Rank {

  /** Append `as`: the inclusive running sum of `measure` within each
    * `keys` group, in `order` (which must be a total order within the
    * group). `parts` overrides the range width (`Session.width` when 0);
    * the result never depends on it.
    *
    * Offsets: an unkeyed call prefix-sums the per-partition totals with
    * an unpartitioned window — its input is ≤ #partitions rows, the
    * bound `PlanAuditSpec`'s global-window whitelist names; a keyed call
    * partitions that window by key. `measure` is evaluated inside the
    * window and totals expressions only, so a count (`lit(1L)`) adds no
    * shuffle column.
    */
  def prefixSum(df: DataFrame, keys: Seq[String], order: Seq[Column],
      measure: Column, as: String, parts: Int = 0): DataFrame = {
    import graft.core.Ckpt.TruncateSyntax
    val n = if (parts > 0) parts else graft.Session.width(df)
    val ks = keys.map(col)
    val pid = col("_ps_pid")
    // MATERIALIZED once (Ckpt seam) before fanning out to the offsets
    // aggregate AND the join back: the two subtrees otherwise
    // re-evaluate the range exchange independently, and
    // RangePartitioner's boundary SAMPLE depends on the input rows'
    // within-partition order — deterministic off a parquet scan, but
    // NOT across re-evaluations of upstream shuffles (reduce-side fetch
    // order varies run to run). Found live: three chained global ranks
    // in events_rfm produced pid assignments that disagreed between the
    // offsets and join evaluations at 4 threads — unique-but-wrong
    // ranks, 63 misplaced quartile scores at sf0.1.
    val local = df.repartitionByRange(n, ks ++ order: _*)
      .withColumn("_ps_pid", spark_partition_id())
      .withColumn("_ps_cum", sum(measure).over(
        Window.partitionBy(pid +: ks: _*).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .truncated()
    val offsets = local.groupBy(ks :+ pid: _*).agg(sum(measure).as("_ps_tot"))
      .select(ks :+ pid :+ coalesce(sum(col("_ps_tot")).over(
        Window.partitionBy(ks: _*).orderBy(pid)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_ps_base"): _*)
    local.join(broadcast(offsets), keys :+ "_ps_pid")
      .select(df.columns.map(c => col(s"`$c`")) :+
        (col("_ps_base") + col("_ps_cum")).as(as): _*)
  }

  /** Append `grank` (1-based global row_number by `sort`) to `df`.
    * `sort` must be a total order for cross-run determinism.
    */
  def globalRank(df: DataFrame, sort: Seq[Column]): DataFrame =
    prefixSum(df, Nil, sort, lit(1L), "grank")

  /** Per-distinct-value MIDRANKS without ranking the row stream: the
    * tied-rank primitive under `stats_spearman` / `stats_kruskal`.
    * Returns one row per distinct value of `v` with its tie count and
    * `mr_r2` = 2·midrank (kept doubled so it stays BIGINT-exact —
    * 2·midrank = 2·cum_before + t + 1, the `stats_mannwhitney`
    * algebra). Scale shape: the corpus collapses FIRST through a keyed
    * count (map-side combinable, output = |distinct values| rows), and
    * only that distinct frame rides `prefixSum` — for a
    * 50-distinct-values column the range exchange carries 50 rows no
    * matter the corpus.
    *
    * NULL values: callers filter them first — Spark sorts NULL FIRST
    * ascending where DuckDB defaults NULLS LAST, so a null group's
    * rank would silently disagree with a SQL oracle (applies to
    * `midranksBy`/`groupMedian`/`groupQuantiles` too). Every wired
    * caller ranks non-null measure columns.
    */
  def midranks(df: DataFrame, v: Column): DataFrame = {
    val counts = df.groupBy(v.as("mr_v")).agg(count(lit(1)).as("mr_t"))
    prefixSum(counts, Nil, Seq(col("mr_v")), col("mr_t"), "mr_cum")
      .select(col("mr_v"), col("mr_t"),
        (lit(2L) * (col("mr_cum") - col("mr_t")) + col("mr_t") + 1).as("mr_r2"))
  }

  /** KEYED `midranks`: per-(key, distinct value) tie counts, inclusive
    * cumulative counts and 2·midranks WITHIN each key group — the
    * per-group exact-quantile seam (`stats_levene`'s group medians).
    * A `Window.partitionBy(key).orderBy(v)` would serialize each
    * group's whole distinct-value history through one task — fatal
    * when key cardinality is O(1) (event types) while the corpus
    * scales; this is keyed `prefixSum` on the distinct frame instead.
    * Returns (mr_k, mr_v, mr_t, mr_cum, mr_r2).
    */
  def midranksBy(df: DataFrame, key: Column, v: Column): DataFrame = {
    val counts = df.groupBy(key.as("mr_k"), v.as("mr_v"))
      .agg(count(lit(1)).as("mr_t"))
    prefixSum(counts, Seq("mr_k"), Seq(col("mr_v")), col("mr_t"), "mr_cum")
      .select(col("mr_k"), col("mr_v"), col("mr_t"), col("mr_cum"),
        (lit(2L) * (col("mr_cum") - col("mr_t")) + col("mr_t") + 1).as("mr_r2"))
  }

  /** Per-key EXACT QUANTILES from `midranksBy`: for each requested
    * per-mille point q, the smallest value whose inclusive cumulative
    * count reaches ceil(q·n/1000) — the inverted-CDF (type-1)
    * convention, all-integer thresholds so both engines cut
    * identically. The quantile list broadcasts against the per-group
    * distinct frame; one filter + keyed min per point. Returns
    * (mr_k, q_permille, mr_v).
    */
  def groupQuantiles(df: DataFrame, key: Column, v: Column,
      permille: Seq[Int]): DataFrame = {
    val mr = midranksBy(df, key, v)
    val totals = mr.groupBy(col("mr_k")).agg(max(col("mr_cum")).as("mr_n"))
    val qs = df.sparkSession.createDataFrame(
      permille.map(Tuple1(_))).toDF("q_permille")
    // integer cum ≥ ceil(n·q/1000) ⟺ 1000·cum ≥ n·q — no division at all
    mr.join(totals, "mr_k")
      .join(broadcast(qs),
        col("mr_cum") * 1000 >= col("mr_n") * col("q_permille"))
      .groupBy(col("mr_k"), col("q_permille"))
      .agg(min(col("mr_v")).as("mr_v"))
  }

  /** Per-key LOWER MEDIAN from `midranksBy`: the smallest value whose
    * inclusive cumulative count reaches half the group (exact median
    * for odd group sizes, lower-middle for even — deterministic, no
    * cross-engine averaging convention). One extra keyed aggregate for
    * the group totals; never a row-stream sort.
    */
  def groupMedian(df: DataFrame, key: Column, v: Column): DataFrame = {
    val mr = midranksBy(df, key, v)
    val totals = mr.groupBy(col("mr_k")).agg(max(col("mr_cum")).as("mr_n"))
    mr.join(totals, "mr_k")
      .filter(col("mr_cum") * 2 >= col("mr_n"))
      .groupBy(col("mr_k"))
      .agg(min(col("mr_v")).as("mr_median"))
  }

  /** Standard SQL ntile from a 1-based global rank: n rows cut into k
    * tiles, the first (n mod k) tiles one row larger — the exact
    * bucketing Spark's and DuckDB's `ntile` both implement, in closed
    * form so it composes with `globalRank` instead of a window. All
    * integer `div`/`%` arithmetic (rank·k products stay far below 2^63
    * for any real corpus because k is small).
    */
  def ntileOf(rank: Column, nTotal: Column, k: Int): Column = {
    val q = nTotal.divide(k).cast("long") // n div k: exact (k small, n < 2^53)
    val m = nTotal % k
    val threshold = m * (q + 1)
    when(q === 0, rank) // n < k: rank i goes to tile i
      .when(rank <= threshold, (rank + q).divide(q + 1).cast("long"))
      .otherwise(m + (rank - threshold + q - 1).divide(q).cast("long"))
  }
}
