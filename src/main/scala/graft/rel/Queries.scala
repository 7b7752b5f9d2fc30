package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import org.apache.spark.sql.Column

/** The relational EXT surface (SURVEY.md §2 rows #2, #4-#14, #16-#18,
  * #24-#27): scans with pushdown, scalar functions, 5 join shapes, 3
  * aggregation shapes, window functions, global top-k, set ops.
  *
  * The reference has none of these as user surface (SURVEY §2.10) — they
  * are the relational decomposition of its dataflow plus the north-star
  * query capabilities. Everything is plain `DataFrame` code: Catalyst does
  * pushdown/pruning/join-selection/partial-agg for free (SURVEY §4.2); the
  * only explicit physical choices are `broadcast()` on genuinely-small
  * dimensions (#10) and a `merge` hint on the large-large join (#11), which
  * at harness SFs would otherwise auto-broadcast — at 100 TB both sides of
  * #11 are huge and sort-merge-join on the shuffled key is the right plan.
  *
  * Every floating output is rounded at the edge; every window order ends
  * in a unique key (SURVEY §7.4).
  */
object Queries {

  /** Cross-engine deterministic rounding: floor(x*10^n + 0.5)/10^n, with
    * the identical formula substituted into each DuckDB twin (`duckify`
    * rewrites the `rnd(expr, n)` notation the oracle strings use). Spark's
    * builtin `round()` rounds the shortest-decimal repr half-up via
    * BigDecimal while DuckDB rounds the binary double — guaranteed
    * divergence on values like 1222.745 (binary 1222.74499…). Evaluating
    * one identical double expression on both engines is bit-exact by
    * construction.
    */
  private[graft] def rnd(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p + 0.5) / p
  }
  private[graft] def rndSql(e: String, n: Int): String = {
    val p = "1" + ("0" * n) + "e0"
    s"floor(($e) * $p + 0.5e0) / $p"
  }

  /** Shared DuckDB SQL fragments for vector math — ONE definition of the
    * load-bearing "same element-order fold as the fused expressions"
    * contract (SparkEntry and AnnSearch both build oracles from these;
    * a second copy could silently diverge).
    */
  private[graft] def l2Sql(a: String, b: String): String =
    s"sqrt(list_sum(list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2]))))"
  private[graft] def l2sqSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2])))"
  private[graft] def l1Sql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> abs(p[1]-p[2])))"
  private[graft] def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2]))"

  /** Rewrite every `rnd(expr, n)` in an oracle SQL string to the floor
    * formula (balanced-paren aware, recursive). Keeps the twins readable
    * while guaranteeing both engines evaluate the same expression.
    */
  private[graft] def duckify(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (sql.startsWith("rnd(", i)) {
        var depth = 1; var j = i + 4; var lastComma = -1
        while (depth > 0) {
          sql(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 1 => lastComma = j
            case _ =>
          }
          j += 1
        }
        require(lastComma > 0, s"rnd() without scale arg in: $sql")
        val e = sql.substring(i + 4, lastComma).trim
        val n = sql.substring(lastComma + 1, j - 1).trim.toInt
        out.append(rndSql(duckify(e), n))
        i = j
      } else { out.append(sql(i)); i += 1 }
    }
    out.toString
  }

  // #2 — predicate + column pruning pushed into the parquet scan.
  def scanFilterPrune(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  // #4 — the reference's KEEL min-max normalization, demoed on a scalar
  // (SURVEY §2.4). Bounds via 1-row agg + broadcast cross join: one extra
  // pass, no single-partition window over the whole table.
  def normalizeMinmax(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val mm = li.agg(min("l_quantity").as("mn"), max("l_quantity").as("mx"))
    li.crossJoin(broadcast(mm))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        rnd((col("l_quantity") - col("mn")) / (col("mx") - col("mn")), 6).as("q_norm"))
  }

  // #5 — scalar math surface (the distance-formula components).
  def scalarMath(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      rnd(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("disc_price"),
      rnd(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
      rnd(pow(col("l_discount"), 2.0), 6).as("disc_sq"))

  // #6 — string surface: upper / substring / split+element_at / LIKE.
  def scalarString(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      substring(col("p_type"), 1, 6).as("type_pre"),
      element_at(split(col("p_type"), " "), 1).as("type_first"),
      when(col("p_brand").like("Brand#1%"), 1).otherwise(0).as("b1"))

  // scalar_regex — regex surface: extract / replace-all / match / count.
  // Patterns stay in the RE2 ∩ Java-regex common subset; DuckDB's
  // regexp_replace needs the explicit 'g' flag to match Spark's
  // replace-all semantics.
  def scalarRegex(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      regexp_extract(col("p_type"), "([A-Za-z]+)$", 1).as("type_last"),
      regexp_replace(col("p_type"), " ", "_").as("type_snake"),
      when(col("p_name").rlike("[aeiou]{2}"), 1).otherwise(0).as("has_vv"),
      size(expr("regexp_extract_all(p_name, '[aeiou]', 0)")).as("n_vowels"))

  // null_handling — NULL-logic surface (coalesce / nullif / null
  // predicates). The fixture tables are NULL-free, so NULLs are
  // *manufactured* with nullif and collapsed back with coalesce — the
  // output stays NULL-free for the hash gate while the plan exercises
  // null semantics end to end.
  def nullHandling(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      coalesce(expr("nullif(o_orderstatus, 'O')"), lit("(open)")).as("status_c"),
      when(expr("nullif(o_orderstatus, 'O')").isNull, 1).otherwise(0).as("was_open"),
      coalesce(expr("nullif(o_orderpriority, '1-URGENT')"), lit("(urgent)")).as("prio_c"))

  // #7 — date surface: truncate + extract. Month emitted as a string key
  // (timestamp columns hash differently across engines' parquet writers).
  def scalarDate(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"), rnd(sum("o_totalprice"), 2).as("tot"))
      .select(
        date_format(col("m"), "yyyy-MM").as("mon"),
        year(col("m")).as("y"), month(col("m")).as("m_of_y"),
        col("n_orders"), col("tot"))

  // #8 — JSON extraction from the events props column.
  def scalarJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  // #9 — array surface: size, element access, higher-order reduce.
  def arrayOps(s: SparkSession, d: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      rnd(aggregate(v, lit(0.0), (acc, x) => acc + x), 6).as("vsum"),
      rnd(element_at(v, 1), 6).as("fst"))
  }

  // array_hof — the higher-order-function surface beyond #9's reduce:
  // filter / exists / forall / sorted slice, all codegen-planned over the
  // embedding arrays (aggregates of the derived arrays, never raw array
  // output — SURVEY §7.4 rule 7).
  def arrayHof(s: SparkSession, d: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(filter(v, x => x > 0)).as("n_pos"),
      when(exists(v, x => x > lit(2.0)), 1).otherwise(0).as("any_gt2"),
      when(forall(v, x => abs(x) < lit(10.0)), 1).otherwise(0).as("all_lt10"),
      rnd(element_at(array_sort(v), 1), 6).as("min_el"),
      rnd(aggregate(slice(array_sort(v), 1, 8), lit(0.0), (a, x) => a + x), 6).as("low8_sum"))
  }

  // #10 — small-dimension broadcast join (the reference's physical
  // placement for test-chunk × train, SURVEY §2.5 [LINEAGE]).
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), rnd(sum("o_totalprice"), 2).as("tot"))

  // #11 — large-large equi-join; `merge` hint pins sort-merge (at harness
  // SFs orders would auto-broadcast; at 100 TB SMJ-on-key is the plan).
  def joinShuffle(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).hint("merge")
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))

  // #12 — semi join: customers having orders.
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  // #13 — anti join: customers with no order since 2000 (the date filter
  // keeps the result non-empty at harness SFs, where every customer has
  // *some* order).
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  // #14 — range (θ) join on top of the equi key: lineitems shipped within
  // 90 days of their order's date.
  def joinRange(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(
        Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))

  /** join_interval_bin — KEYLESS point-in-interval join via time
    * binning, the scale pattern `join_range` doesn't need (it has an
    * equi key; a pure θ-join has none, and Spark's only native plan for
    * one is a broadcast nested loop or cartesian — both corpus² at
    * scale). Each 2-hour window (opened by every event of the
    * user_id < 20 slice) EXPLODES into the 1-hour bins it covers
    * (≤ ⌈len/bin⌉+1 rows per interval); each point maps to exactly ONE
    * bin; the join becomes an EQUI-join on the bin key (shuffle by bin
    * — time-distributed data spreads evenly) with the true interval
    * test as a residual filter. No dedup step: a point lives in one
    * bin, so each (window, point) pair can match at most once. Bin
    * width tunes fan-out vs selectivity (match ≈ interval length keeps
    * the blow-up ≤ 3×); per-window totals are one keyed agg.
    */
  def joinIntervalBin(s: SparkSession, d: String): DataFrame = {
    val binUs = 3600000000L // 1 h
    val winUs = 7200000000L // 2 h
    val ev = Tables.events(s, d)
    val wins = ev.filter(col("user_id") < 20)
      .select(col("event_id").as("w_id"), unix_micros(col("ts")).as("ws"))
      .select(col("w_id"), col("ws"), (col("ws") + winUs).as("we"))
      .select(col("w_id"), col("ws"), col("we"),
        explode(expr(s"sequence(ws div ${binUs}L, (we - 1) div ${binUs}L)")).as("bin"))
    val pts = ev.select(col("event_id").as("p_id"), unix_micros(col("ts")).as("pt"),
        col("value"))
      .withColumn("bin", expr(s"pt div ${binUs}L"))
    wins.join(pts, "bin")
      .filter(col("pt") >= col("ws") && col("pt") < col("we"))
      .groupBy(col("w_id"))
      .agg(count(lit(1)).as("n_in"), rnd(sum(col("value")), 6).as("sum_value"))
  }

  // join_full_outer — both-side-preserving join: high-balance customers
  // vs per-customer 1995 order counts; unmatched sides surface with
  // sentinel values (coalesce keeps the output NULL-free).
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_1995"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_name"), lit("(none)")).as("c_name"),
        coalesce(col("n_1995"), lit(0L)).as("n_1995"),
        when(col("c_custkey").isNull, 0).otherwise(1).as("in_cust"),
        when(col("o_custkey").isNull, 0).otherwise(1).as("in_ord"))
  }

  // as-of join: for each error event, the most recent prior click of the
  // same user. Formulated as a running `max(CASE …) OVER` instead of a
  // range self-join — one shuffle by user, no quadratic candidate pairs;
  // the classic scalable as-of shape.
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "error")
      // no-prior-click → -1: keeps the output column NULL-free (the
      // driver's hash treatment of NULL cells is not contract-specified)
      .select(col("event_id"), col("user_id"),
        coalesce(col("last_click_us"), lit(-1L)).as("last_click_us"))
  }

  // join_asof_tol — the as-of join with a TOLERANCE bound (pandas
  // merge_asof(tolerance=…) parity, the form sensor/trade enrichment
  // actually runs: a stale match is as useless as none). Same running
  // max(CASE) window — the most recent prior click is the ONLY
  // tolerance candidate (anything else is older), so the bound is one
  // post-window CASE, not a different join. 1-hour tolerance over the
  // same error←click pairing; misses and stale matches both → -1.
  /** Tolerance shared by `joinAsofTol` and its oracle twin (the
    * `corpusShuffleSql` one-constant-both-engines discipline). */
  private[graft] val AsofTolUs = 3600000000L

  def joinAsofTol(s: SparkSession, d: String, tolUs: Long = AsofTolUs): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        when(col("last_click_us").isNotNull &&
            unix_micros(col("ts")) - col("last_click_us") <= tolUs,
          col("last_click_us")).otherwise(lit(-1L)).as("click_us_within_tol"))
  }

  // join_asof_fwd — the FORWARD as-of join (pandas direction='forward'):
  // for each error, the next click strictly after it in (ts, event_id)
  // order. min(CASE) over the mirrored frame (1 FOLLOWING → unbounded);
  // same one-shuffle-by-user scalable shape, no self-join.
  def joinAsofFwd(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(s, d)
      .withColumn("next_click_us",
        min(when(col("event_type") === "click", unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
        coalesce(col("next_click_us"), lit(-1L)).as("next_click_us"))
  }

  // join_asof_nearest — the NEAREST-direction as-of join (pandas
  // direction='nearest'): for each error, the click closest in time in
  // EITHER direction; ties break backward (the pandas rule). Composes
  // the backward (unbounded-preceding max) and forward (1-following
  // min) window forms over the SAME (user_id; ts, event_id) sort, so
  // Spark plans ONE shuffle + ONE sort for both frames — still no
  // self-join, no candidate-pair expansion.
  def joinAsofNearest(s: SparkSession, d: String): DataFrame = {
    val back = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val clickUs = when(col("event_type") === "click", unix_micros(col("ts")))
    Tables.events(s, d)
      .withColumn("prev_us", max(clickUs).over(back))
      .withColumn("next_us", min(clickUs).over(fwd))
      .filter(col("event_type") === "error")
      .withColumn("t", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"),
        when(col("prev_us").isNull && col("next_us").isNull, lit(-1L))
          .when(col("next_us").isNull, col("prev_us"))
          .when(col("prev_us").isNull, col("next_us"))
          .when(col("t") - col("prev_us") <= col("next_us") - col("t"),
            col("prev_us"))
          .otherwise(col("next_us")).as("nearest_click_us"))
  }

  /** Blocked fuzzy string matching over an arbitrary (id, name, blk)
    * frame — the entity-resolution primitive (dedupe "Acme Corp" vs
    * "Acme Corp."): block on the equi-key, verify within blocks with
    * Levenshtein ≤ `maxDist`. The block join IS the scale story —
    * candidate pairs are Σ|block|², never |P|² (the
    * bucket-join-not-cross-join shape every dedup signature here uses).
    *
    * The block KEY decides whether that sum survives growth: a
    * fixed-cardinality key (the declared row's 25-value brand) makes
    * blocks grow linearly with the table and Σ|block|² quadratically —
    * fine for a bounded demo slice, fatal at 100×. Real ER blocks on
    * normalized prefixes/phonetics whose cardinality TRACKS the data
    * (PipelineScaleProbe's editdist leg puts numbers on both keys), and
    * the `maxPerBlock` runtime guard (the `coOrderEdges` precedent)
    * raises a descriptive error instead of silently generating a
    * quadratic map stage when a key degenerates. The guard's window
    * count shuffles by the same `blk` key the join itself uses.
    */
  def editDistBlocked(df: DataFrame, maxDist: Int,
      maxPerBlock: Int = 10000): DataFrame = {
    val guarded = df
      .withColumn("nblk", count(lit(1)).over(Window.partitionBy(col("blk"))))
      .select(col("id"),
        when(col("nblk") > maxPerBlock,
          raise_error(concat(
            lit("editDistBlocked: block "), col("blk").cast("string"),
            lit(" holds "), col("nblk").cast("string"),
            lit(s" members > maxPerBlock=$maxPerBlock — in-block verify is " +
              "quadratic per block; block on a key whose cardinality tracks " +
              "the data (normalized prefix/phonetic), or sample heavy blocks"))))
          .otherwise(col("name")).as("name"),
        col("blk"))
    guarded.select(col("id").as("pk1"), col("name").as("n1"), col("blk"))
      .join(guarded.select(col("id").as("pk2"), col("name").as("n2"), col("blk")), "blk")
      .filter(col("pk1") < col("pk2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")))
      .filter(col("dist") <= maxDist)
      .select(col("pk1"), col("pk2"), col("dist"))
  }

  // similarity_editdist — the declared row: parts blocked on brand,
  // Levenshtein ≤ 5. Edit distance is an INTEGER — exact in both
  // engines, no rounding discipline needed. Slice keeps the oracle's
  // block scan bounded; the operator is slice-independent.
  def editDistPairs(s: SparkSession, d: String): DataFrame =
    editDistBlocked(
      Tables.part(s, d).filter(col("p_partkey") < 200)
        .select(col("p_partkey").as("id"), col("p_name").as("name"),
          col("p_brand").as("blk")),
      maxDist = 5)

  // agg_corr — per-group Pearson correlation + sample covariance
  // (quantity vs price per return flag): the bivariate profiling
  // aggregate (feature-redundancy checks, drift monitors). Assembled
  // from EXPLICIT raw-moment averages — avg(x), avg(y), avg(xy),
  // avg(x²), avg(y²) — with the identical formula in both engines (the
  // agg_moments discipline), NOT the engines' internal one-pass
  // co-moment updates, whose M2/Mxy merge orders are engine-specific:
  // covar_qp is an O(10⁴)-magnitude output, so the 6-dp round demands
  // ~1e-10 relative agreement, too tight to lean on internals staying
  // coincidentally aligned across SFs/partition counts. Still one keyed
  // aggregation with map-side partials.
  def aggCorr(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), avg(x).as("mx"), avg(y).as("my"),
        avg(x * y).as("mxy"), avg(x * x).as("mxx"), avg(y * y).as("myy"))
      .select(col("l_returnflag"), col("n"),
        rnd((col("mxy") - col("mx") * col("my")) /
          sqrt((col("mxx") - col("mx") * col("mx")) *
            (col("myy") - col("my") * col("my"))), 6).as("corr_qp"),
        rnd((col("mxy") - col("mx") * col("my")) *
          (col("n") / (col("n") - lit(1.0))), 6).as("covar_qp"))
  }

  /** sketch_countmin — Count-Min frequency sketch (depth 4 × width 64)
    * over part brands, with the point-query estimates read back out
    * next to the exact counts. Unlike HLL/KLL (whose merge internals
    * are engine-specific — `agg_hll` stays rows-only by design), CMS is
    * DETERMINISTIC given its hash family, so the full build + estimate
    * is reproducible in any engine and this row is oracle-gated end to
    * end. Hash_j(k) = first two md5 hex chars of "j:k" mod width (the
    * `sample_hash` cross-engine md5 discipline). Build = one
    * depth-way explode + (j, cell)-keyed count — the sketch aggregates
    * MAP-SIDE into ≤ depth×width cells per partition, so at 100 TB the
    * shuffle moves a CONSTANT ≤256 rows per partition regardless of
    * corpus size; estimate = min over the depth rows (collisions only
    * ever over-count). The probe join is sketch-sized (AQE broadcasts
    * it). The same shape streams: each partial sketch is the same 256
    * cells, merged by cell-wise sum.
    */
  def sketchCountMin(s: SparkSession, d: String): DataFrame = {
    val depth = 4
    val width = 64
    def cellOf(j: Int, k: Column): Column =
      (conv(substring(md5(concat(lit(s"$j:"), k)), 1, 2), 16, 10)
        .cast("long") % width).cast("int")
    def probes(k: Column): Column =
      explode(array((1 to depth).map(j =>
        struct(lit(j).as("j"), cellOf(j, k).as("cell"))): _*))
    val part = Tables.part(s, d)
    val sketch = part
      .select(probes(col("p_brand")).as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))
    val truth = part.groupBy(col("p_brand")).agg(count(lit(1)).as("true_cnt"))
    truth
      .select(col("p_brand"), col("true_cnt"), probes(col("p_brand")).as("jc"))
      .select(col("p_brand"), col("true_cnt"), col("jc.j").as("j"), col("jc.cell").as("cell"))
      .join(sketch, Seq("j", "cell"))
      .groupBy(col("p_brand"), col("true_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .select(col("p_brand"), col("est_cnt"), col("true_cnt"))
  }

  // agg_mode — deterministic modal value per group. Engine-native mode()
  // breaks frequency ties arbitrarily in BOTH Spark and DuckDB — useless
  // under a hash gate — so this is the window formulation with the total
  // (cnt DESC, value ASC) order, the agg_argmax discipline. One keyed
  // count + a group-count-sized window: the window input is |groups| ×
  // |distinct values|, never corpus rows.
  def modeBy(df: DataFrame, key: String, value: String): DataFrame = {
    val counts = df.groupBy(col(key), col(value)).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(key)).orderBy(col("cnt").desc, col(value))
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(key), col(value).as("mode_value"), col("cnt").as("mode_cnt"))
  }

  // declared row: most frequent o_orderpriority per order status
  def aggMode(s: SparkSession, d: String): DataFrame =
    modeBy(Tables.orders(s, d), "o_orderstatus", "o_orderpriority")
      .select(col("o_orderstatus"), col("mode_value").as("mode_priority"),
        col("mode_cnt"))

  // window_cume_dist — distribution-rank analytics: percent_rank =
  // (rank−1)/(n−1) and cume_dist = |rows ≤ current|/n per event_type.
  // Tied values share a rank in both engines, so the outputs are
  // deterministic without an id tie-break; the integer-ratio division
  // is identical double arithmetic on both sides. One partition-sort
  // per key, the standard window shuffle.
  def windowCumeDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        rnd(percent_rank().over(w), 6).as("pct_rank"),
        rnd(cume_dist().over(w), 6).as("cume"))
  }

  // pivot: per-user event-type counts as columns (EXPAND-free conditional
  // aggregation; the values list is pinned so both engines emit the same
  // schema).
  def aggPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)

  // #16 — TPC-H-Q1-style hash aggregation (partial+final automatic).
  def aggGroupby(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        rnd(sum("l_quantity"), 2).as("sum_qty"),
        rnd(sum("l_extendedprice"), 2).as("sum_base"),
        rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc"),
        rnd(avg("l_quantity"), 6).as("avg_qty"),
        rnd(avg("l_extendedprice"), 6).as("avg_price"),
        count(lit(1)).as("n"))

  // #17 — distinct aggregation (EXPAND + 2-phase automatic).
  def aggDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"), count(lit(1)).as("n"))

  // #18 — rollup with grouping indicators. Subtotal-row NULLs are
  // projected to '(all)' so the output is NULL-free (grouping() still
  // carries the subtotal semantics).
  def aggRollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast("int").as("g1"),
        grouping(col("o_orderpriority")).cast("int").as("g2"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("o_orderpriority"),
        col("n"), col("g1"), col("g2"))

  // agg_cube — full grouping-set lattice over (status, priority) with
  // grouping indicators; same '(all)' NULL-projection as the rollup.
  def aggCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        rnd(sum("o_totalprice"), 2).as("tot"),
        grouping(col("o_orderstatus")).cast("int").as("g1"),
        grouping(col("o_orderpriority")).cast("int").as("g2"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("o_orderpriority"),
        col("n"), col("tot"), col("g1"), col("g2"))

  // agg_collect_sorted — list aggregation made hash-stable: the collected
  // set is sorted and joined to ONE string (SURVEY §7.4 rule 7 — never
  // emit unordered arrays).
  def aggCollectSorted(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
        count(lit(1)).as("n"))

  // histogram binning: fixed-width buckets over order totals — the
  // distribution-profiling primitive (fixed width keeps it one pass and
  // engine-agnostic; data-dependent bounds would need the minmax pattern
  // of #4).
  def aggHistogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 50000.0).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"), rnd(sum("o_totalprice"), 2).as("tot"))

  // join_skew_salted — the manual skew lever as a declared query: the
  // orders⋈customer join with the left side salted 4 ways (hot keys
  // spread over 4 sub-keys, right side replicated per salt). Salting is
  // OUTPUT-INVISIBLE — the oracle is the plain join, which is exactly
  // the point: physical spreading, identical results (SkewSpec asserts
  // the same for a synthetically hot key).
  def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    val l = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_custkey").as("ck"))
    val r = Tables.customer(s, d).select(col("c_custkey").as("ck"), col("c_name"))
    Skew.saltedJoin(l, r, "ck", salts = 4)
      .select(col("o_orderkey"), col("o_custkey"),
        rnd(col("o_totalprice"), 2).as("o_totalprice"), col("c_name"))
  }

  // agg_topk_freq — grouped heavy hitters: the 3 most active users per
  // event type, tie-break (n DESC, user_id ASC). Reuses the native
  // bounded-heap top-k aggregate on NEGATED counts (the heap orders
  // ascending by (dist, id), so -n gives count-descending) — frequency
  // ranking rides the same ≤k-rows-per-partition shuffle as kNN instead
  // of a per-group sort window. The count aggregation underneath is the
  // usual partial+final hash agg.
  def aggTopkFreq(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val pairs = counts.select(col("event_type").as("q_id"),
      col("user_id").as("t_id"), negate(col("n").cast("double")).as("dist"))
    graft.functions.TopKAgg.knn(pairs, 3)
      .select(col("q_id").as("event_type"), col("t_id").as("user_id"),
        negate(col("dist")).cast("long").as("n"), col("rn"))
  }

  // per-group exact quantiles (linear interpolation — Spark `percentile`
  // and DuckDB `quantile_cont` share the p·(n−1) convention).
  def aggQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        rnd(expr("percentile(o_totalprice, 0.5)"), 2).as("med"),
        rnd(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        count(lit(1)).as("n"))

  /** outlier_iqr — per-group Tukey-fence outlier detection: Q1/Q3 as
    * DISCRETE quantiles (the value at rank ⌈q·n⌉ ordered by value — an
    * actual data value, so both engines pick the identical double; the
    * interpolated `percentile_cont` family mixes engine arithmetic into
    * the quantile itself), fences at ±1.5·IQR, and the outlier count per
    * group. The robust-statistics screen a feature pipeline runs before
    * trusting min/max normalization (`normalize_minmax` is exactly the
    * operator an undetected outlier poisons).
    *
    * Fence arithmetic is three exact-rounded IEEE ops on identical
    * inputs — deterministic cross-engine, so the `v < lo` boundary
    * cannot flip. Scale: one partition-sort per group for the ranks
    * (the window shuffle every quantile needs), then a 3-row broadcast
    * join back; nothing else touches corpus rows twice.
    */
  def outlierIqr(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
    val ranked = li
      .withColumn("rn", row_number().over(Window.partitionBy("flag").orderBy("v")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("flag")))
    val q = ranked.groupBy("flag").agg(
      max(when(col("rn") === ceil(col("n") * 0.25), col("v"))).as("q1"),
      max(when(col("rn") === ceil(col("n") * 0.75), col("v"))).as("q3"))
    li.join(broadcast(q), "flag")
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
      .groupBy("flag")
      .agg(
        rnd(max(col("q1")), 6).as("q1"),
        rnd(max(col("q3")), 6).as("q3"),
        rnd(max(col("lo")), 6).as("lo"),
        rnd(max(col("hi")), 6).as("hi"),
        count(when(col("v") < col("lo") || col("v") > col("hi"), 1)).as("n_out"))
      .withColumnRenamed("flag", "l_returnflag")
  }

  /** agg_string_agg — deterministic listagg: the distinct values per
    * group as one SORTED comma-joined string (reporting/export surface;
    * engine-native string_agg is input-order-dependent, so the sort is
    * the only hash-gateable form — the `agg_collect_sorted` discipline
    * applied to strings). collect_set + array_sort keeps the aggregate
    * map-side-combinable; the joined string is vocabulary-sized.
    */
  def aggStringAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"),
        countDistinct(col("o_orderpriority")).as("n_prio"))

  // agg_stats — second-moment statistics (stddev/variance/covariance/
  // correlation). Deliberately over SMALL-magnitude columns (quantity,
  // discount): second moments of ~1e5-scale values over 600k rows lose
  // enough double precision to partition-order merge effects that a
  // 6-dp round would flap cross-engine; small magnitudes keep both
  // engines bit-stable within the rounding.
  def aggStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        rnd(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        rnd(var_samp(col("l_quantity")), 6).as("var_qty"),
        rnd(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
        rnd(corr(col("l_quantity"), col("l_discount")), 6).as("corr_qd"),
        count(lit(1)).as("n"))

  /** agg_moments — third/fourth-moment shape statistics (skewness,
    * excess kurtosis) via EXPLICIT raw-moment averages, not the
    * engines' internal one-pass M2/M3/M4 updates (which accumulate in
    * engine-specific orders — the corpus_zipf lesson): both engines
    * compute avg(x), avg(x²), avg(x³), avg(x⁴) with the identical
    * expressions and assemble the identical formula. Small-magnitude
    * column (quantity, 1..50) for the same partition-order stability
    * reason as agg_stats; one partial-combine aggregation.
    */
  def aggMoments(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(avg(x).as("m1"), avg(x * x).as("m2"), avg(x * x * x).as("m3"),
        avg(x * x * x * x).as("m4"), count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"),
        rnd((col("m3") - lit(3.0) * col("m1") * col("m2")
            + lit(2.0) * col("m1") * col("m1") * col("m1")) /
          pow(col("m2") - col("m1") * col("m1"), 1.5), 6).as("skewness"),
        rnd((col("m4") - lit(4.0) * col("m1") * col("m3")
            + lit(6.0) * col("m1") * col("m1") * col("m2")
            - lit(3.0) * col("m1") * col("m1") * col("m1") * col("m1")) /
          pow(col("m2") - col("m1") * col("m1"), 2.0) - lit(3.0), 6).as("kurtosis"))
  }

  // data-profiling: row/distinct/min/max summary of a table in one pass.
  def dataProfile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_returnflag")).as("n_flags"),
      sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_flags"),
      rnd(min("l_quantity"), 6).as("min_qty"),
      rnd(max("l_quantity"), 6).as("max_qty"),
      rnd(avg("l_quantity"), 6).as("avg_qty"))

  // #24 — running-frame analytic window (cumulative sum per user).
  def windowAnalytic(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).select(
      col("user_id"), col("event_id"),
      rnd(sum(col("value")).over(w), 6).as("run_sum"))
  }

  // window_lead_lag — offset window functions: previous/next/first event
  // per user (sentinel -1 keeps the output NULL-free at sequence edges).
  def windowLeadLag(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).select(
      col("user_id"), col("event_id"),
      coalesce(lag(col("event_id"), 1).over(order), lit(-1L)).as("prev_id"),
      coalesce(lead(col("event_id"), 1).over(order), lit(-1L)).as("next_id"),
      first(col("event_id")).over(run).as("first_id"))
  }

  // #25 — ranking window: top-3 orders per customer.
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), rnd(col("o_totalprice"), 2).as("price"), col("rn"))
  }

  // window_ntile — distribution windows: quartile bucket, percent_rank,
  // cume_dist per order within its status (order key made total by
  // o_orderkey, §7.4 rule 3).
  def windowNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      ntile(4).over(w).as("quartile"),
      rnd(percent_rank().over(w), 6).as("pr"),
      rnd(cume_dist().over(w), 6).as("cd"))
  }

  // scalar_hash — content-hashing surface (dedup/fingerprint building
  // blocks): md5 and sha-256 hex digests.
  def scalarHash(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      md5(col("p_name")).as("h_md5"),
      sha2(col("p_name"), 256).as("h_sha256"))

  // window_range_frame — RANGE frame (vs #24's ROWS): trailing-hour sum
  // per user over the event-time axis. Range frames are tie-safe by
  // construction (peers share the frame), so no unique-key suffix is
  // needed on the ORDER BY — but the output still carries event_id as
  // the row identity.
  def windowRangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(-3599, Window.currentRow)
    Tables.events(s, d)
      // FLOOR division (pmod form) to match DuckDB's `//` — `div` alone
      // truncates toward zero and would differ by 1 s pre-1970
      .withColumn("ts_s",
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 1000000)) div 1000000"))
      .select(col("user_id"), col("event_id"),
        rnd(sum(col("value")).over(w), 6).as("hour_sum"))
  }

  // agg_grouping_sets — explicit GROUPING SETS (the lattice rollup/cube
  // can't express: two independent single-column subtotals + grand
  // total, no (status, priority) cell). SQL-text form — the DataFrame
  // API routes grouping sets through SQL anyway.
  def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql("""
      SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
             coalesce(o_orderpriority, '(all)') AS o_orderpriority,
             count(*) AS n,
             cast(grouping(o_orderstatus) AS int) AS g1,
             cast(grouping(o_orderpriority) AS int) AS g2
      FROM graft_orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
  }

  // #26 — global top-k (TakeOrderedAndProject; deterministic total order).
  def sortLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), rnd(col("o_totalprice"), 2).as("price"))

  // #27 — set operations on key sets (INTERSECT / EXCEPT / UNION ALL).
  def setOps(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"))
    val ordKeys = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    val both = cust.intersect(ordKeys).select(lit("both").as("tag"), col("c_custkey"))
    val only = cust.except(ordKeys).select(lit("cust_only").as("tag"), col("c_custkey"))
    both.unionAll(only)
  }

  // join_bloom_prune — the manual runtime-filter lever: lineitem is
  // Bloom-pruned on l_orderkey against a selective orders subset BEFORE
  // the join shuffle (see BloomPrune scaladoc for the 100-TB rationale).
  // Pruning is output-invisible — false positives die in the real join —
  // so the oracle is the plain filtered join.
  def joinBloomPrune(s: SparkSession, d: String): DataFrame =
    BloomPrune.prunedJoin(
        Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d).filter(col("o_totalprice") > 470000), "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), rnd(sum(col("l_extendedprice")), 2).as("rev"))

  // sql_exists — correlated-subquery surface: EXISTS / NOT EXISTS plus a
  // correlated scalar subquery, submitted as SQL text. Exercises
  // Catalyst's subquery decorrelation (all three rewrite to joins —
  // semi, anti, and a left-outer aggregate — rather than per-row
  // re-execution, which is what makes them survive 100 TB).
  def sqlExists(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql("""
      SELECT c_custkey, c_mktsegment,
             (SELECT count(*) FROM graft_orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000) AS n_big
      FROM graft_customer c
      WHERE EXISTS (SELECT 1 FROM graft_orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        AND NOT EXISTS (SELECT 1 FROM graft_orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""")
  }

  // agg_argmax — max_by/min_by: which event carried the extreme value
  // per type. Struct-valued ordering key makes ties deterministic
  // (value, then event_id) — the oracle's window form spells out the
  // same ORDER BY.
  def aggArgmax(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        max_by(col("event_id"), struct(col("value"), col("event_id"))).as("max_event"),
        min_by(col("event_id"), struct(col("value"), col("event_id"))).as("min_event"),
        rnd(max(col("value")), 6).as("max_v"),
        rnd(min(col("value")), 6).as("min_v"))

  // sql_lateral — correlated LATERAL subquery with per-row ORDER BY +
  // LIMIT (top-2 orders per customer): the SQL spelling of grouped
  // top-k. Catalyst decorrelates the lateral into a join + per-key
  // limit rather than re-running the subquery per row — the same class
  // of rewrite `GroupedTopKRewrite` provides for the window spelling.
  def sqlLateral(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql("""
      SELECT c.c_custkey, o.o_orderkey,
             floor(o.o_totalprice * 100 + 0.5) / 100 AS price
      FROM graft_customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM graft_orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      WHERE c.c_custkey < 100""")
  }

  // sql_recursive — WITH RECURSIVE (Spark 4 SQL frontend): walk each
  // user's event chain from their first event while inter-event gaps
  // stay ≤ 30 min, reporting the first session's length. Linear
  // recursion — the walk CARRIES the current timestamp so each step is
  // ONE equi-join against the numbered event frame (not a cur+nxt
  // double join), and the declared semantics cap the walk at 64 steps:
  // Spark's recursion-level limit is a hard ERROR, not a truncation,
  // so an uncapped walk would turn one 100-event session at a larger
  // SF into a query failure — the cap makes the query total at any
  // scale and the oracle computes the identical capped value.
  def sqlRecursive(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("graft_events")
    s.sql("""
      WITH RECURSIVE ev AS (
        SELECT user_id, unix_micros(ts) AS t, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM graft_events),
      walk AS (
        SELECT user_id, rn, t, 1 AS len FROM ev WHERE rn = 1
        UNION ALL
        SELECT nxt.user_id, nxt.rn, nxt.t, w.len + 1
        FROM walk w
        JOIN ev nxt ON nxt.user_id = w.user_id AND nxt.rn = w.rn + 1
        WHERE nxt.t - w.t <= 1800000000 AND w.len < 64)
      SELECT user_id, cast(max(len) AS BIGINT) AS first_session_len
      FROM walk GROUP BY user_id""")
  }

  // reshape_unpivot — wide→long melt (the inverse of agg_pivot) via the
  // Dataset unpivot API: three lineitem measures become (measure, value)
  // rows. Pure generator-shaped map (Expand node), zero shuffle, 3×
  // row-count output — the reshaping step feature pipelines run before
  // a long-format aggregation.
  def reshapeUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")

  // sql_q3 — the SQL-frontend surface: the classic shipping-priority
  // join/agg/top-k (TPC-H Q3 shape) submitted as SQL TEXT over temp
  // views and planned by the same Catalyst pipeline as the DataFrame
  // queries. The rounding formula is written out so both engines
  // evaluate the identical expression.
  def sqlQ3(s: SparkSession, d: String): DataFrame = {
    // graft_-prefixed view names: query builders must not clobber a
    // library user's own temp views (catalog state is session-global)
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT l_orderkey,
             floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100 AS revenue,
             count(*) AS n
      FROM graft_customer JOIN graft_orders ON c_custkey = o_custkey
      JOIN graft_lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      GROUP BY l_orderkey
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""")
  }

  /** sketch_kmv — K-Minimum-Values distinct-count estimator (k = 64)
    * over part keys: keep the k smallest 60-bit hashes of the distinct
    * values; estimate = (k−1)/h₍ₖ₎ with h normalized to [0,1). Like
    * `sketch_countmin` (and unlike `agg_hll`, rows-only by design), KMV
    * is DETERMINISTIC given its hash — md5 hex, the `sample_hash`
    * cross-engine discipline; 15 hex chars = 60 bits fits BIGINT, and
    * fixed-width hex sorts lexicographically ≡ numerically, so the
    * "k smallest" selection needs no numeric conversion until the ONE
    * selected hash. Sketch state is k values per partition merged by
    * re-selection (a sort-limit): mergeable, constant-size, streamable —
    * the estimator family production count-distinct sketches
    * (HLL/KMV/theta) come from, here in its exactly-reproducible form.
    * True count rides along to make the row self-checking.
    */
  def sketchKmv(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val distinctKeys = Tables.lineitem(s, d).select(col("l_partkey")).distinct()
    val hashed = distinctKeys
      .select(substring(md5(col("l_partkey").cast("string")), 1, 15).as("hx"))
    val kth = hashed.orderBy(col("hx")).limit(k)
      .agg(max(col("hx")).as("hk"), count(lit(1)).as("kk"))
    val truth = broadcast(distinctKeys.agg(count(lit(1)).as("true_distinct")))
    kth.crossJoin(truth)
      .select(lit(k.toLong).as("k"), col("true_distinct"),
        rnd(when(col("kk") < k, col("kk").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976e0) /
            conv(col("hk"), 16, 10).cast("double")), 4).as("est_distinct"))
  }

  // sql_q5 — local-supplier revenue by nation inside one region (TPC-H Q5
  // shape): the five-way join where c_nationkey = s_nationkey is the
  // load-bearing "customer bought from a LOCAL supplier" predicate.
  // nation/region are broadcast (O(1) rows at any SF); customer⋈orders⋈
  // lineitem⋈supplier shuffle on their keys. Revenue is summed in EXACT
  // e4 integer units (price is 2-decimal, discount 2-decimal — checked
  // against the generator: max |price*100 − round| < 1e-9 — so
  // floor(x*100+0.5) snaps both engines to the identical BIGINT): a
  // per-nation double sum at 100 TB accumulates order-dependent
  // rounding that a BIGINT sum simply doesn't have.
  def sqlQ5(s: SparkSession, d: String): DataFrame = {
    val priceE2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val discE2 = floor(col("l_discount") * 100 + 0.5).cast("long")
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(sum(priceE2 * (lit(100L) - discE2)).as("rev_e4"),
        count(lit(1)).as("n"))
      .select(col("n_name"), rnd(col("rev_e4") / 1e4, 2).as("revenue"), col("n"))
  }

  // sql_q17 — small-quantity-order revenue per brand (TPC-H Q17 shape):
  // the correlated "quantity below 20 % of this part's average" subquery,
  // written decorrelated (per-part avg aggregate + equi-join) — the form
  // Catalyst's DecorrelateInnerQuery would produce, and the only form
  // that scales: the correlated rewrite re-scans lineitem per part.
  // avg(l_quantity) is exact (quantities are integer-valued doubles, sums
  // < 2^53), so the 0.2·avg threshold is the identical double in both
  // engines and the < comparison cannot flip at the boundary. Revenue
  // sums in exact e2 integer units (see sqlQ5).
  def sqlQ17(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val partAvg = li.groupBy(col("l_partkey").as("pa_partkey"))
      .agg(avg("l_quantity").as("avg_qty"))
    li.join(Tables.part(s, d).filter(col("p_brand").isin("Brand#11", "Brand#12", "Brand#13")),
        col("l_partkey") === col("p_partkey"))
      .join(partAvg, col("l_partkey") === col("pa_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .groupBy(col("p_brand"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("rev_e2"),
        count(lit(1)).as("n"))
      .select(col("p_brand"), rnd(col("rev_e2") / 100e0 / 7.0e0, 2).as("avg_yearly"), col("n"))
  }

  // agg_regression — per-group least-squares fit of extendedprice on
  // quantity (the SQL:2003 regr_* family) assembled from EXPLICIT raw
  // moments, the agg_corr discipline: engine-internal regr_slope
  // co-moment merge orders differ, one shared raw-moment formula cannot.
  // One hash aggregate, map-side partials — the classic "fit a trend per
  // key" scan shape that is a single pass at any scale.
  def aggRegression(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), avg(x).as("mx"), avg(y).as("my"),
        avg(x * y).as("mxy"), avg(x * x).as("mxx"), avg(y * y).as("myy"))
      .select(col("l_returnflag"), col("n"),
        rnd(((col("mxy") - col("mx") * col("my")) /
          (col("mxx") - col("mx") * col("mx"))), 6).as("slope"),
        rnd(col("my") - (col("mxy") - col("mx") * col("my")) /
          (col("mxx") - col("mx") * col("mx")) * col("mx"), 6).as("intercept"),
        rnd(((col("mxy") - col("mx") * col("my")) * (col("mxy") - col("mx") * col("my"))) /
          ((col("mxx") - col("mx") * col("mx")) * (col("myy") - col("my") * col("my"))), 6)
          .as("r2"))
  }

  /** join_spatial_grid — 2D radius join via grid bucketing: all customer
    * pairs within Euclidean distance r of each other in a synthetic
    * plane (x = account balance, y = a deterministic key-derived
    * coordinate — the harness has no geo columns; the OPERATOR is the
    * standard geospatial neighbor-join shape). Each point lands in one
    * r×r grid cell; the LEFT side expands to its 3×3 neighborhood of
    * cells (a 9× generator, constant), the join is a cell EQUI-join,
    * and the exact distance predicate filters survivors. This replaces
    * the O(n²) cross join with Σ|cell|·|neighborhood| pairs — the 2D
    * sibling of the 1D `join_interval_bin` binning and the geohash
    * pattern every spatial engine ships. Canonical a < b keeps pairs
    * unique (the self-join visits each unordered pair once from the
    * smaller id's neighborhood expansion).
    *
    * Distance compares on doubles both engines derive from identical
    * 2-decimal inputs with the identical expression — no boundary flip.
    */
  def joinSpatialGrid(s: SparkSession, d: String, r: Double = 100.0): DataFrame =
    spatialGridJoinPts(
      Tables.customer(s, d).select(
        col("c_custkey").as("id"), col("c_acctbal").as("x"),
        (pmod(col("c_custkey"), lit(89)) * 50.0).as("y")), r)

  /** Core of `join_spatial_grid` over any (id, x, y) frame — the round-8
    * scale run (SCALE.md) drove this at 10⁵-10⁶ points.
    */
  private[graft] def spatialGridJoinPts(pts: DataFrame, r: Double): DataFrame = {
    val cell = pts
      .withColumn("cx", floor(col("x") / r).cast("long"))
      .withColumn("cy", floor(col("y") / r).cast("long"))
    val probe = cell.select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        explode(expr("transform(sequence(-1, 1), dx -> dx)")).as("dx"), col("cx"), col("cy"))
      .select(col("a_id"), col("ax"), col("ay"), (col("cx") + col("dx")).as("gx"),
        explode(expr("transform(sequence(-1, 1), dy -> dy)")).as("dy"), col("cy"))
      .select(col("a_id"), col("ax"), col("ay"), col("gx"), (col("cy") + col("dy")).as("gy"))
    val build = cell.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"),
      col("cx").as("gx"), col("cy").as("gy"))
    probe.join(build, Seq("gx", "gy"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist", sqrt((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by"))))
      .filter(col("dist") <= r)
      .select(col("a_id"), col("b_id"), rnd(col("dist"), 6).as("dist"))
  }

  // sql_q4 — order-priority checking (TPC-H Q4 shape): orders in a
  // quarter with at least one lineitem shipped after the order date,
  // counted per priority. The EXISTS correlation plans as a LEFT SEMI
  // join (one pass over each side, no row duplication however many
  // lineitems match) — the decorrelation Catalyst applies and the only
  // shape that scales.
  def sqlQ4(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
    val late = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1995-01-01").cast("timestamp"))
    o.join(late, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** agg_gini — Gini coefficient of the order-value distribution: the
    * revenue-concentration scalar ("do 1 % of orders carry half the
    * money?") every marketplace/corpus-balance report leads with.
    * Exact rank formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over x sorted
    * ascending with the (x, key) total order; prices in exact e2
    * integer units so Σ i·xᵢ is a BIGINT (no float until the one
    * closing expression). The rank is a global window over orders —
    * rank semantics are global (`events_rfm` note); everything else is
    * one aggregate.
    */
  // SCALE SHAPE (the weighted-median/winsorize rewrite applied to the
  // remaining global-rank row): the row-level form ranks EVERY order
  // through one partition-less window. The rank-weighted sum only needs
  // per-VALUE counts — within a tied-value group the ranks are
  // consecutive integers whatever the tie order, so their sum is the
  // closed form c·(2C − c + 1)/2 (C = inclusive cumulative count), an
  // exact integer (c or 2C−c+1 is even). The cumulative window runs
  // over the DISTINCT-price frame — bounded by the price domain, not
  // the order count. Oracle keeps the row-rank window; the hash match
  // at three SFs is the identity's proof.
  def aggGini(s: SparkSession, d: String): DataFrame = {
    val h = Tables.orders(s, d)
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("p")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("cc", sum(col("c")).over(w))
      .agg(sum(col("c")).as("n"), sum(col("p") * col("c")).as("sp"),
        // integer `div`, not `/`: the rank-sum product approaches n² and
        // a double division would lose exactness past 2^53. The SUM runs
        // in DECIMAL(38,0) (round-9, ADVICE r8): Σ p·ranksum ≈ p̄·n²/2
        // ≈ 1.7e19 at sf1 — past Long.MaxValue, where Spark's non-ANSI
        // BIGINT sum would wrap silently while DuckDB sums in HUGEINT.
        // Each factor is cast to DECIMAL(19,0) so the product is the
        // exact DECIMAL(38,0) — no envelope left to document.
        sum(col("p").cast("decimal(19,0)") *
          expr("(c * (2 * cc - c + 1)) div 2").cast("decimal(19,0)")).as("sip"))
      .select(col("n"),
        rnd(lit(2.0) * col("sip").cast("double") /
          (col("n").cast("double") * col("sp").cast("double")) -
          (col("n") + lit(1L)).cast("double") / col("n").cast("double"), 6).as("gini"))
  }

  // sql_q19 — disjunctive-predicate revenue (TPC-H Q19 shape): three
  // brand/size/quantity bands OR-ed together. The planner surface under
  // test: the brand/size arms push to the part scan, the quantity arms
  // to the lineitem scan (common-factor extraction), and the join
  // carries only the residual disjunction — a predicate shape naive
  // engines evaluate post-join on the full pair stream. Revenue in
  // exact e4 integer units (sqlQ5 discipline).
  def sqlQ19(s: SparkSession, d: String): DataFrame = {
    val priceE2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val discE2 = floor(col("l_discount") * 100 + 0.5).cast("long")
    def arm(brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand && col("p_size").between(szLo, szHi) &&
        col("l_quantity").between(qLo, qHi)
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .filter(arm("Brand#12", 1, 5, 1, 11) || arm("Brand#23", 1, 10, 10, 20) ||
        arm("Brand#34", 1, 15, 20, 30))
      .agg(sum(priceE2 * (lit(100L) - discE2)).as("rev_e4"), count(lit(1)).as("n"))
      .select(rnd(col("rev_e4") / 1e4, 2).as("revenue"), col("n"))
  }

  // sql_division — relational division ("customers who ordered at EVERY
  // priority"): per-customer distinct-priority count matched against the
  // global distinct count, which rides in as a broadcast one-row
  // aggregate — the standard division-as-counting rewrite. The naive
  // NOT EXISTS(EXCEPT) form re-correlates per customer; this form is two
  // hash aggregates and never re-scans.
  def sqlDivision(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val tot = broadcast(o.agg(countDistinct(col("o_orderpriority")).as("np")))
    o.groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("k"), count(lit(1)).as("n_orders"))
      .crossJoin(tot)
      .filter(col("k") === col("np"))
      .select(col("o_custkey").as("custkey"), col("n_orders"))
  }

  // sql_q7 — cross-nation shipping volume (TPC-H Q7 shape): revenue
  // flowing between two named nations, keyed (supplier nation, customer
  // nation, ship year). The nation filter applies to BOTH endpoints
  // before the fact joins (each endpoint dim broadcast, O(1) rows), so
  // the big lineitem⋈orders⋈customer/supplier shuffles carry only the
  // two-nation slice, not the world. Revenue in exact e4 integer units
  // (sqlQ5 discipline); year() is INT32 in both engines.
  def sqlQ7(s: SparkSession, d: String): DataFrame = {
    val priceE2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val discE2 = floor(col("l_discount") * 100 + 0.5).cast("long")
    val n1 = "NATION_20"; val n2 = "NATION_11"
    val nat = Tables.nation(s, d).filter(col("n_name").isin(n1, n2))
    val supp = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(priceE2 * (lit(100L) - discE2)).as("rev_e4"), count(lit(1)).as("n"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        rnd(col("rev_e4") / 1e4, 2).as("revenue"), col("n"))
  }

  // sql_q10 — returned-revenue top customers (TPC-H Q10 shape): who cost
  // us the most in returns last quarter. orders window-filter pushes to
  // the orders scan; the returnflag filter to lineitem; customer joins
  // AFTER the per-custkey aggregate so the wide name/acctbal columns ride
  // a c_custkey-cardinality frame, not the lineitem stream. Top-20 by
  // (rev_e4 DESC, custkey) — a total order, so LIMIT cannot tie-flip.
  def sqlQ10(s: SparkSession, d: String): DataFrame = {
    val priceE2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val discE2 = floor(col("l_discount") * 100 + 0.5).cast("long")
    val perCust = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d).filter(
          col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1996-07-01 00:00:00"))),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(priceE2 * (lit(100L) - discE2)).as("rev_e4"), count(lit(1)).as("n"))
    perCust
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("rev_e4").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("n_name").as("nation"), rnd(col("rev_e4") / 1e4, 2).as("revenue"),
        col("n"))
  }

  // sql_q12 — late-shipment priority audit (TPC-H Q12 shape, adapted to
  // this schema's dates: the generator carries l_shipdate and
  // o_orderdate but no commit/receipt dates, so "late" = shipped > 90
  // days after order). Per delay band: how many URGENT/HIGH orders got
  // caught vs everything else — the "did slow logistics hit priority
  // customers" audit. One join + one hash aggregate, counts only (no
  // float anywhere); date_diff on microsecond timestamps is exact.
  def sqlQ12(s: SparkSession, d: String): DataFrame = {
    val delayDays = datediff(col("l_shipdate"), col("o_orderdate"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_band",
        when(delayDays <= 30, "0-30").when(delayDays <= 90, "31-90")
          .otherwise("90+"))
      .groupBy(col("delay_band"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
  }

  // data_skew_report — per-join-key skew profile of the fact table: for
  // each key a join or aggregation would shuffle on, the row count,
  // distinct-key count, the heaviest key's row count, and the skew
  // factor max·keys/rows (1.0 = perfectly uniform; ≫1 = salt this key
  // before joining). This is the diagnostic that decides between a
  // plain shuffle join and `join_skew_salted` BEFORE the 100-TB run —
  // three hash aggregates with map-side partials, one per candidate
  // key, union'd; nothing wider than a key scan.
  def dataSkewReport(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def keyStats(k: String) =
      li.groupBy(col(k).as("key")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_key_rows"))
        .select(lit(k).as("join_key"), col("n_rows"), col("n_keys"),
          col("max_key_rows"),
          rnd(col("max_key_rows") * col("n_keys") / col("n_rows").cast("double"), 6)
            .as("skew_factor"))
    keyStats("l_orderkey").unionAll(keyStats("l_partkey"))
      .unionAll(keyStats("l_suppkey"))
  }

  // ---- TPC-H closure wave: the remaining canonical query shapes, -------
  // adapted to this generator's schema (no partsupp / commit-receipt
  // dates / comments — each adaptation keeps the PLAN shape the
  // canonical query exists to exercise). All money flows through the
  // exact e2/e4/e6 integer-unit discipline (sqlQ5): per-row floor-snap
  // to BIGINT, integer sums, ONE closing float expression. At extreme
  // SF (≫ sf100) the e6 charge sums would want DECIMAL(38,0) — noted
  // per query where it applies.

  // sql_q1 — pricing summary report (TPC-H Q1): THE scan-heavy
  // aggregate: one pass over lineitem, 4 running sums + 3 averages per
  // (returnflag, linestatus) — at most 6 groups, so the aggregate is
  // all map-side partials and the exchange carries 6 rows. charge sums
  // in e6 units (price·(1−disc)·(1+tax)): |row| ≤ 1e11, safe in BIGINT
  // to ~sf1000 per group; DECIMAL(38,0) beyond.
  def sqlQ1(s: SparkSession, d: String): DataFrame = {
    val q = col("l_quantity").cast("long")
    val pe2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val de2 = floor(col("l_discount") * 100 + 0.5).cast("long")
    val te2 = floor(col("l_tax") * 100 + 0.5).cast("long")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(q).as("sum_qty"), sum(pe2).as("base_e2"),
        sum(pe2 * (lit(100L) - de2)).as("disc_e4"),
        sum(pe2 * (lit(100L) - de2) * (lit(100L) + te2)).as("charge_e6"),
        sum(de2).as("dsum_e2"), count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        rnd(col("base_e2") / 1e2, 2).as("sum_base"),
        rnd(col("disc_e4") / 1e4, 2).as("sum_disc"),
        rnd(col("charge_e6") / 1e6, 2).as("sum_charge"),
        rnd(col("sum_qty") / col("n"), 6).as("avg_qty"),
        rnd(col("base_e2") / (lit(100.0) * col("n")), 6).as("avg_price"),
        rnd(col("dsum_e2") / (lit(100.0) * col("n")), 6).as("avg_disc"),
        col("n"))
  }

  // sql_q2 — min-cost supplier (TPC-H Q2 shape): the correlated
  // "price = (SELECT min(price) for this part)" subquery, decorrelated
  // to a keyed min-STRUCT argmin — (price, suppkey) lexicographic min
  // in ONE hash aggregate, no window sort, total order so ties cannot
  // flip. partsupp doesn't exist here; lineitem rows are the offers.
  def sqlQ2(s: SparkSession, d: String): DataFrame = {
    val pe2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val best = Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_size") === 15), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), struct(pe2.as("p"), col("l_suppkey").as("sk")).as("o"))
      .groupBy(col("l_partkey")).agg(min(col("o")).as("m"))
      .select(col("l_partkey"), col("m.p").as("pe2"), col("m.sk").as("sk"))
    best
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d), col("sk") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey").as("partkey"), col("p_name").as("part_name"),
        col("s_name").as("supp_name"), col("n_name").as("nation"),
        rnd(col("pe2") / 1e2, 2).as("min_price"))
  }

  // sql_q6 — forecasting revenue change (TPC-H Q6): the pure
  // filter-and-sum — every predicate pushes to the parquet scan and the
  // plan is scan → one-row partial aggregates. The discount band is
  // tested on the SNAPPED e2 integer (5..7), so the float boundary
  // (0.05 ≤ x ≤ 0.07 on binary doubles) cannot flip cross-engine.
  def sqlQ6(s: SparkSession, d: String): DataFrame = {
    val pe2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val de2 = floor(col("l_discount") * 100 + 0.5).cast("long")
    Tables.lineitem(s, d)
      .filter(year(col("l_shipdate")) === 1996 && col("l_quantity") < 24)
      .filter(de2.between(5, 7))
      .agg(sum(pe2 * de2).as("rev_e4"), count(lit(1)).as("n"))
      .select(rnd(col("rev_e4") / 1e4, 2).as("revenue"), col("n"))
  }

  // sql_q8 — national market share (TPC-H Q8): share of one supplier
  // nation in a region's revenue, per order year. Both nation roles
  // (customer side for the region slice, supplier side for the share
  // numerator) ride broadcast dims; numerator/denominator are exact e4
  // BIGINTs, so the share is ONE float division at the end.
  def sqlQ8(s: SparkSession, d: String): DataFrame = {
    val rev = floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))
    val cn = Tables.nation(s, d).select(col("n_nationkey").as("cnk"), col("n_regionkey"))
    val sn = Tables.nation(s, d).select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cnk"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("snk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_20", rev).otherwise(0L)).as("num_e4"),
        sum(rev).as("den_e4"), count(lit(1)).as("n"))
      .select(col("o_year"), rnd(col("num_e4") / col("den_e4"), 6).as("mkt_share"), col("n"))
  }

  // sql_q9 — product-type profit (TPC-H Q9 shape): profit attributed to
  // the supplier's nation per order year. No ps_supplycost in this
  // schema, so cost = p_retailprice·quantity (the same
  // revenue-minus-cost plan shape). Profit can be negative — everything
  // stays in signed e4 BIGINTs until the one closing division.
  def sqlQ9(s: SparkSession, d: String): DataFrame = {
    val pe2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val de2 = floor(col("l_discount") * 100 + 0.5).cast("long")
    val retE2 = floor(col("p_retailprice") * 100 + 0.5).cast("long")
    val profit = pe2 * (lit(100L) - de2) - retE2 * col("l_quantity").cast("long") * 100L
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(profit).as("profit_e4"), count(lit(1)).as("n"))
      .select(col("n_name").as("nation"), col("o_year"),
        rnd(col("profit_e4") / 1e4, 2).as("profit"), col("n"))
  }

  // sql_q11 — important stock (TPC-H Q11 shape): parts whose inventory
  // value (for one nation's suppliers) exceeds 1.5× the mean part value.
  // The global threshold rides in as a broadcast ONE-ROW aggregate and
  // the comparison is all-BIGINT (v·n·2 > 3·t — no float fraction that
  // could flip at the boundary, and SF-invariant where the canonical
  // absolute 0.0001 fraction is not). v·n ≲ 1e20 needs DECIMAL(38,0)
  // only past ~sf1000.
  def sqlQ11(s: SparkSession, d: String): DataFrame = {
    val pe2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val pv = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("l_partkey")).agg(sum(pe2).as("v"))
    val g = broadcast(pv.agg(sum(col("v")).as("t"), count(lit(1)).as("np")))
    pv.crossJoin(g)
      .filter(col("v") * col("np") * lit(2L) > lit(3L) * col("t"))
      .select(col("l_partkey").as("partkey"), rnd(col("v") / 1e2, 2).as("value"))
  }

  // sql_q13 — customer order-count distribution (TPC-H Q13): the LEFT
  // OUTER join whose whole point is keeping 0-order customers, with the
  // priority filter INSIDE the join condition (a WHERE would silently
  // turn it inner), then the double aggregate (per-customer count →
  // histogram of counts).
  def sqlQ13(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))

  // sql_q14 — promotion effect (TPC-H Q14): promo share of one ship
  // year's revenue. Numerator and denominator are exact e4 BIGINTs from
  // the same aggregate pass; the 100·num/den percentage is the one
  // closing float expression (left-assoc in both engines).
  def sqlQ14(s: SparkSession, d: String): DataFrame = {
    val rev = floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))
    Tables.lineitem(s, d)
      .filter(year(col("l_shipdate")) === 1997)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", rev).otherwise(0L)).as("num_e4"),
        sum(rev).as("den_e4"), count(lit(1)).as("n"))
      .select(rnd(lit(100.0) * col("num_e4") / col("den_e4"), 6).as("promo_share"), col("n"))
  }

  // sql_q15 — top supplier (TPC-H Q15): revenue = max(revenue) over a
  // quarter, the view-plus-max shape. The max rides in as a broadcast
  // one-row aggregate and the equality is on the e4 BIGINT — exact, so
  // EVERY tied-for-max supplier surfaces (the canonical query's
  // documented tie semantics), with no float-equality lottery.
  def sqlQ15(s: SparkSession, d: String): DataFrame = {
    val rev = floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))
    val sr = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey")).agg(sum(rev).as("rev_e4"), count(lit(1)).as("n"))
    val mx = broadcast(sr.agg(max(col("rev_e4")).as("m")))
    sr.crossJoin(mx).filter(col("rev_e4") === col("m"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").as("suppkey"), col("s_name").as("name"),
        rnd(col("rev_e4") / 1e4, 2).as("total_revenue"), col("n"))
  }

  // sql_q16 — parts/supplier relationship count (TPC-H Q16 shape): how
  // many qualified suppliers serve each (brand, type, size) bucket,
  // EXCLUDING flagged suppliers — the NOT IN subquery planned as what it
  // is at scale: a semi-join against the small qualified-supplier set
  // (negative acctbal is this schema's complaint flag), then
  // count(DISTINCT suppkey) per bucket.
  def sqlQ16(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_size").isin(5, 15, 25, 35) &&
          col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d).filter(col("s_acctbal") >= 0).select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  // sql_q18 — large-volume customers (TPC-H Q18): orders whose total
  // quantity clears a threshold — the IN(group-by-having) subquery as a
  // direct join against the having aggregate. Quantities sum as BIGINTs
  // (integer-valued doubles snapped per row), so the > 250 boundary is
  // exact in both engines.
  def sqlQ18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("o_orderkey").as("orderkey"), col("o_orderdate").as("orderdate"),
        rnd(floor(col("o_totalprice") * 100 + 0.5).cast("long") / 1e2, 2).as("totalprice"),
        col("sum_qty"))
  }

  // sql_q20 — potential part promotion (TPC-H Q20 shape): the nested
  // IN(suppliers with excess stock of the filtered parts) subquery. No
  // partsupp here, so "excess" = a DOMINANT position: this supplier
  // shipped more than 3× the part's fair per-supplier share
  // (sq·ns > 3·tq, exact BIGINT — the canonical query's half-sum
  // threshold re-expressed relative to supplier count, because an
  // absolute share is NOT SF-stable: more suppliers per part at higher
  // SF dilutes every share). The inner per-(part, supplier) aggregate
  // RE-AGGREGATES to the per-part total — one extra keyed sum, never a
  // second lineitem scan.
  def sqlQ20(s: SparkSession, d: String): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_name").like("%red%")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sq"))
    val pt = ps.groupBy(col("l_partkey"))
      .agg(sum(col("sq")).as("tq"), count(lit(1)).as("ns"))
    ps.join(pt, "l_partkey")
      .filter(col("sq") * col("ns") > lit(3L) * col("tq"))
      .select(col("l_suppkey")).distinct()
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("suppkey"), col("s_name").as("name"),
        col("n_name").as("nation"))
  }

  // sql_q21 — suppliers who kept orders waiting (TPC-H Q21 shape): the
  // EXISTS(another supplier) ∧ NOT EXISTS(another LATE supplier) double
  // correlation, decorrelated into per-(order, supplier) late flags +
  // one per-order aggregate — each correlated branch becomes a count
  // the filter reads, nothing re-scans. "Late" = shipped > 60 days
  // after order (no receipt/commit dates in this schema). Attribution
  // rolls up to the supplier's nation, so the output is bounded at any
  // SF.
  def sqlQ21(s: SparkSession, d: String): DataFrame = {
    val flags = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(datediff(col("l_shipdate"), col("o_orderdate")) > 60, 1L)
        .otherwise(0L)).as("late"))
    val per = flags.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ns"), sum(col("late")).as("nl"))
    flags.join(per, "l_orderkey")
      .filter(col("ns") >= 2 && col("nl") === 1 && col("late") === 1)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numwait"))
      .select(col("n_name").as("nation"), col("numwait"))
  }

  // sql_q22 — global sales opportunity (TPC-H Q22 shape): high-balance
  // customers with no RECENT orders, by country. The average-balance
  // threshold is the classic scalar subquery — but compared in exact
  // integer form (acct_e2·count > sum_e2 ⟺ acctbal > avg), because a
  // float avg of doubles is summation-order-dependent and the boundary
  // could flip cross-engine. The no-recent-orders branch is a left ANTI
  // join (never NOT IN, which at scale would broadcast-collect the
  // whole order set and trip on NULLs).
  def sqlQ22(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
      floor(col("c_acctbal") * 100 + 0.5).cast("long").as("a_e2"))
    val stats = broadcast(cust.filter(col("a_e2") > 0)
      .agg(sum(col("a_e2")).as("se2"), count(lit(1)).as("c")))
    cust.crossJoin(stats)
      .filter(col("a_e2") * col("c") > col("se2"))
      .join(Tables.orders(s, d).filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntry"))
      .agg(count(lit(1)).as("numcust"), sum(col("a_e2")).as("t_e2"))
      .select(col("cntry"), col("numcust"), rnd(col("t_e2") / 1e2, 2).as("totacctbal"))
  }

  // join_null_aware_anti — NOT IN against a NULLABLE subquery column:
  // the one anti-join variant with different semantics from left_anti
  // (one NULL in the subquery empties the whole result, and a
  // non-matching probe row is NULL-compared, not false-compared).
  // Catalyst must plan the null-aware anti join (single-column NAAJ →
  // broadcast with null-key tracking) rather than a hash anti join —
  // the nullif() below makes the column nullable WITHOUT producing a
  // NULL at any SF (custkey −1 doesn't exist), so the declared row
  // stays populated while exercising the NAAJ path; the planted-NULL
  // empties-everything semantic is spec-pinned in TpchClosureSpec.
  def joinNullAwareAnti(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""SELECT c_custkey AS custkey, c_name AS name
         |FROM parquet.`$d/customer.parquet`
         |WHERE c_custkey NOT IN
         |  (SELECT nullif(o_custkey, -1) FROM parquet.`$d/orders.parquet`
         |   WHERE o_orderstatus = 'F')""".stripMargin)

  // agg_weighted_median — revenue-weighted median quantity per return
  // flag: the order statistic where half the MONEY sits below, not half
  // the rows (the "what quantity does the median dollar buy" read-out).
  // Lower weighted median by the discrete rule 2·cumw ≥ totw — weights
  // in exact e2 BIGINTs, the selection a pure integer comparison.
  //
  // SCALE SHAPE: the row-level window form would partition on
  // l_returnflag — an O(1)-cardinality key, so the whole fact table
  // serializes through ≤3 window partitions (the seq_pack hazard class
  // from round 7). Instead the weights AGGREGATE per (flag, quantity)
  // first — one map-side-combining keyed sum — and the cumulative
  // window runs over that frame, whose size is bounded by the VALUE
  // DOMAIN (≤ flags·50 rows at any corpus size), not the row count.
  // The oracle keeps the row-level window (identical result: the
  // cumulative weight at the last row of each quantity run is the same
  // either way, and the median rule only reads run boundaries).
  def aggWeightedMedian(s: SparkSession, d: String): DataFrame = {
    val we2 = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val byQ = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"), we2.as("we2"))
      .groupBy(col("l_returnflag"), col("q"))
      .agg(sum(col("we2")).as("w"))
    val cum = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = Window.partitionBy(col("l_returnflag"))
    byQ.withColumn("cumw", sum(col("w")).over(cum))
      .withColumn("totw", sum(col("w")).over(g))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("q")).as("wmedian_qty"), max(col("totw")).as("tot_we2"))
      .select(col("l_returnflag"), col("wmedian_qty"),
        rnd(col("tot_we2") / 1e2, 2).as("total_weight"))
  }

  // agg_trimmed_mean — 10%-trimmed mean of order values: the robust
  // location estimate (drop the cheapest and priciest deciles, average
  // the middle 80%). Same scale shape as agg_gini: per-VALUE counts +
  // one cumulative window over the price-domain-bounded distinct frame.
  // A value v with count c occupies ranks (C−c, C]; its contribution to
  // the trimmed sum is the overlap of that rank run with (t, n−t]
  // (t = n div 10) — pure integer interval arithmetic, one closing
  // division.
  def aggTrimmedMean(s: SparkSession, d: String): DataFrame = {
    val h = Tables.orders(s, d)
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("p")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = broadcast(h.agg(sum(col("c")).as("n")))
    h.withColumn("cc", sum(col("c")).over(w))
      .crossJoin(tot)
      .withColumn("t", expr("n div 10"))
      .withColumn("cnt_in",
        greatest(lit(0L), least(col("cc"), col("n") - col("t")) -
          greatest(col("cc") - col("c"), col("t"))))
      .agg(max(col("n")).as("n"), max(col("t")).as("trimmed_each_side"),
        sum(col("p") * col("cnt_in")).as("s_in"), sum(col("cnt_in")).as("n_in"))
      .select(col("n"), col("trimmed_each_side"),
        rnd(col("s_in") / col("n_in") / 1e2, 6).as("trimmed_mean"))
  }

  // agg_benford — Benford first-significant-digit audit of the order
  // values: observed vs expected (log10(1+1/d)) digit shares — the
  // data-quality/fraud read-out an ingestion audit runs over any
  // naturally-generated numeric column (fabricated or truncated feeds
  // flunk it; uniform synthetic generators like this one also deviate,
  // which is exactly what the row demonstrates). First digit extracted
  // in EXACT integer-string space: price → e2 BIGINT (the house
  // rounding), cast to string, first char — no log10/pow on doubles in
  // the digit path, so both engines bucket identically (a float
  // log10(1000.0) can land at 2.9999… and shift the digit). The
  // expected share IS log10 — evaluated over the exact integer d in
  // both engines (the `metrics_logloss` ln precedent), rounded at the
  // edge. One 9-key aggregate + a broadcast one-row total.
  def aggBenford(s: SparkSession, d: String): DataFrame = {
    val digit = substring(
      floor(col("o_totalprice") * 100 + 0.5).cast("long").cast("string"), 1, 1)
      .cast("int")
    val byDigit = Tables.orders(s, d)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = broadcast(byDigit.agg(sum(col("n")).as("nt")))
    byDigit.crossJoin(tot)
      .select(col("digit"), col("n"),
        rnd(col("n") / col("nt").cast("double"), 6).as("obs_share"),
        rnd(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("exp_share"))
  }

  // ---- stats_chisq: chi-squared test of independence --------------------

  /** stats_chisq — Pearson χ² test of independence between event_type and
    * time-of-day quadrant (hour div 6): the "does behavior depend on time
    * of day" read-out. The contingency grid is reconstructed as
    * row-marginals × col-marginals (tiny: |types| × 4) so EMPTY cells
    * still contribute their expected count — an obs-only sum would
    * silently understate χ² the day a cell empties. Scale shape: ONE
    * corpus-scale keyed aggregate (map-side combine) produces the
    * observed table; everything downstream is marginal-sized with
    * broadcast one-row totals. Output: a single (chi2, dof, n) row.
    */
  def statsChisq(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d)
      .select(col("event_type").as("t"), expr("hour(ts) div 6").cast("int").as("q"))
      .groupBy(col("t"), col("q")).agg(count(lit(1)).as("o"))
    val rm = obs.groupBy("t").agg(sum("o").as("rt"))
    val cm = obs.groupBy("q").agg(sum("o").as("ct"))
    val n = obs.agg(sum("o").as("n"))
    val dims = rm.agg(count(lit(1)).as("nr"))
      .crossJoin(broadcast(cm.agg(count(lit(1)).as("nc"))))
    broadcast(rm).crossJoin(broadcast(cm))
      .join(obs, Seq("t", "q"), "left")
      .crossJoin(broadcast(n))
      .select(coalesce(col("o"), lit(0L)).as("o"),
        (col("rt") * col("ct") / col("n").cast("double")).as("e"), col("n"))
      .agg(
        rnd(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")), 6).as("chi2"),
        max(col("n")).as("n"))
      .crossJoin(broadcast(dims))
      .select(col("chi2"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"), col("n"))
  }

  // ---- stats_ttest: Welch two-sample t-test -----------------------------

  /** stats_ttest — Welch's unequal-variance t-test comparing `value`
    * between the 'click' and 'purchase' cohorts: the A/B-experiment
    * read-out. Moments via explicit sums (n, Σx, Σx²) so both engines run
    * the identical arithmetic (the `zipfRegression` rule); the
    * Welch–Satterthwaite df comes from the same four sums. One
    * corpus-scale aggregate with map-side combine → one row; nothing
    * shuffles but six numbers, at any SF.
    */
  /** Two-sample e6-BIGINT moments (click vs purchase on `value`):
    * (na, nb, sa, qa, sb, qb) with Σv/Σv² folded exactly as integers
    * (round-10 hardening — raw double sums are partition-ORDER-
    * sensitive; Σvu² in DECIMAL(38,0)) and converted to doubles once.
    * Shared by `stats_ttest` and `stats_effect_size`.
    */
  private def abMomentsE6(s: SparkSession, d: String): DataFrame = {
    val isA = col("event_type") === "click"
    val d19 = "decimal(19,0)"
    val vu = floor(col("value") * 1e6 + 0.5).cast("long")
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), vu.as("vu"))
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("na"),
        sum(when(isA, col("vu"))).as("sau"),
        sum(when(isA, col("vu").cast(d19) * col("vu").cast(d19))).as("qau"),
        sum(when(!isA, 1L).otherwise(0L)).as("nb"),
        sum(when(!isA, col("vu"))).as("sbu"),
        sum(when(!isA, col("vu").cast(d19) * col("vu").cast(d19))).as("qbu"))
      .select(col("na"), col("nb"),
        (col("sau").cast("double") / 1e6).as("sa"),
        (col("qau").cast("double") / 1e12).as("qa"),
        (col("sbu").cast("double") / 1e6).as("sb"),
        (col("qbu").cast("double") / 1e12).as("qb"))
  }

  def statsTtest(s: SparkSession, d: String): DataFrame = {
    val m = abMomentsE6(s, d)
    m.withColumn("va", (col("qa") - col("sa") * col("sa") / col("na")) / (col("na") - 1))
      .withColumn("vb", (col("qb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1))
      .withColumn("sea", col("va") / col("na"))
      .withColumn("seb", col("vb") / col("nb"))
      .select(
        col("na"), col("nb"),
        rnd(col("sa") / col("na"), 6).as("mean_a"),
        rnd(col("sb") / col("nb"), 6).as("mean_b"),
        rnd((col("sa") / col("na") - col("sb") / col("nb")) /
          sqrt(col("sea") + col("seb")), 6).as("t_welch"),
        rnd((col("sea") + col("seb")) * (col("sea") + col("seb")) /
          (col("sea") * col("sea") / (col("na") - 1) +
            col("seb") * col("seb") / (col("nb") - 1)), 6).as("df_welch"))
  }

  // ---- stats_effect_size: Cohen's d / Hedges' g --------------------------

  /** stats_effect_size — the magnitude read-out the significance tests
    * deliberately don't carry: at corpus scale EVERYTHING is
    * "significant" (z grows with √n), so the A/B decision rides the
    * standardized effect — Cohen's d on the pooled SD, plus Hedges' g
    * (the small-sample bias correction 1 − 3/(4(na+nb) − 9)). Same
    * exact e6-BIGINT moments as `stats_ttest` (one shared builder);
    * closing expressions only in doubles, mirrored in the oracle.
    */
  def statsEffectSize(s: SparkSession, d: String): DataFrame =
    abMomentsE6(s, d)
      .withColumn("sp2",
        (col("qa") - col("sa") * col("sa") / col("na") +
          (col("qb") - col("sb") * col("sb") / col("nb"))) /
          (col("na") + col("nb") - 2))
      .withColumn("dd",
        (col("sa") / col("na") - col("sb") / col("nb")) / sqrt(col("sp2")))
      .select(col("na"), col("nb"),
        rnd(col("dd"), 6).as("cohen_d"),
        rnd(col("dd") * (lit(1.0) - lit(3.0) /
          (lit(4.0) * (col("na") + col("nb")) - 9)), 6).as("hedges_g"))

  // ---- stats_sample_size: experiment power planning ----------------------

  /** stats_sample_size — the planning read-out run BEFORE an
    * experiment: the per-arm n required to detect a 2 % shift of the
    * pooled mean at α = 0.05 two-sided with 80 % power,
    * n = 2(z_{α/2} + z_β)²·σ²/Δ². The z quantiles are fixed LITERALS
    * (1.959964, 0.841621 — no normal CDF is evaluated at runtime, so
    * no libm surface at all); σ² is the pooled variance from the same
    * exact e6-BIGINT moments as `stats_ttest`/`stats_effect_size`, and
    * the one ceil() of a double lands identically in both engines.
    */
  def statsSampleSize(s: SparkSession, d: String): DataFrame =
    abMomentsE6(s, d)
      .withColumn("sp2",
        (col("qa") - col("sa") * col("sa") / col("na") +
          (col("qb") - col("sb") * col("sb") / col("nb"))) /
          (col("na") + col("nb") - 2))
      .withColumn("mde",
        lit(0.02) * (col("sa") + col("sb")) / (col("na") + col("nb")))
      .select(col("na"), col("nb"),
        rnd(col("mde"), 6).as("mde_abs"),
        ceil(lit(2.0) * ((lit(1.959964) + lit(0.841621)) *
          (lit(1.959964) + lit(0.841621))) * col("sp2") /
          (col("mde") * col("mde"))).cast("long").as("n_required_per_arm"))

  // ---- events_cuped: CUPED variance reduction -----------------------------

  /** events_cuped — CUPED (controlled-experiment-using-pre-experiment-
    * data), the variance-reduction adjuster every large experimentation
    * platform applies before the t-test: per user, the pre-period mean
    * activity X predicts the experiment-period metric Y, and
    * Y* = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) removes the predicted
    * part. The report a platform quotes is θ and the variance-reduction
    * factor — which algebraically is exactly corr(X,Y)² (this row
    * computes it from the same six exact sums, never two passes). The
    * pre/post boundary is the integer midpoint of the observed time
    * range (broadcast one-row min/max — deterministic from data); user
    * period means are 6-dp (the hourly-mean discipline) then e6
    * BIGINTs, Σ-products in DECIMAL(38,0) (the `stats_spearman`
    * envelope), one closing double expression each. Users active in
    * only one period drop out (CUPED needs the covariate).
    */
  def eventsCuped(s: SparkSession, d: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
    val bounds = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .select(expr("(lo + hi) div 2").as("mid"))
    val per = ev.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"), (col("us") < col("mid")).as("pre"))
      .agg(rnd(avg(col("value")), 6).as("m"))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("pre"), floor(col("m") * 1e6 + 0.5).cast("long"))).as("x"),
        max(when(!col("pre"), floor(col("m") * 1e6 + 0.5).cast("long"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    per.agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(d19) * col("y").cast(d19)).as("sxy"),
        sum(col("x").cast(d19) * col("x").cast(d19)).as("sxx"),
        sum(col("y").cast(d19) * col("y").cast(d19)).as("syy"))
      .withColumn("covn", col("n_users").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double"))
      .withColumn("varxn", col("n_users").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double"))
      .withColumn("varyn", col("n_users").cast("double") * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double"))
      .select(col("n_users"),
        rnd(col("covn") / col("varxn"), 6).as("theta"),
        rnd(col("covn") * col("covn") / (col("varxn") * col("varyn")), 6)
          .as("var_reduction"))
  }

  // ---- anon_kanon: k-anonymity audit ------------------------------------

  /** anon_kanon — k-anonymity audit of the customer table under two
    * quasi-identifier generalization levels: (nationkey, mktsegment) and
    * the coarser (regionkey, mktsegment) — the privacy gate run before a
    * dataset ships. Per level: minimum equivalence-class size k, class
    * count, classes under K = 10, and rows at re-identification risk.
    * The per-class aggregate is the only corpus-scale pass (keyed,
    * map-side combinable); the report is an aggregate OF that aggregate
    * (≤ |nations|·|segments| rows). nation→region is a broadcast dim join.
    */
  def anonKanon(s: SparkSession, d: String): DataFrame = {
    val K = 10
    val cust = Tables.customer(s, d)
    def level(name: String, df: DataFrame, qi: Seq[Column]): DataFrame =
      df.groupBy(qi: _*).agg(count(lit(1)).as("cn"))
        .agg(
          sum(col("cn")).as("n_rows"),
          count(lit(1)).as("n_classes"),
          min(col("cn")).as("k_min"),
          sum(when(col("cn") < K, 1L).otherwise(0L)).as("classes_lt_k"),
          sum(when(col("cn") < K, col("cn")).otherwise(0L)).as("rows_at_risk"))
        .select(lit(name).as("qi_level"), col("n_rows"), col("n_classes"),
          col("k_min"), col("classes_lt_k"), col("rows_at_risk"))
    val withRegion = cust.join(
      broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))),
      col("c_nationkey") === col("n_nationkey"))
    level("nation_segment", cust, Seq(col("c_nationkey"), col("c_mktsegment")))
      .unionAll(level("region_segment", withRegion,
        Seq(col("n_regionkey"), col("c_mktsegment"))))
  }

  // ---- market_basket: association-rule mining ---------------------------

  /** market_basket — two-itemset association rules over order baskets
    * (the a-priori first rung): for part pairs bought together,
    * support, confidence and lift against independence. Scale shape:
    * the pair space is the per-ORDER self-join (items-per-basket is
    * small and data-bounded — pairs grow linearly in orders, never
    * parts²); item supports re-aggregate the basket table; the total
    * enters as a broadcast one-row count. Ranked by exact-ratio lift
    * (identical double in both engines), (p1, p2) tie-break, top 20.
    */
  def marketBasket(s: SparkSession, d: String): DataFrame = {
    val basket = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val items = basket.groupBy(col("pk")).agg(count(lit(1)).as("ni"))
    val tot = broadcast(basket.agg(countDistinct(col("ok")).as("n_orders")))
    val pairs = basket.alias("a")
      .join(basket.alias("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(items.select(col("pk").as("p1"), col("ni").as("na")), "p1")
      .join(items.select(col("pk").as("p2"), col("ni").as("nb")), "p2")
      .crossJoin(tot)
      .withColumn("lift_raw",
        col("n_ab") * col("n_orders") / (col("na") * col("nb")).cast("double"))
      .select(col("p1"), col("p2"), col("n_ab"), col("na"), col("nb"),
        rnd(col("n_ab") / col("n_orders").cast("double"), 6).as("support"),
        rnd(col("n_ab") / col("na").cast("double"), 6).as("confidence"),
        rnd(col("lift_raw"), 6).as("lift"), col("lift_raw"))
      .orderBy(col("lift_raw").desc, col("p1"), col("p2"))
      .limit(20)
      .drop("lift_raw")
  }

  // ---- anon_ldiversity: l-diversity audit -------------------------------

  /** anon_ldiversity — the companion audit to `anon_kanon`: k-anonymity
    * bounds re-identification, l-diversity bounds ATTRIBUTE disclosure
    * (a class of 50 identical-segment customers is 50-anonymous and
    * 1-diverse — the homogeneity attack). Per QI class (nationkey /
    * the coarser regionkey), the count of DISTINCT sensitive values
    * (mktsegment); reported per level: minimum l, classes under L = 3,
    * rows in those classes. Same two-aggregate shape as anon_kanon.
    */
  def anonLdiversity(s: SparkSession, d: String): DataFrame = {
    val L = 3
    val cust = Tables.customer(s, d)
    def level(name: String, df: DataFrame, qi: Column): DataFrame =
      df.groupBy(qi.as("cls"))
        .agg(count(lit(1)).as("cn"), countDistinct(col("c_mktsegment")).as("l"))
        .agg(
          count(lit(1)).as("n_classes"),
          min(col("l")).as("l_min"),
          sum(when(col("l") < L, 1L).otherwise(0L)).as("classes_lt_l"),
          sum(when(col("l") < L, col("cn")).otherwise(0L)).as("rows_at_risk"))
        .select(lit(name).as("qi_level"), col("n_classes"), col("l_min"),
          col("classes_lt_l"), col("rows_at_risk"))
    val withRegion = cust.join(
      broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))),
      col("c_nationkey") === col("n_nationkey"))
    level("nation", cust, col("c_nationkey"))
      .unionAll(level("region", withRegion, col("n_regionkey")))
  }

  // ---- skyline_pareto: Pareto-frontier (skyline) query ------------------

  /** skyline_pareto — the skyline of part maximizing p_size while
    * minimizing p_retailprice: points no other part dominates (size ≥,
    * price ≤, one strict). Distributed shape: reduce per size group FIRST
    * (min price + count — a corpus-scale keyed agg with map-side
    * combine), then sweep the ≤|distinct sizes| frame (TPC-H: 50) with a
    * running min over strictly larger sizes — (s, p) survives iff p is
    * its size's minimum AND beats every larger size's minimum. The
    * classic sort-sweep with the corpus never leaving its aggregate: the
    * grid reduction that keeps a 100 TB skyline shuffle-light (the
    * all-pairs dominance join never exists). The global-order window is
    * over the per-size frame only (bounded — Rank.scala:9 rule).
    */
  def skylineOf(parts: DataFrame): DataFrame = {
    val per = parts
      .groupBy(col("p_size"))
      .agg(min(col("p_retailprice")).as("best_price"), count(lit(1)).as("n_at_size"))
    val sweep = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    per.withColumn("m_gt", min(col("best_price")).over(sweep))
      .filter(col("m_gt").isNull || col("best_price") < col("m_gt"))
      .select(col("p_size"), col("best_price").as("skyline_price"), col("n_at_size"))
  }

  def skylinePareto(s: SparkSession, d: String): DataFrame =
    skylineOf(Tables.part(s, d))

  // ---- data_constraints: declarative constraint validation report -------

  /** data_constraints — the data-quality gate a pipeline runs before
    * training: six declarative constraints (two FK closures, PK
    * uniqueness, a domain check, a range check, a derived-column
    * consistency check), each one corpus-scale pass emitting a
    * (constraint_name, n_checked, n_violations) row. FK legs are left
    * joins on the key (AQE broadcasts the dim side when it is small);
    * violating rows are never materialized — counts only, so the report
    * costs one scan per leg regardless of SF. Zero violations on the
    * synthetic tables IS the expected read-out (the machinery is the
    * operator); the spec proves the counters move on planted violations.
    */
  def constraintReport(orders: DataFrame, customer: DataFrame, lineitem: DataFrame,
      events: DataFrame, documents: DataFrame): DataFrame = {
    def leg(name: String, df: DataFrame, viol: Column): DataFrame =
      df.agg(count(lit(1)).as("n_checked"),
          sum(when(viol, 1L).otherwise(0L)).as("n_violations"))
        .select(lit(name).as("constraint_name"), col("n_checked"), col("n_violations"))
    val fkOrders = leg("fk_orders_custkey",
      orders.join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left"),
      col("c_custkey").isNull)
    val fkLineitem = leg("fk_lineitem_orderkey",
      lineitem.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left"),
      col("o_orderkey").isNull)
    val pkOrders = orders
      .agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"))
      .select(lit("pk_orders_unique").as("constraint_name"),
        col("n_checked"), col("n_violations"))
    val rangeQty = leg("range_lineitem_quantity", lineitem,
      col("l_quantity") < 1 || col("l_quantity") > 50)
    val domainEvents = leg("domain_events_type", events,
      !col("event_type").isin("click", "view", "purchase", "signup", "error"))
    val derivedDocs = leg("derived_documents_nchars", documents,
      col("n_chars") =!= length(col("text")))
    fkOrders.unionAll(fkLineitem).unionAll(pkOrders)
      .unionAll(rangeQty).unionAll(domainEvents).unionAll(derivedDocs)
  }

  def dataConstraints(s: SparkSession, d: String): DataFrame =
    constraintReport(Tables.orders(s, d), Tables.customer(s, d),
      Tables.lineitem(s, d), Tables.events(s, d), Tables.documents(s, d))

  // ---- stats_mannwhitney: Mann-Whitney U rank-sum test ------------------

  /** stats_mannwhitney — Mann-Whitney U rank-sum test ('click' vs
    * 'purchase' values), the nonparametric sibling of `stats_ttest` (the
    * A/B read-out that survives heavy tails an assumed-normal t-test
    * does not). Midranks in EXACT integers: global row ranks via
    * `Rank.globalRank` (range-repartitioned — no single-task sort over
    * the corpus), then per-distinct-value groups give
    * 2·midrank = 2·(min_rank − 1) + t + 1, so 2·R₁, the tie term
    * Σ(t³ − t), and U₁ stay BIGINT; one closing double expression yields
    * the tie-corrected normal z. Σ-products reach N² — BIGINT-safe far
    * past any real corpus (the `sql_q1` envelope note applies beyond).
    */
  /** Core of `stats_mannwhitney` over any (isa, value, event_id) frame
    * — frame-parameterized so PropertySpec can drive random samples. */
  def mannwhitneyOf(ev: DataFrame): DataFrame = {
    val g = Rank.globalRank(ev, Seq(col("value"), col("event_id")))
      .groupBy(col("value"))
      .agg(min(col("grank")).as("mn"), count(lit(1)).as("t"),
        sum(when(col("isa"), 1L).otherwise(0L)).as("ta"))
    g.agg(
      sum(col("ta")).as("na"),
      (sum(col("t")) - sum(col("ta"))).as("nb"),
      sum(col("ta") * (lit(2L) * (col("mn") - 1) + col("t") + 1)).as("two_r1"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .withColumn("u1", (col("two_r1") - col("na") * (col("na") + 1)) / lit(2.0))
      .withColumn("mu", col("na") * col("nb") / lit(2.0))
      .withColumn("nn", col("na") + col("nb"))
      .withColumn("sig", sqrt(col("na") * col("nb") / lit(12.0) *
        ((col("nn") + 1) - col("ties") / (col("nn") * (col("nn") - lit(1.0))))))
      .select(col("na"), col("nb"), rnd(col("u1"), 6).as("u_stat"),
        rnd((col("u1") - col("mu")) / col("sig"), 6).as("z"))
  }

  def statsMannwhitney(s: SparkSession, d: String): DataFrame =
    mannwhitneyOf(Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select((col("event_type") === "click").as("isa"), col("value"), col("event_id")))

  // ---- stats_bootstrap_ci: distributed Poisson bootstrap ----------------

  /** stats_bootstrap_ci — Poisson-bootstrap confidence interval for the
    * mean of `value` (the "bag of little bootstraps" cousin actually
    * used at scale: per replicate each row enters with an independent
    * Poisson(1) count, so resampling needs NO global shuffle — one pass
    * over B copies with map-side combine). Replicate weights are
    * DETERMINISTIC: a 4-hex-digit md5 uniform per (event_id, replicate)
    * inverted through exact integer Poisson(1) CDF cutoffs (the
    * `sample_importance` trick), so both engines draw identical
    * resamples. Values fold as e6 BIGINT; the percentile cut runs over
    * the B = 64 replicate means (bounded frame — `outlier_iqr` ceil-rank
    * convention, ranks 2 and 63 ≈ the 2.5/97.5 percentiles).
    */
  def statsBootstrapCi(s: SparkSession, d: String): DataFrame = {
    val B = 64
    // floor(CDF_Poisson(1)(k) · 65536), k = 0..4; u16 ≥ last ⇒ weight 5
    val cuts = Seq(24109L, 48218L, 60273L, 64291L, 65296L)
    val ev = Tables.events(s, d)
      .select(col("event_id"), floor(col("value") * 1e6 + 0.5).cast("long").as("vu"))
    val w = {
      val u = col("u16")
      cuts.zipWithIndex.foldLeft(when(u < cuts.head, 0L)) { case (acc, (c, i)) =>
        if (i == 0) acc else acc.when(u < c, i.toLong)
      }.otherwise(5L)
    }
    val reps = ev
      .select(col("event_id"), col("vu"), explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("u16", conv(substring(md5(concat(col("event_id").cast("string"),
        lit("_"), col("b").cast("string"))), 1, 4), 16, 10).cast("long"))
      .select(col("b"), col("vu"), w.as("w"))
      .groupBy(col("b"))
      .agg((sum(col("w") * col("vu")) / sum(col("w")) / 1e6).as("rep_mean"))
    val wRank = Window.orderBy(col("rep_mean"), col("b"))
    val stats = ev.agg(count(lit(1)).as("n"),
      rnd(sum(col("vu")) / count(lit(1)) / 1e6, 6).as("mean"))
    reps.withColumn("rn", row_number().over(wRank))
      .agg(max(when(col("rn") === 2, col("rep_mean"))).as("lo"),
        max(when(col("rn") === B - 1, col("rep_mean"))).as("hi"))
      .crossJoin(broadcast(stats))
      .select(col("n"), col("mean"), rnd(col("lo"), 6).as("ci_lo"),
        rnd(col("hi"), 6).as("ci_hi"), lit(B).as("n_replicates"))
  }

  // ---- stats_permutation: randomization test on the A/B mean difference -

  /** stats_permutation — randomization (permutation-style) test on the
    * click-vs-purchase mean difference: the distribution-free
    * significance read-out that completes the battery's ladder (Welch t
    * assumes near-normal sampling distributions; Mann-Whitney tests
    * stochastic dominance; THIS tests the mean difference itself under
    * the exchangeability null, the estimand the experiment reports).
    * B = 64 random relabelings: in replicate b every row keeps or flips
    * its group by one md5 hex digit (md5(id_p<b>)[1] < 8 — the
    * `stats_bootstrap_ci` deterministic-uniform discipline, so both
    * engines draw the SAME relabelings), d_b = mean-difference under
    * the relabeling, and p = (1 + #{|d_b| ≥ |d_obs|}) / (B + 1) — the
    * add-one Monte-Carlo estimator (Davison-Hinkley). Exact-integer
    * e6 value units; group sums are BIGINT folds (order-free), meeting
    * doubles only in the closing mean expressions, so the |d_b| ≥
    * |d_obs| comparisons are engine-identical. Scale shape: one
    * B-explode + one (b)-keyed aggregate — embarrassingly parallel,
    * the `stats_bootstrap_ci` envelope.
    */
  def statsPermutation(s: SparkSession, d: String): DataFrame = {
    val B = 64
    val isA = col("event_type") === "click"
    val vu = floor(col("value") * 1e6 + 0.5).cast("long")
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), isA.as("ia"), vu.as("vu"))
    val obs = ev.agg(
      sum(when(col("ia"), 1L).otherwise(0L)).as("na"),
      sum(when(col("ia"), col("vu"))).as("sa"),
      sum(when(!col("ia"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("ia"), col("vu"))).as("sb"))
      .select(col("na"), col("nb"),
        (col("sa").cast("double") / col("na") / 1e6 -
          col("sb").cast("double") / col("nb") / 1e6).as("d_obs"))
    val flip = conv(substring(md5(concat(col("event_id").cast("string"),
      lit("_p"), col("b").cast("string"))), 1, 1), 16, 10).cast("long") < 8
    val reps = ev
      .select(col("event_id"), col("ia"), col("vu"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("ga", col("ia") =!= flip)
      .groupBy(col("b"))
      .agg((sum(when(col("ga"), col("vu"))).cast("double") /
          sum(when(col("ga"), 1L).otherwise(0L)) / 1e6 -
        sum(when(!col("ga"), col("vu"))).cast("double") /
          sum(when(!col("ga"), 1L).otherwise(0L)) / 1e6).as("d_b"))
    val ext = reps.crossJoin(broadcast(obs))
      .agg(sum(when(abs(col("d_b")) >= abs(col("d_obs")), 1L).otherwise(0L))
        .as("n_extreme"))
    broadcast(obs).crossJoin(broadcast(ext))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        rnd(col("d_obs"), 6).as("d_obs"), col("n_extreme"),
        rnd((col("n_extreme") + 1).cast("double") / (B + 1), 6).as("p_value"),
        lit(B.toLong).as("n_permutations"))
  }

  // ---- stats_spearman: Spearman rank correlation ------------------------

  /** stats_spearman — Spearman ρ between quantity and extended price
    * (the monotone-association read-out that survives the nonlinear
    * price curve a Pearson `agg_corr` flattens). Tied ranks as EXACT
    * integers: per-column midranks via `Rank.midranks` (the corpus
    * collapses to its distinct-value frame BEFORE any exchange — 50
    * rows for quantity no matter the SF), joined back by value, then
    * ρ = Pearson over the doubled midranks (the 2s cancel). Σ-products
    * run in DECIMAL(38,0) (the `agg_gini` envelope: Σ(2r)² ≈ 4n³ wraps
    * BIGINT past n ≈ 1.3e6) and meet doubles only in the one closing
    * expression, written identically in the oracle.
    */
  /** Core over any (x, y) frame — frame-parameterized so PropertySpec
    * can drive random tied samples. */
  def spearmanOf(df: DataFrame): DataFrame = {
    val d19 = "decimal(19,0)"
    val mx = Rank.midranks(df, col("x"))
      .select(col("mr_v").as("x"), col("mr_r2").as("rx"))
    val my = Rank.midranks(df, col("y"))
      .select(col("mr_v").as("y"), col("mr_r2").as("ry"))
    df.join(mx, "x").join(my, "y")
      .agg(count(lit(1)).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx").cast(d19) * col("ry").cast(d19)).as("sxy"),
        sum(col("rx").cast(d19) * col("rx").cast(d19)).as("sxx"),
        sum(col("ry").cast(d19) * col("ry").cast(d19)).as("syy"))
      .select(col("n"),
        rnd((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("rho"))
  }

  def statsSpearman(s: SparkSession, d: String): DataFrame =
    spearmanOf(Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y")))

  // ---- stats_kruskal: Kruskal-Wallis H test ------------------------------

  /** stats_kruskal — Kruskal-Wallis H across the five event types on
    * `value` (the k-group generalization of `stats_mannwhitney`: does
    * ANY event type's value distribution differ?). Midranks and the tie
    * term Σ(t³−t) stay exact integers through `Rank.midranks`; each
    * group's (2R_g)² runs in DECIMAL(38,0). The per-group terms
    * R_g²/n_g are doubles, so their sum is made ORDER-DETERMINISTIC by
    * folding a group-sorted array (`aggregate(sort_array(collect_list))`
    * over the ≤|event types| frame — bounded; the oracle's
    * `list_reduce(list(… ORDER BY g))` seeds with the first element,
    * which equals the 0.0-seeded Spark fold exactly). One closing
    * double expression yields H and its tie-corrected form. Envelope:
    * Σ(t³−t) and N³−N are BIGINT-safe to N ≈ 2e6 rows per feed slice
    * (beyond: lift ties into DECIMAL like the Σ(2r)² products).
    */
  /** Core over any (g, v) frame — frame-parameterized for PropertySpec. */
  def kruskalOf(df: DataFrame): DataFrame = {
    val d19 = "decimal(19,0)"
    val mr = Rank.midranks(df, col("v"))
    val per = df.join(mr.select(col("mr_v").as("v"), col("mr_r2")), "v")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("mr_r2")).as("r2g"))
      .withColumn("term",
        (col("r2g").cast(d19) * col("r2g").cast(d19)).cast("double") /
          (lit(4.0) * col("ng")))
    val sTerm = per.agg(
      count(lit(1)).as("n_groups"),
      aggregate(sort_array(collect_list(struct(col("g"), col("term")))),
        lit(0.0), (acc, s) => acc + s.getField("term")).as("s"))
    val tot = mr.agg(sum(col("mr_t")).as("n"),
      sum(col("mr_t") * col("mr_t") * col("mr_t") - col("mr_t")).as("ties"))
    sTerm.crossJoin(broadcast(tot))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("h", lit(12.0) * col("s") / (col("nd") * (col("nd") + 1)) -
        lit(3.0) * (col("nd") + 1))
      .select(col("n"), col("n_groups"), rnd(col("h"), 6).as("h"),
        rnd(col("h") / (lit(1.0) - col("ties").cast("double") /
          (col("nd") * col("nd") * col("nd") - col("nd"))), 6).as("h_tie"))
  }

  def statsKruskal(s: SparkSession, d: String): DataFrame =
    kruskalOf(Tables.events(s, d)
      .select(col("event_type").as("g"), col("value").as("v")))

  // ---- stats_anova: one-way ANOVA F test ---------------------------------

  /** stats_anova — one-way ANOVA F across the five event types on
    * `value` (the parametric sibling of `stats_kruskal`; between-group
    * vs within-group variance). Values enter as e6 BIGINTs (the
    * `ts_cusum` discipline — the 1e12 variance scale cancels in F), so
    * Σv and Σv² are exact: Σv² runs in DECIMAL(38,0) (vu² ≈ 2.4e17 per
    * row already crowds BIGINT as a SUM). The per-group rational
    * Σ s_g²/n_g folds in ascending-group order
    * (aggregate(sort_array(collect_list)) ≡ the oracle's
    * list_reduce(list(… ORDER BY g)) — the `stats_kruskal` bitwise
    * pattern), and F, eta² close in one double expression each.
    */
  /** Core over any (g, v) frame — frame-parameterized for PropertySpec. */
  def anovaOf(df: DataFrame): DataFrame = {
    val d19 = "decimal(19,0)"
    val e6 = df.select(col("g"),
      floor(col("v") * 1e6 + 0.5).cast("long").as("vu"))
    val per = e6.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("vu")).as("sg"),
        sum(col("vu").cast(d19) * col("vu").cast(d19)).as("qg"))
      .withColumn("term",
        (col("sg").cast(d19) * col("sg").cast(d19)).cast("double") / col("ng"))
    per.agg(
      count(lit(1)).as("k"),
      sum(col("ng")).as("n"),
      sum(col("sg")).as("s"),
      sum(col("qg")).as("q"),
      aggregate(sort_array(collect_list(struct(col("g"), col("term")))),
        lit(0.0), (acc, s) => acc + s.getField("term")).as("a"))
      .withColumn("ssb", col("a") -
        (col("s").cast(d19) * col("s").cast(d19)).cast("double") / col("n"))
      .withColumn("ssw", col("q").cast("double") - col("a"))
      .select(col("n"), col("k"),
        rnd((col("ssb") / (col("k") - 1)) /
          (col("ssw") / (col("n") - col("k"))), 6).as("f"),
        rnd(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta_sq"))
  }

  def statsAnova(s: SparkSession, d: String): DataFrame =
    anovaOf(Tables.events(s, d)
      .select(col("event_type").as("g"), col("value").as("v")))

  // ---- stats_kendall: Kendall tau-b over a bounded grid ------------------

  /** stats_kendall — Kendall τ-b between quantity and discount. The
    * naive definition is an all-pairs O(n²) sweep; the 100-TB form
    * exploits BOTH columns being low-cardinality (50 × 11 here): the
    * corpus collapses to its contingency grid in one keyed count
    * (map-side combinable), and concordant-minus-discordant is an
    * inequality self-join OVER THE GRID — ≤ (|X|·|Y|)² cell pairs, a
    * broadcast nested loop on a bounded frame, never the row stream.
    * P − Q and the tie terms n₁ = Σ tᵢ(tᵢ−1)/2, n₂ = Σ uⱼ(uⱼ−1)/2 stay
    * BIGINT-exact (safe to n ≈ 4e9 rows: P − Q ≤ n²/2 < 2⁶³); only the
    * closing τ-b = (P−Q)/√((n₀−n₁)(n₀−n₂)) runs in doubles (the
    * product reaches n⁴).
    */
  /** Core over any (x, y) frame — frame-parameterized for PropertySpec.
    * Scale contract: |distinct x| · |distinct y| must be bounded (the
    * grid is broadcast); for continuous columns, bucket first.
    */
  def kendallOf(df: DataFrame): DataFrame = {
    val grid = df.groupBy(col("x"), col("y")).agg(count(lit(1)).as("nc"))
    val b = broadcast(grid.select(col("x").as("x2"), col("y").as("y2"),
      col("nc").as("nc2")))
    val pq = grid.join(b, col("x2") > col("x"))
      .agg(sum(when(col("y2") > col("y"), col("nc") * col("nc2"))
        .when(col("y2") < col("y"), -col("nc") * col("nc2"))
        .otherwise(0L)).as("pq_diff"))
    val tx = grid.groupBy(col("x")).agg(sum(col("nc")).as("t"))
      .agg(sum(col("t") * (col("t") - 1)).as("tx2"))
    val ty = grid.groupBy(col("y")).agg(sum(col("nc")).as("t"))
      .agg(sum(col("t") * (col("t") - 1)).as("ty2"))
    val tot = grid.agg(sum(col("nc")).as("n"))
    pq.crossJoin(broadcast(tot)).crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .withColumn("n0x2", col("n") * (col("n") - 1))
      .select(col("n"), col("pq_diff"),
        rnd(col("pq_diff") / sqrt(
          (col("n0x2") - col("tx2")).cast("double") / 2.0 *
            ((col("n0x2") - col("ty2")).cast("double") / 2.0)), 6)
          .as("tau_b"))
  }

  def statsKendall(s: SparkSession, d: String): DataFrame =
    kendallOf(Tables.lineitem(s, d)
      .select(col("l_quantity").as("x"), col("l_discount").as("y")))

  // ---- agg_group_quantiles: per-group exact quantiles at scale ----------

  /** agg_group_quantiles — EXACT p25/p50/p75/p95 of `value` per event
    * type: the per-group quantile table `agg_quantiles` computes for
    * one global frame, now per key WITHOUT a per-group sort of the row
    * stream (`Rank.groupQuantiles`: keyed two-pass prefix sum over the
    * per-group distinct-value frame, then an all-integer inverted-CDF
    * cut — 1000·cum ≥ n·q, no division, both engines cut identically).
    * Values ride as e6 BIGINTs; the only double is the final /1e6
    * display division (exact: vu < 2⁵³).
    */
  def aggGroupQuantiles(s: SparkSession, d: String): DataFrame = {
    val e6 = Tables.events(s, d).select(col("event_type").as("g"),
      floor(col("value") * 1e6 + 0.5).cast("long").as("vu"))
    Rank.groupQuantiles(e6, col("g"), col("vu"), Seq(250, 500, 750, 950))
      .select(col("mr_k").as("event_type"), col("q_permille"),
        (col("mr_v") / 1e6).as("value"))
  }

  // ---- events_ab_assign: experiment-arm assignment + SRM gate -----------

  /** events_ab_assign — deterministic experiment bucketing with the
    * sample-ratio-mismatch gate (the FIRST check any A/B readout runs;
    * `run.RunAbtest` analyzes outcomes, this row validates the split
    * itself): each user hashes to control/treatment via the md5
    * hex-prefix uniform (u16 mod 2 — stable across runs and engines,
    * the production property: a user never switches arms), then the
    * 1-df χ² against the 50/50 design reduces EXACTLY to
    * (n_c − n_t)²/n, and the 95 % flag compares
    * 1000·(n_c − n_t)² > 3841·n in BIGINT — no rounded-double
    * decision. One distinct + one aggregate; scales as a keyed
    * dedup.
    */
  /** Per-user arm assignment (user_id, arm) — the library surface
    * `run.RunAbtest`'s A/A section joins back to outcomes. */
  def abAssignArms(events: DataFrame): DataFrame = {
    val u16 = conv(substring(md5(concat(lit("ab_"),
      col("user_id").cast("string"))), 1, 4), 16, 10).cast("long")
    events.select(col("user_id")).distinct()
      .select(col("user_id"), when(pmod(u16, lit(2)) === 0, lit("control"))
        .otherwise(lit("treatment")).as("arm"))
  }

  def eventsAbAssign(s: SparkSession, d: String): DataFrame =
    abAssignArms(Tables.events(s, d))
      .groupBy(col("arm")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("n_users"),
        sum(when(col("arm") === "control", col("n")).otherwise(0L)).as("n_control"),
        sum(when(col("arm") === "treatment", col("n")).otherwise(0L)).as("n_treatment"))
      .withColumn("d2", (col("n_control") - col("n_treatment")) *
        (col("n_control") - col("n_treatment")))
      .select(col("n_users"), col("n_control"), col("n_treatment"),
        rnd(col("d2").cast("double") / col("n_users"), 6).as("srm_chi2"),
        (col("d2") * 1000 > col("n_users") * 3841).as("srm_flag"))

  // ---- stats_fdr_bh: multiple-testing correction over the A/B battery ---

  /** stats_fdr_bh — Benjamini-Hochberg step-up over the experiment
    * battery's two-sided z-family statistics (round-11, VERDICT r10 #3):
    * `run.RunAbtest` reports ~12 statistics side by side, and a dozen
    * uncorrected 1.96 calls at the 5 % level is exactly the
    * false-discovery machine real experimentation platforms guard
    * against. This row re-reads the battery's m = 6 N(0,1)-scale
    * statistics (Welch t at corpus df ≈ z; the Mann-Whitney and
    * proportion z's; √χ²₁ for the SRM gate; Spearman's ρ√(n−1);
    * Kendall's 3τ√(n(n−1))/√(2(2n+5))), ranks them by descending |z|,
    * and compares rank i against the FIXED critical grid
    * c_i = Φ⁻¹(1 − α·i/(2m)) at α = 0.05 — literal quantiles, no normal
    * CDF at runtime (the `stats_sample_size` discipline), identical
    * constants in both engines. BH rejects ranks ≤ k* where k* is the
    * LARGEST i with |z|_(i) ≥ c_i (step-up: everything above the last
    * crossing is rejected, even interior ranks that dip under their own
    * threshold). `reject_raw` is the uncorrected 1.96 habit alongside,
    * so the row IS the "adjusted calls" diff. Scale shape: each
    * component is its own declared row's builder (one corpus pass,
    * single-row output), and everything after the union is arithmetic
    * over a 6-row frame — the global-order window is bounded at m rows
    * by construction (the PlanAuditSpec whitelist entry carries the bound).
    */
  /** The BH critical grid Φ⁻¹(1 − 0.05·i/(2·6)), i = 1..6 — ONE
    * definition shared by the Spark builder, the spliced oracle, and
    * `run.RunAbtest`'s report section (review fix: three hand-copies
    * of the same six quantiles invited silent drift).
    */
  private[graft] val BhCritGrid: Seq[Double] =
    Seq(2.638257, 2.39398, 2.241403, 2.128045, 2.036834, 1.959964)

  def statsFdrBh(s: SparkSession, d: String): DataFrame = {
    val parts = Seq(
      statsTtest(s, d).select(lit("welch_t").as("test"),
        abs(col("t_welch")).as("az")),
      statsMannwhitney(s, d).select(lit("mannwhitney").as("test"),
        abs(col("z")).as("az")),
      statsZtestProp(s, d).select(lit("prop_z").as("test"),
        abs(col("z")).as("az")),
      eventsAbAssign(s, d).select(lit("srm").as("test"),
        sqrt(col("srm_chi2")).as("az")),
      statsSpearman(s, d).select(lit("spearman").as("test"),
        (abs(col("rho")) * sqrt((col("n") - 1).cast("double"))).as("az")),
      statsKendall(s, d).select(lit("kendall").as("test"),
        (abs(col("tau_b")) * lit(3.0) *
          sqrt((col("n") * (col("n") - 1)).cast("double")) /
          sqrt(lit(2.0) * (col("n") * 2 + 5))).as("az")))
    val u = parts.reduce(_ unionAll _)
    val ranked = u.withColumn("rank",
        row_number().over(Window.orderBy(col("az").desc, col("test"))))
      .withColumn("bh_crit",
        BhCritGrid.init.zipWithIndex.foldLeft(lit(BhCritGrid.last)) {
          case (acc, (c, i)) => when(col("rank") === i + 1, c).otherwise(acc)
        })
    ranked
      .withColumn("kmax", max(when(col("az") >= col("bh_crit"), col("rank"))
        .otherwise(0)).over(Window.partitionBy()))
      .select(col("test"), rnd(col("az"), 6).as("abs_z"), col("rank"),
        col("bh_crit"),
        (col("az") > 1.959964).as("reject_raw"),
        (col("rank") <= col("kmax")).as("reject_bh"))
  }

  // ---- anon_dp_counts: differentially-private noisy counts --------------

  /** anon_dp_counts — ε-differentially-private release of per-nation
    * customer counts (ε = 1, sensitivity 1 → Laplace(1) noise): the
    * privacy-preserving aggregate publication that completes the anon
    * family's ladder (k-anon / l-div / t-close AUDIT a release; this
    * one PRODUCES it). Noise is hash-deterministic for the test gate:
    * u = (u16 + 0.5)/65536 from md5("dp_<class>") (the
    * `stats_bootstrap_ci` uniform trick), inverted through the Laplace
    * CDF branch-wise (u < ½ → ln(2u), else −ln(2 − 2u)) — a real
    * deployment swaps the seeded uniform for a secure RNG; the
    * inversion, sensitivity and ε plumbing are exactly this. True
    * counts are deliberately NOT emitted. ln meets the oracle's libm
    * under the 6-dp edge — the `metrics_logloss` precedent.
    */
  def anonDpCounts(s: SparkSession, d: String): DataFrame = {
    val u16 = conv(substring(md5(concat(lit("dp_"),
      col("cls").cast("string"))), 1, 4), 16, 10).cast("long")
    Tables.customer(s, d)
      .groupBy(col("c_nationkey").as("cls"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("u", (u16 + 0.5) / 65536.0)
      .select(col("cls"),
        rnd(col("n_true") + when(col("u") < 0.5, log(col("u") * 2))
          .otherwise(-log(lit(2.0) - col("u") * 2)), 6).as("noisy_n"),
        lit(1.0).as("epsilon"))
  }

  // ---- stats_levene: Brown-Forsythe variance-homogeneity test -----------

  /** stats_levene — Brown-Forsythe test (Levene with group MEDIANS)
    * for variance homogeneity across event types: the gate before
    * trusting `stats_anova`/`stats_ttest`, robust to the heavy tails
    * that break mean-centered Levene. Group medians are exact via
    * `Rank.groupMedian` (keyed two-pass prefix sum on the per-group
    * DISTINCT-value frame — never a per-group window over the row
    * stream); deviations |vu − med| stay e6 BIGINTs, so the one-way F
    * over them reuses the `stats_anova` integer algebra verbatim
    * (Σd² in DECIMAL(38,0), ascending-group ordered double fold,
    * one closing expression). Median convention: lower median
    * (smallest value reaching half the group) — deterministic in both
    * engines, no even-count averaging.
    */
  /** Core over any (g, v) frame — frame-parameterized for PropertySpec. */
  def leveneOf(df: DataFrame): DataFrame = {
    val d19 = "decimal(19,0)"
    val e6 = df.select(col("g"),
      floor(col("v") * 1e6 + 0.5).cast("long").as("vu"))
    val med = Rank.groupMedian(e6, col("g"), col("vu"))
      .select(col("mr_k").as("g"), col("mr_median").as("mu"))
    val dev = e6.join(broadcast(med), "g")
      .select(col("g"), abs(col("vu") - col("mu")).as("du"))
    val per = dev.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("du")).as("sg"),
        sum(col("du").cast(d19) * col("du").cast(d19)).as("qg"))
      .withColumn("term",
        (col("sg").cast(d19) * col("sg").cast(d19)).cast("double") / col("ng"))
    per.agg(
      count(lit(1)).as("k"),
      sum(col("ng")).as("n"),
      sum(col("sg")).as("s"),
      sum(col("qg")).as("q"),
      aggregate(sort_array(collect_list(struct(col("g"), col("term")))),
        lit(0.0), (acc, s) => acc + s.getField("term")).as("a"))
      .withColumn("ssb", col("a") -
        (col("s").cast(d19) * col("s").cast(d19)).cast("double") / col("n"))
      .withColumn("ssw", col("q").cast("double") - col("a"))
      .select(col("n"), col("k"),
        rnd((col("ssb") / (col("k") - 1)) /
          (col("ssw") / (col("n") - col("k"))), 6).as("f"))
  }

  def statsLevene(s: SparkSession, d: String): DataFrame =
    leveneOf(Tables.events(s, d)
      .select(col("event_type").as("g"), col("value").as("v")))

  // ---- stats_ztest_prop: two-proportion z-test ---------------------------

  /** stats_ztest_prop — two-proportion z-test: does the rate of
    * high-value events (value > 100) differ between clicks and
    * purchases? The conversion-rate A/B read-out next to
    * `stats_ttest`'s mean comparison. Everything is four BIGINT counts
    * from one corpus pass (map-side combinable); rates and the pooled
    * z close in single double expressions shared with the oracle.
    */
  def statsZtestProp(s: SparkSession, d: String): DataFrame = {
    val isA = col("event_type") === "click"
    val hit = when(col("value") > 100.0, 1L).otherwise(0L)
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("na"),
        sum(when(isA, hit).otherwise(0L)).as("xa"),
        sum(when(!isA, 1L).otherwise(0L)).as("nb"),
        sum(when(!isA, hit).otherwise(0L)).as("xb"))
      .withColumn("pp", (col("xa") + col("xb")).cast("double") /
        (col("na") + col("nb")))
      .select(col("na"), col("xa"), col("nb"), col("xb"),
        rnd(col("xa").cast("double") / col("na"), 6).as("rate_a"),
        rnd(col("xb").cast("double") / col("nb"), 6).as("rate_b"),
        rnd((col("xa").cast("double") / col("na") -
          col("xb").cast("double") / col("nb")) /
          sqrt(col("pp") * (lit(1.0) - col("pp")) *
            (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 6).as("z"))
  }

  // ---- anon_tcloseness: t-closeness audit --------------------------------

  /** anon_tcloseness — the third rung of the privacy ladder after
    * `anon_kanon` / `anon_ldiversity`: l-diversity counts distinct
    * sensitive values but a class can be 5-diverse and still 98 %
    * BUILDING-segment (the skewness attack). t-closeness bounds the
    * DISTANCE between each class's sensitive distribution and the
    * global one — for a categorical attribute, EMD reduces to total
    * variation ½Σ|p(s|c) − p(s)|. Exact integers end to end:
    * ½Σ|…| = (Σ_present |n_cs·N − n_s·n_c| + (n_c·N − Σ_present n_s·n_c))
    * / (2·n_c·N) — the second term folds every ABSENT segment without a
    * densification join. The T = 0.05 flag compares 10·t_num against
    * n_c·N in BIGINT (never a rounded double); t_max alone closes in
    * one double division. Scale shape: one corpus-scale keyed count
    * (map-side combinable), then everything is aggregates of that
    * ≤|classes|·|segments| frame. BIGINT-safe to N ≈ 6e8 rows
    * (20·N² < 2⁶³); DECIMAL beyond.
    */
  def anonTcloseness(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    def level(name: String, df: DataFrame, qi: Column): DataFrame = {
      val cs = df.groupBy(qi.as("cls"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_cs"))
      val segTot = cs.groupBy(col("seg")).agg(sum(col("n_cs")).as("n_s"))
      val nC = cs.groupBy(col("cls")).agg(sum(col("n_cs")).as("n_c"))
      val nTot = cs.agg(sum(col("n_cs")).as("n_all"))
      val perClass = cs.join(broadcast(segTot), "seg").join(nC, "cls")
        .crossJoin(broadcast(nTot))
        .groupBy(col("cls"))
        .agg(max(col("n_c")).as("n_c"), max(col("n_all")).as("n_all"),
          sum(abs(col("n_cs") * col("n_all") - col("n_s") * col("n_c")))
            .as("s_present"),
          sum(col("n_s") * col("n_c")).as("s_ns"))
        .withColumn("t_num",
          col("s_present") + (col("n_c") * col("n_all") - col("s_ns")))
      val flagged = col("t_num") * 10 > col("n_c") * col("n_all")
      perClass.agg(
        count(lit(1)).as("n_classes"),
        rnd(max(col("t_num") / (lit(2.0) * col("n_c") * col("n_all"))), 6)
          .as("t_max"),
        sum(when(flagged, 1L).otherwise(0L)).as("classes_gt_t"),
        sum(when(flagged, col("n_c")).otherwise(0L)).as("rows_at_risk"))
        .select(lit(name).as("qi_level"), col("n_classes"), col("t_max"),
          col("classes_gt_t"), col("rows_at_risk"))
    }
    val withRegion = cust.join(
      broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_regionkey"))),
      col("c_nationkey") === col("n_nationkey"))
    level("nation", cust, col("c_nationkey"))
      .unionAll(level("region", withRegion, col("n_regionkey")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_anova" -> statsAnova,
    "stats_kendall" -> statsKendall,
    "stats_levene" -> (statsLevene _),
    "stats_ztest_prop" -> statsZtestProp,
    "stats_effect_size" -> statsEffectSize,
    "stats_sample_size" -> statsSampleSize,
    "events_cuped" -> eventsCuped,
    "anon_dp_counts" -> anonDpCounts,
    "events_ab_assign" -> eventsAbAssign,
    "stats_fdr_bh" -> (statsFdrBh _),
    "agg_group_quantiles" -> aggGroupQuantiles,
    "stats_spearman" -> (statsSpearman _),
    "stats_kruskal" -> (statsKruskal _),
    "anon_tcloseness" -> anonTcloseness,
    "stats_mannwhitney" -> (statsMannwhitney _),
    "stats_bootstrap_ci" -> statsBootstrapCi,
    "stats_permutation" -> statsPermutation,
    "market_basket" -> marketBasket,
    "anon_ldiversity" -> anonLdiversity,
    "stats_chisq" -> statsChisq,
    "stats_ttest" -> statsTtest,
    "anon_kanon" -> anonKanon,
    "skyline_pareto" -> skylinePareto,
    "data_constraints" -> dataConstraints,
    "agg_benford" -> aggBenford,
    "agg_trimmed_mean" -> aggTrimmedMean,
    "agg_weighted_median" -> aggWeightedMedian,
    "scan_filter_prune" -> scanFilterPrune,
    "normalize_minmax" -> normalizeMinmax,
    "scalar_math" -> scalarMath,
    "scalar_string" -> scalarString,
    "scalar_regex" -> scalarRegex,
    "null_handling" -> nullHandling,
    "scalar_date" -> scalarDate,
    "scalar_json" -> scalarJson,
    "array_ops" -> arrayOps,
    "array_hof" -> arrayHof,
    "join_broadcast" -> joinBroadcast,
    "join_shuffle" -> joinShuffle,
    "join_semi" -> joinSemi,
    "join_anti" -> joinAnti,
    "join_full_outer" -> joinFullOuter,
    "join_range" -> joinRange,
    "join_interval_bin" -> joinIntervalBin,
    "join_asof" -> joinAsof,
    "join_asof_tol" -> ((s, d) => joinAsofTol(s, d)),
    "agg_corr" -> aggCorr,
    "similarity_editdist" -> editDistPairs,
    "join_asof_fwd" -> joinAsofFwd,
    "join_asof_nearest" -> joinAsofNearest,
    "sketch_countmin" -> sketchCountMin,
    "agg_pivot" -> aggPivot,
    "agg_cube" -> aggCube,
    "agg_collect_sorted" -> aggCollectSorted,
    "window_lead_lag" -> windowLeadLag,
    "agg_groupby" -> aggGroupby,
    "agg_distinct" -> aggDistinct,
    "agg_rollup" -> aggRollup,
    "agg_histogram" -> aggHistogram,
    "agg_topk_freq" -> aggTopkFreq,
    "agg_quantiles" -> aggQuantiles,
    "join_skew_salted" -> joinSkewSalted,
    "agg_stats" -> aggStats,
    "agg_moments" -> aggMoments,
    "data_profile" -> dataProfile,
    "window_analytic" -> windowAnalytic,
    "window_rank" -> windowRank,
    "window_ntile" -> windowNtile,
    "window_range_frame" -> windowRangeFrame,
    "agg_grouping_sets" -> aggGroupingSets,
    "scalar_hash" -> scalarHash,
    "sort_limit" -> sortLimit,
    "set_ops" -> setOps,
    "sql_q3" -> sqlQ3,
    "join_bloom_prune" -> joinBloomPrune,
    "sql_exists" -> sqlExists,
    "agg_argmax" -> aggArgmax,
    "agg_mode" -> aggMode,
    "agg_string_agg" -> aggStringAgg,
    "outlier_iqr" -> outlierIqr,
    "window_cume_dist" -> windowCumeDist,
    "reshape_unpivot" -> reshapeUnpivot,
    "sql_lateral" -> sqlLateral,
    "sql_recursive" -> sqlRecursive,
    "sketch_kmv" -> sketchKmv,
    "sql_q5" -> sqlQ5,
    "sql_q17" -> sqlQ17,
    "agg_regression" -> aggRegression,
    "sql_division" -> sqlDivision,
    "join_spatial_grid" -> ((s, d) => joinSpatialGrid(s, d)),
    "sql_q4" -> sqlQ4,
    "sql_q19" -> sqlQ19,
    "agg_gini" -> aggGini,
    "sql_q7" -> sqlQ7,
    "sql_q10" -> sqlQ10,
    "sql_q12" -> sqlQ12,
    "sql_q1" -> sqlQ1,
    "sql_q2" -> sqlQ2,
    "sql_q6" -> sqlQ6,
    "sql_q8" -> sqlQ8,
    "sql_q9" -> sqlQ9,
    "sql_q11" -> sqlQ11,
    "sql_q13" -> sqlQ13,
    "sql_q14" -> sqlQ14,
    "sql_q15" -> sqlQ15,
    "sql_q16" -> sqlQ16,
    "sql_q18" -> sqlQ18,
    "sql_q20" -> sqlQ20,
    "sql_q21" -> sqlQ21,
    "sql_q22" -> sqlQ22,
    "join_null_aware_anti" -> joinNullAwareAnti,
    "data_skew_report" -> dataSkewReport,
  )

  /** DuckDB twins — same column names, rounding, tie-breaks (SURVEY §7.4).
    * Integer-width notes: Spark row_number/size/year are INT32 → `::INT`;
    * DuckDB count(*) is BIGINT = Spark count. Float literals use e-notation
    * so DuckDB types them DOUBLE, not DECIMAL.
    */
  lazy val oracles: Map[String, String] =
    (rawOracles + ("stats_fdr_bh" -> fdrBhOracle)).view.mapValues(duckify).toMap

  /** The BH oracle SPLICES the six component rows' own oracle strings as
    * subqueries (the `corpus_curate` composed-families discipline: one
    * definition per statistic repo-wide — a hand copy here could silently
    * drift from the declared component rows). Closing arithmetic and the
    * literal critical grid mirror the Spark builder exactly.
    */
  private lazy val fdrBhOracle: String =
    ("WITH u AS (" +
      s"SELECT 'welch_t' AS test, abs(t_welch) AS az FROM (${rawOracles("stats_ttest")}) " +
      s"UNION ALL SELECT 'mannwhitney', abs(z) FROM (${rawOracles("stats_mannwhitney")}) " +
      s"UNION ALL SELECT 'prop_z', abs(z) FROM (${rawOracles("stats_ztest_prop")}) " +
      s"UNION ALL SELECT 'srm', sqrt(srm_chi2) FROM (${rawOracles("events_ab_assign")}) " +
      s"UNION ALL SELECT 'spearman', abs(rho) * sqrt(n - 1) FROM (${rawOracles("stats_spearman")}) " +
      "UNION ALL SELECT 'kendall', abs(tau_b) * 3e0 * sqrt(n * (n - 1)) / " +
      s"sqrt(2e0 * (n * 2 + 5)) FROM (${rawOracles("stats_kendall")})), " +
      "r AS (SELECT test, az, " +
      "row_number() OVER (ORDER BY az DESC, test)::INT AS rank FROM u), " +
      "c AS (SELECT *, CASE rank " +
      BhCritGrid.init.zipWithIndex.map { case (c, i) =>
        s"WHEN ${i + 1} THEN ${c}e0 " }.mkString +
      s"ELSE ${BhCritGrid.last}e0 END AS bh_crit FROM r), " +
      "k AS (SELECT *, max(CASE WHEN az >= bh_crit THEN rank ELSE 0 END) " +
      "OVER () AS kmax FROM c) " +
      "SELECT test, rnd(az, 6) AS abs_z, rank, bh_crit, " +
      "az > 1.959964e0 AS reject_raw, rank <= kmax AS reject_bh FROM k")

  /** Hex digit d (1-based) of md5(`e`) as 0..15 — the DuckDB side of the
    * `sample_importance` uniform trick. */
  private def hexDigitSql(e: String, d: Int): String =
    s"(instr('0123456789abcdef', substr(md5($e), $d, 1)) - 1)"

  private val rawOracles: Map[String, String] = Map(
    "stats_anova" ->
      // e6-BIGINT sums; per-group Σ s²/n folded in ascending-g order
      // (list_reduce first-element seed ≡ the 0.0-seeded Spark fold)
      ("WITH e6 AS (SELECT event_type AS g, " +
        "floor(value * 1e6 + 0.5)::BIGINT AS vu FROM events), " +
        "per AS (SELECT g, count(*) AS ng, sum(vu)::BIGINT AS sg, " +
        "sum(vu::HUGEINT * vu) AS qg FROM e6 GROUP BY 1), " +
        "m AS (SELECT count(*) AS k, sum(ng)::BIGINT AS n, sum(sg)::BIGINT AS s, " +
        "sum(qg)::DOUBLE AS q, " +
        "list_reduce(list((sg::HUGEINT * sg)::DOUBLE / ng ORDER BY g), " +
        "(acc, x) -> acc + x) AS a FROM per), " +
        "x AS (SELECT n, k, a - (s::HUGEINT * s)::DOUBLE / n AS ssb, " +
        "q - a AS ssw FROM m) " +
        "SELECT n, k, rnd((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f, " +
        "rnd(ssb / (ssb + ssw), 6) AS eta_sq FROM x"),

    "stats_kendall" ->
      // concordant-minus-discordant over the contingency grid (≤ 550
      // cells); identical closing double expression
      ("WITH grid AS (SELECT l_quantity AS x, l_discount AS y, count(*) AS nc " +
        "FROM lineitem GROUP BY 1, 2), " +
        "pq AS (SELECT sum(CASE WHEN b.y > a.y THEN a.nc * b.nc " +
        "WHEN b.y < a.y THEN -a.nc * b.nc ELSE 0 END)::BIGINT AS pq_diff " +
        "FROM grid a JOIN grid b ON b.x > a.x), " +
        "tx AS (SELECT sum(t * (t - 1))::BIGINT AS tx2 FROM " +
        "(SELECT sum(nc)::BIGINT AS t FROM grid GROUP BY x)), " +
        "ty AS (SELECT sum(t * (t - 1))::BIGINT AS ty2 FROM " +
        "(SELECT sum(nc)::BIGINT AS t FROM grid GROUP BY y)), " +
        "tot AS (SELECT sum(nc)::BIGINT AS n FROM grid), " +
        "x AS (SELECT n, pq_diff, n * (n - 1) AS n0x2, tx2, ty2 " +
        "FROM pq, tx, ty, tot) " +
        "SELECT n, pq_diff, rnd(pq_diff / sqrt((n0x2 - tx2)::DOUBLE / 2e0 * " +
        "((n0x2 - ty2)::DOUBLE / 2e0)), 6) AS tau_b FROM x"),

    "stats_levene" ->
      // lower-median per group via cumulative counts over the distinct
      // frame, then the stats_anova integer algebra on |vu − med|
      ("WITH e6 AS (SELECT event_type AS g, " +
        "floor(value * 1e6 + 0.5)::BIGINT AS vu FROM events), " +
        "cnt AS (SELECT g, vu, count(*) AS t FROM e6 GROUP BY 1, 2), " +
        "cum AS (SELECT g, vu, sum(t) OVER (PARTITION BY g ORDER BY vu) AS c, " +
        "sum(t) OVER (PARTITION BY g) AS ngg FROM cnt), " +
        "med AS (SELECT g, min(vu) AS mu FROM cum WHERE 2 * c >= ngg GROUP BY 1), " +
        "dev AS (SELECT g, abs(vu - mu) AS du FROM e6 JOIN med USING (g)), " +
        "per AS (SELECT g, count(*) AS ng, sum(du)::BIGINT AS sg, " +
        "sum(du::HUGEINT * du) AS qg FROM dev GROUP BY 1), " +
        "m AS (SELECT count(*) AS k, sum(ng)::BIGINT AS n, sum(sg)::BIGINT AS s, " +
        "sum(qg)::DOUBLE AS q, " +
        "list_reduce(list((sg::HUGEINT * sg)::DOUBLE / ng ORDER BY g), " +
        "(acc, x) -> acc + x) AS a FROM per), " +
        "x AS (SELECT n, k, a - (s::HUGEINT * s)::DOUBLE / n AS ssb, " +
        "q - a AS ssw FROM m) " +
        "SELECT n, k, rnd((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f FROM x"),

    "agg_group_quantiles" ->
      // same inverted-CDF integer cut over per-group cumulative counts
      ("WITH e6 AS (SELECT event_type AS g, " +
        "floor(value * 1e6 + 0.5)::BIGINT AS vu FROM events), " +
        "cnt AS (SELECT g, vu, count(*) AS t FROM e6 GROUP BY 1, 2), " +
        "cum AS (SELECT g, vu, sum(t) OVER (PARTITION BY g ORDER BY vu) AS c, " +
        "sum(t) OVER (PARTITION BY g) AS n FROM cnt), " +
        "qs AS (SELECT unnest([250, 500, 750, 950]) AS q_permille) " +
        "SELECT g AS event_type, q_permille, min(vu) / 1e6 AS value " +
        "FROM cum JOIN qs ON c * 1000 >= n * q_permille " +
        "GROUP BY 1, 2"),

    "events_ab_assign" ->
      ("WITH u AS (SELECT DISTINCT user_id FROM events), " +
        "a AS (SELECT CASE WHEN ((((" +
        hexDigitSql("'ab_' || user_id::VARCHAR", 1) + " * 16 + " +
        hexDigitSql("'ab_' || user_id::VARCHAR", 2) + ") * 16 + " +
        hexDigitSql("'ab_' || user_id::VARCHAR", 3) + ") * 16 + " +
        hexDigitSql("'ab_' || user_id::VARCHAR", 4) + ") % 2) = 0 " +
        "THEN 'control' ELSE 'treatment' END AS arm FROM u), " +
        "g AS (SELECT arm, count(*) AS n FROM a GROUP BY 1), " +
        "m AS (SELECT sum(n)::BIGINT AS n_users, " +
        "sum(CASE WHEN arm = 'control' THEN n ELSE 0 END)::BIGINT AS n_control, " +
        "sum(CASE WHEN arm = 'treatment' THEN n ELSE 0 END)::BIGINT AS n_treatment " +
        "FROM g), " +
        "x AS (SELECT *, (n_control - n_treatment) * (n_control - n_treatment) AS d2 " +
        "FROM m) " +
        "SELECT n_users, n_control, n_treatment, " +
        "rnd(d2::DOUBLE / n_users, 6) AS srm_chi2, " +
        "d2 * 1000 > n_users * 3841 AS srm_flag FROM x"),

    "stats_sample_size" ->
      // same e6 moments; fixed z literals, identical closing ceil
      ("WITH e6 AS (SELECT event_type, floor(value * 1e6 + 0.5)::BIGINT AS vu " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "mu AS (SELECT " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS na, " +
        "sum(CASE WHEN event_type = 'click' THEN vu END)::BIGINT AS sau, " +
        "sum(CASE WHEN event_type = 'click' THEN vu::HUGEINT * vu END) AS qau, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS nb, " +
        "sum(CASE WHEN event_type = 'purchase' THEN vu END)::BIGINT AS sbu, " +
        "sum(CASE WHEN event_type = 'purchase' THEN vu::HUGEINT * vu END) AS qbu " +
        "FROM e6), " +
        "m AS (SELECT na, nb, sau::DOUBLE / 1e6 AS sa, qau::DOUBLE / 1e12 AS qa, " +
        "sbu::DOUBLE / 1e6 AS sb, qbu::DOUBLE / 1e12 AS qb FROM mu), " +
        "p AS (SELECT na, nb, (qa - sa * sa / na + (qb - sb * sb / nb)) / " +
        "(na + nb - 2) AS sp2, 0.02e0 * (sa + sb) / (na + nb) AS mde FROM m) " +
        "SELECT na, nb, rnd(mde, 6) AS mde_abs, " +
        "ceil(2.0e0 * ((1.959964e0 + 0.841621e0) * (1.959964e0 + 0.841621e0)) " +
        "* sp2 / (mde * mde))::BIGINT AS n_required_per_arm FROM p"),

    "events_cuped" ->
      // same midpoint split, 6-dp period means, spearman-style exact
      // sums; theta and the rho-squared reduction in closing doubles
      ("WITH ev AS (SELECT user_id, epoch_us(ts)::BIGINT AS us, value FROM events), " +
        "b AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev), " +
        "pm AS (SELECT user_id, us < (SELECT mid FROM b) AS pre, " +
        "rnd(avg(value), 6) AS m FROM ev GROUP BY 1, 2), " +
        "xy AS (SELECT user_id, " +
        "max(CASE WHEN pre THEN floor(m * 1e6 + 0.5)::BIGINT END) AS x, " +
        "max(CASE WHEN NOT pre THEN floor(m * 1e6 + 0.5)::BIGINT END) AS y " +
        "FROM pm GROUP BY 1), " +
        "f AS (SELECT x, y FROM xy WHERE x IS NOT NULL AND y IS NOT NULL), " +
        "m2 AS (SELECT count(*) AS n_users, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, " +
        "sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx, " +
        "sum(y::HUGEINT * y) AS syy FROM f), " +
        "c AS (SELECT n_users, " +
        "n_users::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS covn, " +
        "n_users::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS varxn, " +
        "n_users::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS varyn FROM m2) " +
        "SELECT n_users, rnd(covn / varxn, 6) AS theta, " +
        "rnd(covn * covn / (varxn * varyn), 6) AS var_reduction FROM c"),

    "stats_effect_size" ->
      // same e6-integer moments CTE as stats_ttest; pooled-SD d and
      // the Hedges small-sample correction in identical closing doubles
      ("WITH e6 AS (SELECT event_type, floor(value * 1e6 + 0.5)::BIGINT AS vu " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "mu AS (SELECT " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS na, " +
        "sum(CASE WHEN event_type = 'click' THEN vu END)::BIGINT AS sau, " +
        "sum(CASE WHEN event_type = 'click' THEN vu::HUGEINT * vu END) AS qau, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS nb, " +
        "sum(CASE WHEN event_type = 'purchase' THEN vu END)::BIGINT AS sbu, " +
        "sum(CASE WHEN event_type = 'purchase' THEN vu::HUGEINT * vu END) AS qbu " +
        "FROM e6), " +
        "m AS (SELECT na, nb, sau::DOUBLE / 1e6 AS sa, qau::DOUBLE / 1e12 AS qa, " +
        "sbu::DOUBLE / 1e6 AS sb, qbu::DOUBLE / 1e12 AS qb FROM mu), " +
        "p AS (SELECT na, nb, (qa - sa * sa / na + (qb - sb * sb / nb)) / " +
        "(na + nb - 2) AS sp2, sa / na - sb / nb AS md FROM m), " +
        "x AS (SELECT na, nb, md / sqrt(sp2) AS dd FROM p) " +
        "SELECT na, nb, rnd(dd, 6) AS cohen_d, " +
        "rnd(dd * (1.0e0 - 3.0e0 / (4.0e0 * (na + nb) - 9)), 6) AS hedges_g FROM x"),

    "anon_dp_counts" ->
      ("WITH g AS (SELECT c_nationkey AS cls, count(*) AS n_true " +
        "FROM customer GROUP BY 1), " +
        "h AS (SELECT cls, n_true, ((((" +
        hexDigitSql("'dp_' || cls::VARCHAR", 1) + " * 16 + " +
        hexDigitSql("'dp_' || cls::VARCHAR", 2) + ") * 16 + " +
        hexDigitSql("'dp_' || cls::VARCHAR", 3) + ") * 16 + " +
        hexDigitSql("'dp_' || cls::VARCHAR", 4) + ") + 0.5e0) / 65536e0 AS u FROM g) " +
        "SELECT cls, rnd(n_true + CASE WHEN u < 0.5e0 THEN ln(u * 2) " +
        "ELSE -ln(2e0 - u * 2) END, 6) AS noisy_n, 1.0e0 AS epsilon FROM h"),

    "stats_ztest_prop" ->
      ("WITH m AS (SELECT " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS na, " +
        "sum(CASE WHEN event_type = 'click' AND value > 100 THEN 1 ELSE 0 END)::BIGINT AS xa, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS nb, " +
        "sum(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1 ELSE 0 END)::BIGINT AS xb " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "x AS (SELECT *, (xa + xb)::DOUBLE / (na + nb) AS pp FROM m) " +
        "SELECT na, xa, nb, xb, rnd(xa::DOUBLE / na, 6) AS rate_a, " +
        "rnd(xb::DOUBLE / nb, 6) AS rate_b, " +
        "rnd((xa::DOUBLE / na - xb::DOUBLE / nb) / " +
        "sqrt(pp * (1e0 - pp) * (1e0 / na + 1e0 / nb)), 6) AS z FROM x"),

    "stats_spearman" ->
      // midranks via cumulative counts over the distinct-value frame
      // (it IS the oracle); identical Pearson-on-2·midrank algebra,
      // identical closing double expression
      ("WITH base AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem), " +
        "cx AS (SELECT x, count(*) AS t FROM base GROUP BY 1), " +
        "mx AS (SELECT x, 2 * (sum(t) OVER (ORDER BY x) - t) + t + 1 AS rx FROM cx), " +
        "cy AS (SELECT y, count(*) AS t FROM base GROUP BY 1), " +
        "my AS (SELECT y, 2 * (sum(t) OVER (ORDER BY y) - t) + t + 1 AS ry FROM cy), " +
        "j AS (SELECT rx, ry FROM base JOIN mx USING (x) JOIN my USING (y)), " +
        "m AS (SELECT count(*) AS n, sum(rx)::DOUBLE AS sx, sum(ry)::DOUBLE AS sy, " +
        "sum(rx::HUGEINT * ry)::DOUBLE AS sxy, sum(rx::HUGEINT * rx)::DOUBLE AS sxx, " +
        "sum(ry::HUGEINT * ry)::DOUBLE AS syy FROM j) " +
        "SELECT n, rnd((n::DOUBLE * sxy - sx * sy) / " +
        "sqrt((n::DOUBLE * sxx - sx * sx) * (n::DOUBLE * syy - sy * sy)), 6) AS rho " +
        "FROM m"),

    "stats_kruskal" ->
      // per-group terms folded in ascending-g order: list_reduce's
      // first-element seed == the Spark 0.0-seeded aggregate fold
      ("WITH base AS (SELECT event_type AS g, value AS v FROM events), " +
        "cv AS (SELECT v, count(*) AS t FROM base GROUP BY 1), " +
        "mr AS (SELECT v, t, 2 * (sum(t) OVER (ORDER BY v) - t) + t + 1 AS r2 FROM cv), " +
        "per AS (SELECT g, count(*) AS ng, sum(r2)::BIGINT AS r2g " +
        "FROM base JOIN mr USING (v) GROUP BY 1), " +
        "st AS (SELECT count(*) AS n_groups, " +
        "list_reduce(list((r2g::HUGEINT * r2g)::DOUBLE / (4e0 * ng) ORDER BY g), " +
        "(acc, x) -> acc + x) AS s FROM per), " +
        "tot AS (SELECT sum(t)::BIGINT AS n, sum(t*t*t - t)::BIGINT AS ties FROM cv), " +
        "x AS (SELECT n, n_groups, s, ties, n::DOUBLE AS nd FROM st, tot), " +
        "y AS (SELECT n, n_groups, ties, nd, " +
        "12e0 * s / (nd * (nd + 1e0)) - 3e0 * (nd + 1e0) AS h FROM x) " +
        "SELECT n, n_groups, rnd(h, 6) AS h, " +
        "rnd(h / (1e0 - ties::DOUBLE / (nd * nd * nd - nd)), 6) AS h_tie FROM y"),

    "anon_tcloseness" ->
      // same absent-segment fold: Σ_present |n_cs·N − n_s·n_c| +
      // (n_c·N − Σ_present n_s·n_c); flag compares 10·t_num in BIGINT
      ("WITH cs1 AS (SELECT c_nationkey AS cls, c_mktsegment AS seg, " +
        "count(*) AS n_cs FROM customer GROUP BY 1, 2), " +
        "cs2 AS (SELECT n_regionkey AS cls, c_mktsegment AS seg, count(*) AS n_cs " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2), " +
        "u1 AS (SELECT cls, n_c, n_all, s_present + (n_c * n_all - s_ns) AS t_num " +
        "FROM (SELECT cls, max(n_c) AS n_c, max(n_all) AS n_all, " +
        "sum(abs(n_cs * n_all - n_s * n_c))::BIGINT AS s_present, " +
        "sum(n_s * n_c)::BIGINT AS s_ns FROM cs1 " +
        "JOIN (SELECT seg, sum(n_cs)::BIGINT AS n_s FROM cs1 GROUP BY 1) USING (seg) " +
        "JOIN (SELECT cls, sum(n_cs)::BIGINT AS n_c FROM cs1 GROUP BY 1) USING (cls), " +
        "(SELECT sum(n_cs)::BIGINT AS n_all FROM cs1) GROUP BY 1)), " +
        "u2 AS (SELECT cls, n_c, n_all, s_present + (n_c * n_all - s_ns) AS t_num " +
        "FROM (SELECT cls, max(n_c) AS n_c, max(n_all) AS n_all, " +
        "sum(abs(n_cs * n_all - n_s * n_c))::BIGINT AS s_present, " +
        "sum(n_s * n_c)::BIGINT AS s_ns FROM cs2 " +
        "JOIN (SELECT seg, sum(n_cs)::BIGINT AS n_s FROM cs2 GROUP BY 1) USING (seg) " +
        "JOIN (SELECT cls, sum(n_cs)::BIGINT AS n_c FROM cs2 GROUP BY 1) USING (cls), " +
        "(SELECT sum(n_cs)::BIGINT AS n_all FROM cs2) GROUP BY 1)), " +
        "r1 AS (SELECT 'nation' AS qi_level, count(*) AS n_classes, " +
        "rnd(max(t_num / (2e0 * n_c * n_all)), 6) AS t_max, " +
        "sum(CASE WHEN t_num * 10 > n_c * n_all THEN 1 ELSE 0 END)::BIGINT AS classes_gt_t, " +
        "sum(CASE WHEN t_num * 10 > n_c * n_all THEN n_c ELSE 0 END)::BIGINT AS rows_at_risk " +
        "FROM u1), " +
        "r2 AS (SELECT 'region' AS qi_level, count(*) AS n_classes, " +
        "rnd(max(t_num / (2e0 * n_c * n_all)), 6) AS t_max, " +
        "sum(CASE WHEN t_num * 10 > n_c * n_all THEN 1 ELSE 0 END)::BIGINT AS classes_gt_t, " +
        "sum(CASE WHEN t_num * 10 > n_c * n_all THEN n_c ELSE 0 END)::BIGINT AS rows_at_risk " +
        "FROM u2) " +
        "SELECT * FROM r1 UNION ALL SELECT * FROM r2"),

    "stats_mannwhitney" ->
      // oracle ranks via one window (it IS the oracle); identical
      // integer midrank algebra, identical closing double expression
      ("WITH ev AS (SELECT event_type = 'click' AS isa, value, event_id " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "r AS (SELECT isa, value, row_number() OVER (ORDER BY value, event_id) AS grank " +
        "FROM ev), " +
        "g AS (SELECT value, min(grank) AS mn, count(*) AS t, " +
        "sum(CASE WHEN isa THEN 1 ELSE 0 END)::BIGINT AS ta FROM r GROUP BY 1), " +
        "m AS (SELECT sum(ta)::BIGINT AS na, (sum(t) - sum(ta))::BIGINT AS nb, " +
        "sum(ta * (2 * (mn - 1) + t + 1))::BIGINT AS two_r1, " +
        "sum(t * t * t - t)::BIGINT AS ties FROM g), " +
        "x AS (SELECT *, (two_r1 - na * (na + 1)) / 2e0 AS u1, " +
        "na * nb / 2e0 AS mu, na + nb AS nn FROM m), " +
        "y AS (SELECT *, sqrt(na * nb / 12e0 * ((nn + 1) - " +
        "ties / (nn * (nn - 1e0)))) AS sig FROM x) " +
        "SELECT na, nb, rnd(u1, 6) AS u_stat, rnd((u1 - mu) / sig, 6) AS z FROM y"),

    "stats_bootstrap_ci" ->
      // identical md5 4-hex-digit uniform, identical integer CDF
      // cutoffs, exact e6-BIGINT folds, same (rep_mean, b) rank cut
      ("WITH ev AS (SELECT event_id, floor(value * 1e6 + 0.5e0)::BIGINT AS vu " +
        "FROM events), " +
        "reps AS (SELECT event_id, vu, b FROM ev, unnest(range(0, 64)) AS tt(b)), " +
        "h AS (SELECT b, vu, (((" +
        hexDigitSql("event_id::VARCHAR || '_' || b::VARCHAR", 1) + " * 16 + " +
        hexDigitSql("event_id::VARCHAR || '_' || b::VARCHAR", 2) + ") * 16 + " +
        hexDigitSql("event_id::VARCHAR || '_' || b::VARCHAR", 3) + ") * 16 + " +
        hexDigitSql("event_id::VARCHAR || '_' || b::VARCHAR", 4) + ") AS u16 FROM reps), " +
        "w AS (SELECT b, vu, CASE WHEN u16 < 24109 THEN 0 WHEN u16 < 48218 THEN 1 " +
        "WHEN u16 < 60273 THEN 2 WHEN u16 < 64291 THEN 3 WHEN u16 < 65296 THEN 4 " +
        "ELSE 5 END AS w FROM h), " +
        "rm AS (SELECT b, sum(w * vu) / sum(w) / 1e6 AS rep_mean FROM w GROUP BY 1), " +
        "rr AS (SELECT rep_mean, row_number() OVER (ORDER BY rep_mean, b) AS rn FROM rm), " +
        "st AS (SELECT count(*) AS n, rnd(sum(vu) / count(*) / 1e6, 6) AS mean FROM ev) " +
        "SELECT n, mean, rnd(max(CASE WHEN rn = 2 THEN rep_mean END), 6) AS ci_lo, " +
        "rnd(max(CASE WHEN rn = 63 THEN rep_mean END), 6) AS ci_hi, " +
        "64 AS n_replicates FROM rr, st GROUP BY n, mean"),

    "stats_permutation" -> {
      // identical md5 first-hex-digit flip, exact e6-BIGINT group sums,
      // identical double mean expressions → engine-identical |d| compares
      val flipSql = hexDigitSql("event_id::VARCHAR || '_p' || b::VARCHAR", 1) + " < 8"
      "WITH ev AS (SELECT event_id, event_type = 'click' AS ia, " +
        "floor(value * 1e6 + 0.5e0)::BIGINT AS vu FROM events " +
        "WHERE event_type IN ('click', 'purchase')), " +
        "obs AS (SELECT sum(CASE WHEN ia THEN 1 ELSE 0 END)::BIGINT AS na, " +
        "sum(CASE WHEN ia THEN vu ELSE 0 END)::BIGINT AS sa, " +
        "sum(CASE WHEN ia THEN 0 ELSE 1 END)::BIGINT AS nb, " +
        "sum(CASE WHEN ia THEN 0 ELSE vu END)::BIGINT AS sb FROM ev), " +
        "o2 AS (SELECT na, nb, sa::DOUBLE / na / 1e6 - sb::DOUBLE / nb / 1e6 AS d_obs FROM obs), " +
        "r AS (SELECT b, (ia <> (" + flipSql + ")) AS ga, vu " +
        "FROM ev, unnest(range(0, 64)) AS tt(b)), " +
        "rm AS (SELECT b, sum(CASE WHEN ga THEN vu ELSE 0 END)::DOUBLE / " +
        "sum(CASE WHEN ga THEN 1 ELSE 0 END) / 1e6 - " +
        "sum(CASE WHEN ga THEN 0 ELSE vu END)::DOUBLE / " +
        "sum(CASE WHEN ga THEN 0 ELSE 1 END) / 1e6 AS d_b FROM r GROUP BY 1), " +
        "ex AS (SELECT sum(CASE WHEN abs(d_b) >= abs(d_obs) THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_extreme FROM rm, o2) " +
        "SELECT na AS n_a, nb AS n_b, rnd(d_obs, 6) AS d_obs, n_extreme, " +
        "rnd((n_extreme + 1)::DOUBLE / 65, 6) AS p_value, " +
        "64::BIGINT AS n_permutations FROM o2, ex"
    },

    "stats_chisq" ->
      // same full grid (empty cells contribute expected), same double
      // expected expression; dof from marginal counts
      ("WITH ev AS (SELECT event_type AS t, (hour(ts) // 6)::INT AS q FROM events), " +
        "obs AS (SELECT t, q, count(*) AS o FROM ev GROUP BY 1, 2), " +
        "rm AS (SELECT t, sum(o)::BIGINT AS rt FROM obs GROUP BY 1), " +
        "cm AS (SELECT q, sum(o)::BIGINT AS ct FROM obs GROUP BY 1), " +
        "n AS (SELECT sum(o)::BIGINT AS n FROM obs), " +
        "cells AS (SELECT coalesce(o, 0) AS o, rt * ct / n::DOUBLE AS e, n " +
        "FROM rm CROSS JOIN cm LEFT JOIN obs ON rm.t = obs.t AND cm.q = obs.q, n), " +
        "dims AS (SELECT (SELECT count(*) FROM rm) AS nr, (SELECT count(*) FROM cm) AS nc) " +
        "SELECT rnd(sum((o - e) * (o - e) / e), 6) AS chi2, " +
        "(nr - 1) * (nc - 1) AS dof, max(n)::BIGINT AS n FROM cells, dims GROUP BY nr, nc"),

    "stats_ttest" ->
      // identical e6-integer moments and Welch-Satterthwaite formula
      ("WITH e6 AS (SELECT event_type, floor(value * 1e6 + 0.5)::BIGINT AS vu " +
        "FROM events WHERE event_type IN ('click', 'purchase')), " +
        "mu AS (SELECT " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS na, " +
        "sum(CASE WHEN event_type = 'click' THEN vu END)::BIGINT AS sau, " +
        "sum(CASE WHEN event_type = 'click' THEN vu::HUGEINT * vu END) AS qau, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS nb, " +
        "sum(CASE WHEN event_type = 'purchase' THEN vu END)::BIGINT AS sbu, " +
        "sum(CASE WHEN event_type = 'purchase' THEN vu::HUGEINT * vu END) AS qbu " +
        "FROM e6), " +
        "m AS (SELECT na, nb, sau::DOUBLE / 1e6 AS sa, qau::DOUBLE / 1e12 AS qa, " +
        "sbu::DOUBLE / 1e6 AS sb, qbu::DOUBLE / 1e12 AS qb FROM mu), " +
        "v AS (SELECT *, (qa - sa * sa / na) / (na - 1) AS va, " +
        "(qb - sb * sb / nb) / (nb - 1) AS vb FROM m), " +
        "se AS (SELECT *, va / na AS sea, vb / nb AS seb FROM v) " +
        "SELECT na, nb, rnd(sa / na, 6) AS mean_a, rnd(sb / nb, 6) AS mean_b, " +
        "rnd((sa / na - sb / nb) / sqrt(sea + seb), 6) AS t_welch, " +
        "rnd((sea + seb) * (sea + seb) / (sea * sea / (na - 1) + " +
        "seb * seb / (nb - 1)), 6) AS df_welch FROM se"),

    "market_basket" ->
      ("WITH basket AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "items AS (SELECT pk, count(*) AS ni FROM basket GROUP BY 1), " +
        "tot AS (SELECT count(DISTINCT ok) AS n_orders FROM basket), " +
        "pairs AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_ab FROM basket a " +
        "JOIN basket b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2), " +
        "j AS (SELECT p1, p2, n_ab, ia.ni AS na, ib.ni AS nb, " +
        "n_ab * n_orders / (ia.ni * ib.ni)::DOUBLE AS lift_raw FROM pairs " +
        "JOIN items ia ON pairs.p1 = ia.pk JOIN items ib ON pairs.p2 = ib.pk, tot) " +
        "SELECT p1, p2, n_ab, na, nb, " +
        "rnd(n_ab / (SELECT n_orders FROM tot)::DOUBLE, 6) AS support, " +
        "rnd(n_ab / na::DOUBLE, 6) AS confidence, rnd(lift_raw, 6) AS lift " +
        "FROM j ORDER BY lift_raw DESC, p1, p2 LIMIT 20"),

    "anon_ldiversity" ->
      ("WITH l1 AS (SELECT c_nationkey AS cls, count(*) AS cn, " +
        "count(DISTINCT c_mktsegment) AS l FROM customer GROUP BY 1), " +
        "l2 AS (SELECT n_regionkey AS cls, count(*) AS cn, " +
        "count(DISTINCT c_mktsegment) AS l FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1), " +
        "r1 AS (SELECT 'nation' AS qi_level, count(*) AS n_classes, min(l) AS l_min, " +
        "sum(CASE WHEN l < 3 THEN 1 ELSE 0 END)::BIGINT AS classes_lt_l, " +
        "sum(CASE WHEN l < 3 THEN cn ELSE 0 END)::BIGINT AS rows_at_risk FROM l1), " +
        "r2 AS (SELECT 'region' AS qi_level, count(*) AS n_classes, min(l) AS l_min, " +
        "sum(CASE WHEN l < 3 THEN 1 ELSE 0 END)::BIGINT AS classes_lt_l, " +
        "sum(CASE WHEN l < 3 THEN cn ELSE 0 END)::BIGINT AS rows_at_risk FROM l2) " +
        "SELECT * FROM r1 UNION ALL SELECT * FROM r2"),

    "anon_kanon" ->
      ("WITH l1 AS (SELECT c_nationkey, c_mktsegment, count(*) AS cn " +
        "FROM customer GROUP BY 1, 2), " +
        "l2 AS (SELECT n_regionkey, c_mktsegment, count(*) AS cn FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2), " +
        "r1 AS (SELECT 'nation_segment' AS qi_level, sum(cn)::BIGINT AS n_rows, " +
        "count(*) AS n_classes, min(cn) AS k_min, " +
        "sum(CASE WHEN cn < 10 THEN 1 ELSE 0 END)::BIGINT AS classes_lt_k, " +
        "sum(CASE WHEN cn < 10 THEN cn ELSE 0 END)::BIGINT AS rows_at_risk FROM l1), " +
        "r2 AS (SELECT 'region_segment' AS qi_level, sum(cn)::BIGINT AS n_rows, " +
        "count(*) AS n_classes, min(cn) AS k_min, " +
        "sum(CASE WHEN cn < 10 THEN 1 ELSE 0 END)::BIGINT AS classes_lt_k, " +
        "sum(CASE WHEN cn < 10 THEN cn ELSE 0 END)::BIGINT AS rows_at_risk FROM l2) " +
        "SELECT * FROM r1 UNION ALL SELECT * FROM r2"),

    "skyline_pareto" ->
      // same per-size reduction then descending-size sweep; min picks a
      // stored double so equality is exact across engines
      ("WITH per AS (SELECT p_size, min(p_retailprice) AS best_price, " +
        "count(*) AS n_at_size FROM part GROUP BY 1), " +
        "sw AS (SELECT *, min(best_price) OVER (ORDER BY p_size DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_gt FROM per) " +
        "SELECT p_size, best_price AS skyline_price, n_at_size FROM sw " +
        "WHERE m_gt IS NULL OR best_price < m_gt"),

    "data_constraints" ->
      ("SELECT 'fk_orders_custkey' AS constraint_name, count(*) AS n_checked, " +
        "sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations " +
        "FROM orders LEFT JOIN customer ON o_custkey = c_custkey " +
        "UNION ALL SELECT 'fk_lineitem_orderkey', count(*), " +
        "sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT " +
        "FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey " +
        "UNION ALL SELECT 'pk_orders_unique', count(*), " +
        "(count(*) - count(DISTINCT o_orderkey))::BIGINT FROM orders " +
        "UNION ALL SELECT 'range_lineitem_quantity', count(*), " +
        "sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT " +
        "FROM lineitem " +
        "UNION ALL SELECT 'domain_events_type', count(*), " +
        "sum(CASE WHEN event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error') " +
        "THEN 1 ELSE 0 END)::BIGINT FROM events " +
        "UNION ALL SELECT 'derived_documents_nchars', count(*), " +
        "sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)::BIGINT FROM documents"),

    "scan_filter_prune" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 45",

    "normalize_minmax" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "rnd((l_quantity - min(l_quantity) OVER ())/(max(l_quantity) OVER () - min(l_quantity) OVER ()), 6) AS q_norm " +
        "FROM lineitem"),

    "scalar_math" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "rnd(l_extendedprice * (1e0 - l_discount), 2) AS disc_price, " +
        "rnd(sqrt(l_quantity), 6) AS sqrt_qty, " +
        "rnd(pow(l_discount, 2e0), 6) AS disc_sq FROM lineitem"),

    "scalar_string" ->
      ("SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_type, 1, 6) AS type_pre, " +
        "string_split(p_type, ' ')[1] AS type_first, " +
        "CASE WHEN p_brand LIKE 'Brand#1%' THEN 1 ELSE 0 END AS b1 FROM part"),

    "scalar_regex" ->
      ("SELECT p_partkey, regexp_extract(p_type, '([A-Za-z]+)$', 1) AS type_last, " +
        "regexp_replace(p_type, ' ', '_', 'g') AS type_snake, " +
        "CASE WHEN regexp_matches(p_name, '[aeiou]{2}') THEN 1 ELSE 0 END AS has_vv, " +
        "len(regexp_extract_all(p_name, '[aeiou]'))::INT AS n_vowels FROM part"),

    "null_handling" ->
      ("SELECT o_orderkey, coalesce(nullif(o_orderstatus, 'O'), '(open)') AS status_c, " +
        "CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 1 ELSE 0 END AS was_open, " +
        "coalesce(nullif(o_orderpriority, '1-URGENT'), '(urgent)') AS prio_c FROM orders"),

    "join_full_outer" ->
      ("SELECT coalesce(c_custkey, o_custkey) AS custkey, " +
        "coalesce(c_name, '(none)') AS c_name, coalesce(n_1995, 0) AS n_1995, " +
        "CASE WHEN c_custkey IS NULL THEN 0 ELSE 1 END AS in_cust, " +
        "CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS in_ord FROM (" +
        "SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000) c " +
        "FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_1995 FROM orders " +
        "WHERE year(o_orderdate) = 1995 GROUP BY 1) o ON c_custkey = o_custkey"),

    "agg_cube" ->
      ("SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus, " +
        "coalesce(o_orderpriority, '(all)') AS o_orderpriority, count(*) AS n, " +
        "rnd(sum(o_totalprice), 2) AS tot, " +
        "grouping(o_orderstatus)::INT AS g1, grouping(o_orderpriority)::INT AS g2 " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"),

    "agg_collect_sorted" ->
      ("SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types, " +
        "count(*) AS n FROM events GROUP BY 1"),

    "window_lead_lag" ->
      ("SELECT user_id, event_id, " +
        "coalesce(lag(event_id, 1) OVER w, -1) AS prev_id, " +
        "coalesce(lead(event_id, 1) OVER w, -1) AS next_id, " +
        "first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_id " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),

    "scalar_date" ->
      ("SELECT strftime(m, '%Y-%m') AS mon, year(m)::INT AS y, month(m)::INT AS m_of_y, n_orders, tot FROM (" +
        "SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_orders, " +
        "rnd(sum(o_totalprice), 2) AS tot FROM orders GROUP BY 1)"),

    "scalar_json" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",

    "array_ops" ->
      ("SELECT vec_id, len(embedding)::INT AS dim, " +
        "rnd(list_sum(embedding::DOUBLE[]), 6) AS vsum, " +
        "rnd((embedding::DOUBLE[])[1], 6) AS fst FROM embeddings"),

    "array_hof" ->
      ("SELECT vec_id, " +
        "len(list_filter(v, x -> x > 0))::INT AS n_pos, " +
        "CASE WHEN len(list_filter(v, x -> x > 2e0)) > 0 THEN 1 ELSE 0 END AS any_gt2, " +
        "CASE WHEN len(list_filter(v, x -> abs(x) >= 10e0)) = 0 THEN 1 ELSE 0 END AS all_lt10, " +
        "rnd(list_sort(v)[1], 6) AS min_el, " +
        "rnd(list_sum(list_slice(list_sort(v), 1, 8)), 6) AS low8_sum " +
        "FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"),

    "join_broadcast" ->
      ("SELECT c_mktsegment, count(*) AS n, rnd(sum(o_totalprice), 2) AS tot " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"),

    "join_shuffle" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
        "rnd(sum(l_extendedprice * (1e0 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"),

    "join_semi" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",

    "join_anti" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (" +
        "SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')"),

    "join_range" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "rnd(sum(l_extendedprice * (1e0 - l_discount)), 2) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "AND l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 90 DAY GROUP BY 1"),

    "join_interval_bin" ->
      // the oracle states the SEMANTIC θ-join directly — binning is
      // physical-only and must be output-invisible
      ("WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events), " +
        "w AS (SELECT event_id AS w_id, t AS ws, t + 7200000000 AS we FROM ev WHERE user_id < 20) " +
        "SELECT w_id, count(*) AS n_in, rnd(sum(p.value), 6) AS sum_value " +
        "FROM w JOIN ev p ON p.t >= w.ws AND p.t < w.we GROUP BY 1"),

    "join_asof" ->
      ("SELECT event_id, user_id, coalesce(last_click_us, -1) AS last_click_us FROM (" +
        "SELECT event_id, user_id, event_type, " +
        "max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us " +
        "FROM events) WHERE event_type = 'error'"),

    "similarity_editdist" ->
      ("SELECT a.p_partkey AS pk1, b.p_partkey AS pk2, " +
        "levenshtein(a.p_name, b.p_name)::INT AS dist " +
        "FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey " +
        "WHERE a.p_partkey < 200 AND b.p_partkey < 200 " +
        "AND levenshtein(a.p_name, b.p_name) <= 5"),

    "agg_corr" ->
      // identical raw-moment assembly as the Spark side — neither
      // engine's internal co-moment merge order is load-bearing
      ("WITH m AS (SELECT l_returnflag, count(*) AS n, " +
        "avg(l_quantity) AS mx, avg(l_extendedprice) AS my, " +
        "avg(l_quantity * l_extendedprice) AS mxy, " +
        "avg(l_quantity * l_quantity) AS mxx, " +
        "avg(l_extendedprice * l_extendedprice) AS myy " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, n, " +
        "rnd((mxy - mx * my) / sqrt((mxx - mx * mx) * (myy - my * my)), 6) AS corr_qp, " +
        "rnd((mxy - mx * my) * (n / (n - 1e0)), 6) AS covar_qp FROM m"),

    "join_asof_tol" ->
      ("SELECT event_id, user_id, CASE WHEN last_click_us IS NOT NULL " +
        s"AND ts_us - last_click_us <= $AsofTolUs THEN last_click_us ELSE -1 END " +
        "AS click_us_within_tol FROM (" +
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, " +
        "max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us " +
        "FROM events) WHERE event_type = 'error'"),

    "join_asof_fwd" ->
      ("SELECT event_id, user_id, coalesce(next_click_us, -1) AS next_click_us FROM (" +
        "SELECT event_id, user_id, event_type, " +
        "min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_us " +
        "FROM events) WHERE event_type = 'error'"),

    "join_asof_nearest" ->
      // same two window frames, same tie-break: backward wins on equal
      // distance (integer microsecond arithmetic — exact in both engines)
      ("SELECT event_id, user_id, CASE " +
        "WHEN prev_us IS NULL AND next_us IS NULL THEN -1 " +
        "WHEN next_us IS NULL THEN prev_us " +
        "WHEN prev_us IS NULL THEN next_us " +
        "WHEN t - prev_us <= next_us - t THEN prev_us " +
        "ELSE next_us END AS nearest_click_us FROM (" +
        "SELECT event_id, user_id, event_type, epoch_us(ts) AS t, " +
        "max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us, " +
        "min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us " +
        "FROM events) WHERE event_type = 'error'"),

    "sketch_countmin" ->
      // identical sketch construction: the same md5-derived hash family,
      // the same depth/width, min over rows; integer outputs — exact
      ("WITH h AS (SELECT p_brand, j, " +
        "((instr('0123456789abcdef', substr(md5(j::VARCHAR || ':' || p_brand), 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substr(md5(j::VARCHAR || ':' || p_brand), 2, 1)) - 1)) % 64 AS cell " +
        "FROM part, generate_series(1, 4) AS t(j)), " +
        "sk AS (SELECT j, cell, count(*) AS cnt FROM h GROUP BY 1, 2), " +
        "tr AS (SELECT p_brand, count(*) AS true_cnt FROM part GROUP BY 1), " +
        "pr AS (SELECT DISTINCT p_brand, j, cell FROM h) " +
        "SELECT tr.p_brand, min(sk.cnt)::BIGINT AS est_cnt, tr.true_cnt " +
        "FROM tr JOIN pr USING (p_brand) JOIN sk USING (j, cell) GROUP BY 1, 3"),

    "agg_pivot" ->
      ("SELECT user_id, " +
        "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click, " +
        "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase, " +
        "sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup, " +
        "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view " +
        "FROM events GROUP BY 1"),

    "agg_groupby" ->
      ("SELECT l_returnflag, l_linestatus, rnd(sum(l_quantity), 2) AS sum_qty, " +
        "rnd(sum(l_extendedprice), 2) AS sum_base, " +
        "rnd(sum(l_extendedprice * (1e0 - l_discount)), 2) AS sum_disc, " +
        "rnd(avg(l_quantity), 6) AS avg_qty, rnd(avg(l_extendedprice), 6) AS avg_price, " +
        "count(*) AS n FROM lineitem GROUP BY 1, 2"),

    "agg_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS u, count(*) AS n FROM events GROUP BY 1",

    "agg_rollup" ->
      ("SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus, " +
        "coalesce(o_orderpriority, '(all)') AS o_orderpriority, count(*) AS n, " +
        "grouping(o_orderstatus)::INT AS g1, grouping(o_orderpriority)::INT AS g2 " +
        "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"),

    "agg_histogram" ->
      ("SELECT floor(o_totalprice / 50000e0)::INT AS bucket, count(*) AS n, " +
        "rnd(sum(o_totalprice), 2) AS tot FROM orders GROUP BY 1"),

    "agg_topk_freq" ->
      ("WITH c AS (SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2), " +
        "rk AS (SELECT event_type, user_id, n, row_number() OVER (" +
        "PARTITION BY event_type ORDER BY n DESC, user_id) AS rn FROM c) " +
        "SELECT event_type, user_id, n, rn::INT AS rn FROM rk WHERE rn <= 3"),

    // salting is output-invisible: the oracle is the PLAIN join
    "join_skew_salted" ->
      ("SELECT o_orderkey, o_custkey, rnd(o_totalprice, 2) AS o_totalprice, c_name " +
        "FROM orders JOIN customer ON o_custkey = c_custkey"),

    "agg_quantiles" ->
      ("SELECT o_orderpriority, rnd(quantile_cont(o_totalprice, 0.5e0), 2) AS med, " +
        "rnd(quantile_cont(o_totalprice, 0.9e0), 2) AS p90, count(*) AS n " +
        "FROM orders GROUP BY 1"),

    "agg_moments" ->
      // identical raw-moment averages and assembly; pow(,1.5)/(,2) both
      // binary-exact on these operands' scales after rnd(6)
      ("WITH m AS (SELECT l_returnflag, avg(l_quantity) AS m1, " +
        "avg(l_quantity * l_quantity) AS m2, " +
        "avg(l_quantity * l_quantity * l_quantity) AS m3, " +
        "avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4, " +
        "count(*) AS n FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, n, " +
        "rnd((m3 - 3e0 * m1 * m2 + 2e0 * m1 * m1 * m1) / pow(m2 - m1 * m1, 1.5e0), 6) AS skewness, " +
        "rnd((m4 - 4e0 * m1 * m3 + 6e0 * m1 * m1 * m2 - 3e0 * m1 * m1 * m1 * m1) / " +
        "pow(m2 - m1 * m1, 2e0) - 3e0, 6) AS kurtosis FROM m"),

    "agg_stats" ->
      ("SELECT l_returnflag, rnd(stddev_samp(l_quantity), 6) AS sd_qty, " +
        "rnd(var_samp(l_quantity), 6) AS var_qty, " +
        "rnd(covar_samp(l_quantity, l_discount), 6) AS cov_qd, " +
        "rnd(corr(l_quantity, l_discount), 6) AS corr_qd, " +
        "count(*) AS n FROM lineitem GROUP BY 1"),

    "window_ntile" ->
      ("SELECT o_orderkey, o_orderstatus, ntile(4) OVER w::INT AS quartile, " +
        "rnd(percent_rank() OVER w, 6) AS pr, rnd(cume_dist() OVER w, 6) AS cd " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)"),

    "scalar_hash" ->
      "SELECT p_partkey, md5(p_name) AS h_md5, sha256(p_name) AS h_sha256 FROM part",

    "data_profile" ->
      ("SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders, " +
        "count(DISTINCT l_returnflag) AS n_flags, " +
        "sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_flags, " +
        "rnd(min(l_quantity), 6) AS min_qty, rnd(max(l_quantity), 6) AS max_qty, " +
        "rnd(avg(l_quantity), 6) AS avg_qty FROM lineitem"),

    "window_analytic" ->
      ("SELECT user_id, event_id, rnd(sum(value) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS run_sum FROM events"),

    "window_rank" ->
      ("SELECT o_custkey, o_orderkey, rnd(o_totalprice, 2) AS price, rn::INT AS rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
        "WHERE rn <= 3"),

    "window_range_frame" ->
      ("SELECT user_id, event_id, rnd(sum(value) OVER (" +
        "PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000 " +
        "RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW), 6) AS hour_sum FROM events"),

    "agg_grouping_sets" ->
      ("SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus, " +
        "coalesce(o_orderpriority, '(all)') AS o_orderpriority, count(*) AS n, " +
        "grouping(o_orderstatus)::INT AS g1, grouping(o_orderpriority)::INT AS g2 " +
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"),

    "sort_limit" ->
      ("SELECT o_orderkey, rnd(o_totalprice, 2) AS price FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),

    "sql_q3" ->
      ("SELECT l_orderkey, rnd(sum(l_extendedprice * (1e0 - l_discount)), 2) AS revenue, " +
        "count(*) AS n FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15' " +
        "AND l_shipdate > TIMESTAMP '1995-03-15' " +
        "GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10"),

    "set_ops" ->
      ("SELECT 'both' AS tag, c_custkey FROM (SELECT c_custkey FROM customer " +
        "INTERSECT SELECT o_custkey FROM orders) " +
        "UNION ALL SELECT 'cust_only' AS tag, c_custkey FROM (" +
        "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)"),

    // Bloom pruning is output-invisible → oracle is the plain join
    "join_bloom_prune" ->
      ("SELECT o_orderpriority, count(*) AS n, rnd(sum(l_extendedprice), 2) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_totalprice > 470000e0 GROUP BY 1"),

    "sql_exists" ->
      ("SELECT c_custkey, c_mktsegment, " +
        "(SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 400000e0) AS n_big " +
        "FROM customer c " +
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 400000e0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_orderstatus = 'F')"),

    "sql_lateral" ->
      ("SELECT c.c_custkey, o.o_orderkey, " +
        "rnd(o.o_totalprice, 2) AS price " +
        "FROM customer c, " +
        "LATERAL (SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_custkey = c.c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o " +
        "WHERE c.c_custkey < 100"),

    "sql_recursive" ->
      ("WITH RECURSIVE ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "FROM events), " +
        "walk AS (SELECT user_id, rn, t, 1 AS len FROM ev WHERE rn = 1 " +
        "UNION ALL SELECT nxt.user_id, nxt.rn, nxt.t, w.len + 1 FROM walk w " +
        "JOIN ev nxt ON nxt.user_id = w.user_id AND nxt.rn = w.rn + 1 " +
        "WHERE nxt.t - w.t <= 1800000000 AND w.len < 64) " +
        "SELECT user_id, max(len)::BIGINT AS first_session_len " +
        "FROM walk GROUP BY user_id"),

    "sketch_kmv" ->
      // same md5-hex 60-bit hash, lexicographic k-smallest selection,
      // hex→BIGINT only on the selected boundary hash
      ("WITH dk AS (SELECT DISTINCT l_partkey FROM lineitem), " +
        "hh AS (SELECT substr(md5(l_partkey::VARCHAR), 1, 15) AS hx FROM dk), " +
        "tk AS (SELECT hx FROM hh ORDER BY hx LIMIT 64), " +
        "ag AS (SELECT max(hx) AS hk, count(*) AS kk FROM tk), " +
        "tr AS (SELECT count(*) AS true_distinct FROM dk) " +
        "SELECT 64::BIGINT AS k, true_distinct, " +
        "rnd(CASE WHEN kk < 64 THEN kk::DOUBLE " +
        "ELSE 63e0 * 1152921504606846976e0 / ('0x' || hk)::BIGINT END, 4) AS est_distinct " +
        "FROM ag, tr"),

    "sql_q5" ->
      // the same exact-e4-integer revenue sum — floor(x*100+0.5) snaps the
      // 2-decimal generator values to identical BIGINTs in both engines
      ("SELECT n_name, rnd(sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "(100 - floor(l_discount * 100 + 0.5e0)::BIGINT)) / 1e4, 2) AS revenue, " +
        "count(*) AS n " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY 1"),

    "sql_q17" ->
      // decorrelated form stated directly: per-part avg CTE + equi-join ≡
      // the correlated subquery (avg is exact: integer-valued quantities)
      ("WITH pa AS (SELECT l_partkey AS pa_partkey, avg(l_quantity) AS avg_qty " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT p_brand, rnd(sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT) " +
        "/ 100e0 / 7.0e0, 2) AS avg_yearly, count(*) AS n " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN pa ON l_partkey = pa_partkey " +
        "WHERE p_brand IN ('Brand#11', 'Brand#12', 'Brand#13') " +
        "AND l_quantity < 0.2e0 * avg_qty GROUP BY 1"),

    "agg_regression" ->
      // identical raw-moment assembly as the Spark side (agg_corr
      // discipline) — NOT regr_slope/regr_intercept, whose co-moment
      // merge order is engine-internal
      ("WITH m AS (SELECT l_returnflag, count(*) AS n, " +
        "avg(l_quantity) AS mx, avg(l_extendedprice) AS my, " +
        "avg(l_quantity * l_extendedprice) AS mxy, " +
        "avg(l_quantity * l_quantity) AS mxx, " +
        "avg(l_extendedprice * l_extendedprice) AS myy " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, n, " +
        "rnd((mxy - mx * my) / (mxx - mx * mx), 6) AS slope, " +
        "rnd(my - (mxy - mx * my) / (mxx - mx * mx) * mx, 6) AS intercept, " +
        "rnd(((mxy - mx * my) * (mxy - mx * my)) / " +
        "((mxx - mx * mx) * (myy - my * my)), 6) AS r2 FROM m"),

    "join_spatial_grid" ->
      // same grid form (identical arithmetic); the naive O(n²) radius
      // predicate is pinned ≡ by AnalyticsOpsSpec on sf0.001
      ("WITH pts AS (SELECT c_custkey AS id, c_acctbal AS x, " +
        "(c_custkey % 89) * 50.0e0 AS y FROM customer), " +
        "cells AS (SELECT *, floor(x / 100e0)::BIGINT AS cx, " +
        "floor(y / 100e0)::BIGINT AS cy FROM pts), " +
        "probe AS (SELECT id AS a_id, x AS ax, y AS ay, cx + dx.g AS gx, cy + dy.g AS gy " +
        "FROM cells, (SELECT unnest([-1, 0, 1]) AS g) dx, " +
        "(SELECT unnest([-1, 0, 1]) AS g) dy), " +
        "j AS (SELECT a_id, b.id AS b_id, " +
        "sqrt((ax - b.x) * (ax - b.x) + (ay - b.y) * (ay - b.y)) AS dist " +
        "FROM probe JOIN cells b ON probe.gx = b.cx AND probe.gy = b.cy " +
        "WHERE a_id < b.id) " +
        "SELECT a_id, b_id, rnd(dist, 6) AS dist FROM j WHERE dist <= 100e0"),

    "sql_q4" ->
      ("SELECT o_orderpriority, count(*) AS order_count FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1995-01-01' " +
        "AND o_orderdate < TIMESTAMP '1995-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > TIMESTAMP '1995-01-01' AND l_shipdate > o_orderdate) " +
        "GROUP BY 1"),

    "sql_q19" ->
      ("SELECT rnd(sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "(100 - floor(l_discount * 100 + 0.5e0)::BIGINT)) / 1e4, 2) AS revenue, " +
        "count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 " +
        "AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 " +
        "AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 20 AND 30)"),

    "agg_gini" ->
      // identical (p, key) rank order and exact e2-integer sums;
      // HUGEINT sums cast back before the one double expression
      ("WITH r AS (SELECT floor(o_totalprice * 100 + 0.5e0)::BIGINT AS p, " +
        "row_number() OVER (ORDER BY floor(o_totalprice * 100 + 0.5e0)::BIGINT, o_orderkey) AS i " +
        "FROM orders), " +
        "m AS (SELECT count(*) AS n, sum(p)::BIGINT AS sp, sum(i * p)::BIGINT AS sip FROM r) " +
        "SELECT n, rnd(2e0 * sip::DOUBLE / (n::DOUBLE * sp::DOUBLE) - " +
        "(n + 1)::DOUBLE / n::DOUBLE, 6) AS gini FROM m"),

    "data_skew_report" ->
      // per-key grouped counts re-aggregated; HUGEINT sums cast back
      ("WITH o AS (SELECT 'l_orderkey' AS join_key, sum(c)::BIGINT AS n_rows, " +
        "count(*) AS n_keys, max(c)::BIGINT AS max_key_rows " +
        "FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)), " +
        "p AS (SELECT 'l_partkey', sum(c)::BIGINT, count(*), max(c)::BIGINT " +
        "FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)), " +
        "su AS (SELECT 'l_suppkey', sum(c)::BIGINT, count(*), max(c)::BIGINT " +
        "FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey)), " +
        "u AS (SELECT * FROM o UNION ALL SELECT * FROM p UNION ALL SELECT * FROM su) " +
        "SELECT join_key, n_rows, n_keys, max_key_rows, " +
        "rnd(max_key_rows * n_keys / n_rows::DOUBLE, 6) AS skew_factor FROM u"),

    "sql_q7" ->
      // exact e4-integer revenue (sqlQ5 discipline); year() is INT32
      ("SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, " +
        "year(l_shipdate)::INT AS l_year, " +
        "rnd(sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "(100 - floor(l_discount * 100 + 0.5e0)::BIGINT)) / 1e4, 2) AS revenue, " +
        "count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "WHERE sn.n_name IN ('NATION_20', 'NATION_11') " +
        "AND cn.n_name IN ('NATION_20', 'NATION_11') " +
        "AND sn.n_name <> cn.n_name GROUP BY 1, 2, 3"),

    "sql_q10" ->
      // (rev_e4 DESC, custkey) total order so the LIMIT is deterministic;
      // HUGEINT revenue sum cast back before the ORDER BY
      ("WITH pc AS (SELECT o_custkey, " +
        "sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "(100 - floor(l_discount * 100 + 0.5e0)::BIGINT))::BIGINT AS rev_e4, " +
        "count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_returnflag = 'R' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-07-01' GROUP BY 1) " +
        "SELECT c_custkey AS custkey, c_name AS name, n_name AS nation, " +
        "rnd(rev_e4 / 1e4, 2) AS revenue, n " +
        "FROM pc JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "ORDER BY rev_e4 DESC, c_custkey LIMIT 20"),

    "sql_q12" ->
      // counts only; date_diff on midnight-aligned timestamps is exact
      ("SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN '0-30' " +
        "WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN '31-90' " +
        "ELSE '90+' END AS delay_band, " +
        "sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count, " +
        "sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"),

    "sql_q1" ->
      // every money column snapped per row to e2/e4/e6 BIGINTs; the three
      // averages are ONE float division each over exact integer sums
      ("WITH b AS (SELECT l_returnflag, l_linestatus, l_quantity::BIGINT AS q, " +
        "floor(l_extendedprice * 100 + 0.5e0)::BIGINT AS pe2, " +
        "floor(l_discount * 100 + 0.5e0)::BIGINT AS de2, " +
        "floor(l_tax * 100 + 0.5e0)::BIGINT AS te2 " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-01') " +
        "SELECT l_returnflag, l_linestatus, sum(q)::BIGINT AS sum_qty, " +
        "rnd(sum(pe2)::BIGINT / 1e2, 2) AS sum_base, " +
        "rnd(sum(pe2 * (100 - de2))::BIGINT / 1e4, 2) AS sum_disc, " +
        "rnd(sum(pe2 * (100 - de2) * (100 + te2))::BIGINT / 1e6, 2) AS sum_charge, " +
        "rnd(sum(q)::BIGINT / count(*), 6) AS avg_qty, " +
        "rnd(sum(pe2)::BIGINT / (100e0 * count(*)), 6) AS avg_price, " +
        "rnd(sum(de2)::BIGINT / (100e0 * count(*)), 6) AS avg_disc, " +
        "count(*) AS n FROM b GROUP BY 1, 2"),

    "sql_q2" ->
      // the same (price, suppkey) total order as the Spark min-struct —
      // row_number is its window spelling
      ("WITH offers AS (SELECT l_partkey, l_suppkey, " +
        "floor(l_extendedprice * 100 + 0.5e0)::BIGINT AS pe2 " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_size = 15), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY l_partkey " +
        "ORDER BY pe2, l_suppkey) AS rn FROM offers) " +
        "SELECT l_partkey AS partkey, p_name AS part_name, s_name AS supp_name, " +
        "n_name AS nation, rnd(pe2 / 1e2, 2) AS min_price " +
        "FROM rk JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey WHERE rn = 1"),

    "sql_q6" ->
      // discount band tested on the SNAPPED integer — no float boundary
      ("SELECT rnd(sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "floor(l_discount * 100 + 0.5e0)::BIGINT)::BIGINT / 1e4, 2) AS revenue, " +
        "count(*) AS n FROM lineitem " +
        "WHERE year(l_shipdate) = 1996 AND l_quantity < 24 " +
        "AND floor(l_discount * 100 + 0.5e0)::BIGINT BETWEEN 5 AND 7"),

    "sql_q8" ->
      ("WITH f AS (SELECT year(o_orderdate) AS o_year, sn.n_name AS sname, " +
        "floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "(100 - floor(l_discount * 100 + 0.5e0)::BIGINT) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "JOIN region ON cn.n_regionkey = r_regionkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "WHERE r_name = 'ASIA') " +
        "SELECT o_year, rnd(sum(CASE WHEN sname = 'NATION_20' THEN rev ELSE 0 END)::BIGINT " +
        "/ sum(rev)::BIGINT, 6) AS mkt_share, count(*) AS n FROM f GROUP BY 1"),

    "sql_q9" ->
      // profit = revenue − retailprice·qty, signed e4 BIGINTs throughout
      ("SELECT n_name AS nation, year(o_orderdate) AS o_year, " +
        "rnd(sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "(100 - floor(l_discount * 100 + 0.5e0)::BIGINT) - " +
        "floor(p_retailprice * 100 + 0.5e0)::BIGINT * l_quantity::BIGINT * 100)::BIGINT " +
        "/ 1e4, 2) AS profit, count(*) AS n " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE p_type = 'ECONOMY' GROUP BY 1, 2"),

    "sql_q11" ->
      // all-BIGINT threshold: v·n·2 > 3·t ⟺ v > 1.5·mean, no float
      ("WITH pv AS (SELECT l_partkey, " +
        "sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT)::BIGINT AS v " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE n_name = 'NATION_7' GROUP BY 1), " +
        "g AS (SELECT sum(v)::BIGINT AS t, count(*) AS np FROM pv) " +
        "SELECT l_partkey AS partkey, rnd(v / 1e2, 2) AS value " +
        "FROM pv CROSS JOIN g WHERE v * np * 2 > 3 * t"),

    "sql_q13" ->
      // priority filter INSIDE the left join condition — WHERE would
      // silently make it inner and drop the 0-order customers
      ("WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
        "AND o_orderpriority <> '1-URGENT' GROUP BY 1) " +
        "SELECT c_count, count(*) AS custdist FROM co GROUP BY 1"),

    "sql_q14" ->
      ("WITH f AS (SELECT p_type, floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "(100 - floor(l_discount * 100 + 0.5e0)::BIGINT) AS rev " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE year(l_shipdate) = 1997) " +
        "SELECT rnd(100e0 * sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)::BIGINT " +
        "/ sum(rev)::BIGINT, 6) AS promo_share, count(*) AS n FROM f"),

    "sql_q15" ->
      // exact e4 BIGINT equality — every tied-for-max supplier surfaces
      ("WITH sr AS (SELECT l_suppkey, " +
        "sum(floor(l_extendedprice * 100 + 0.5e0)::BIGINT * " +
        "(100 - floor(l_discount * 100 + 0.5e0)::BIGINT))::BIGINT AS rev_e4, " +
        "count(*) AS n FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1), " +
        "mx AS (SELECT max(rev_e4) AS m FROM sr) " +
        "SELECT s_suppkey AS suppkey, s_name AS name, " +
        "rnd(rev_e4 / 1e4, 2) AS total_revenue, n " +
        "FROM sr CROSS JOIN mx JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE rev_e4 = m"),

    "sql_q16" ->
      ("SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_size IN (5, 15, 25, 35) AND p_brand <> 'Brand#5' AND p_type <> 'PROMO' " +
        "AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0) " +
        "GROUP BY 1, 2, 3"),

    "sql_q18" ->
      // quantities snapped to BIGINT per row — the > 250 boundary is exact
      ("WITH big AS (SELECT l_orderkey, sum(l_quantity::BIGINT)::BIGINT AS sum_qty " +
        "FROM lineitem GROUP BY 1 HAVING sum(l_quantity::BIGINT) > 250) " +
        "SELECT c_custkey AS custkey, c_name AS name, o_orderkey AS orderkey, " +
        "o_orderdate AS orderdate, " +
        "rnd(floor(o_totalprice * 100 + 0.5e0)::BIGINT / 1e2, 2) AS totalprice, sum_qty " +
        "FROM big JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey"),

    "sql_q20" ->
      // fair-share threshold in exact BIGINTs: sq·ns > 3·tq ⟺ share > 3/ns
      ("WITH ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity::BIGINT)::BIGINT AS sq " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_name LIKE '%red%' GROUP BY 1, 2), " +
        "pt AS (SELECT l_partkey, sum(sq)::BIGINT AS tq, count(*) AS ns FROM ps GROUP BY 1) " +
        "SELECT DISTINCT s_suppkey AS suppkey, s_name AS name, n_name AS nation " +
        "FROM ps JOIN pt USING (l_partkey) " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey WHERE sq * ns > 3 * tq"),

    "sql_q21" ->
      // EXISTS ∧ NOT-EXISTS decorrelated into per-order counts the
      // filter reads — ns ≥ 2 (another supplier exists), nl = 1 (no
      // OTHER late supplier), late = 1 (this one was it)
      ("WITH ls AS (SELECT l_orderkey AS ok, l_suppkey AS sk, " +
        "max(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60 THEN 1 ELSE 0 END) AS late " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2), " +
        "ag AS (SELECT ok, count(*) AS ns, sum(late)::BIGINT AS nl FROM ls GROUP BY 1) " +
        "SELECT n_name AS nation, count(*) AS numwait " +
        "FROM ls JOIN ag USING (ok) " +
        "JOIN supplier ON sk = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE ns >= 2 AND nl = 1 AND late = 1 GROUP BY 1"),

    "agg_benford" ->
      // identical e2-integer-string first digit; log10 over exact
      // integers (the ln-in-logloss precedent), rounded at the edge
      ("WITH b AS (SELECT (floor(o_totalprice * 100 + 0.5e0)::BIGINT::VARCHAR)[1:1]::INT " +
        "AS digit FROM orders), " +
        "g AS (SELECT digit, count(*) AS n FROM b GROUP BY 1), " +
        "t AS (SELECT sum(n)::BIGINT AS nt FROM g) " +
        "SELECT digit, n, rnd(n / nt::DOUBLE, 6) AS obs_share, " +
        "rnd(log10(1e0 + 1e0 / digit), 6) AS exp_share FROM g, t"),

    "agg_trimmed_mean" ->
      // identical rank-interval overlap arithmetic over the same
      // distinct-price cumulative frame; HUGEINT sums cast back
      ("WITH h AS (SELECT floor(o_totalprice * 100 + 0.5e0)::BIGINT AS p, " +
        "count(*) AS c FROM orders GROUP BY 1), " +
        "cum AS (SELECT p, c, sum(c) OVER (ORDER BY p " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cc FROM h), " +
        "tot AS (SELECT sum(c)::BIGINT AS n, (sum(c)::BIGINT // 10) AS t FROM h), " +
        "ov AS (SELECT p, greatest(0, least(cc, n - t) - greatest(cc - c, t)) AS cnt_in " +
        "FROM cum CROSS JOIN tot) " +
        "SELECT max(n)::BIGINT AS n, max(t)::BIGINT AS trimmed_each_side, " +
        "rnd(sum(p * cnt_in)::BIGINT / sum(cnt_in)::BIGINT / 1e2, 6) AS trimmed_mean " +
        "FROM ov CROSS JOIN tot"),

    "agg_weighted_median" ->
      // integer cumulative weights; the same (q, orderkey, linenumber)
      // total order; lower-median rule 2*cumw >= totw
      ("WITH b AS (SELECT l_returnflag, l_orderkey, l_linenumber, " +
        "l_quantity::BIGINT AS q, floor(l_extendedprice * 100 + 0.5e0)::BIGINT AS we2 " +
        "FROM lineitem), " +
        "c AS (SELECT *, sum(we2) OVER (PARTITION BY l_returnflag " +
        "ORDER BY q, l_orderkey, l_linenumber " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumw, " +
        "sum(we2) OVER (PARTITION BY l_returnflag)::BIGINT AS totw FROM b) " +
        "SELECT l_returnflag, min(q) AS wmedian_qty, " +
        "rnd(max(totw) / 1e2, 2) AS total_weight " +
        "FROM c WHERE cumw * 2 >= totw GROUP BY 1"),

    "join_null_aware_anti" ->
      // DuckDB's NOT IN is natively null-aware — the same nullif keeps
      // the column nullable without a NULL in the data
      ("SELECT c_custkey AS custkey, c_name AS name FROM customer " +
        "WHERE c_custkey NOT IN " +
        "(SELECT nullif(o_custkey, -1) FROM orders WHERE o_orderstatus = 'F')"),

    "sql_q22" ->
      // integer avg comparison: a_e2·c > s_e2 ⟺ acctbal > avg, immune to
      // float-sum order; anti-join for "no recent orders"
      ("WITH c2 AS (SELECT c_custkey, c_nationkey, " +
        "floor(c_acctbal * 100 + 0.5e0)::BIGINT AS a_e2 FROM customer), " +
        "a AS (SELECT sum(a_e2)::BIGINT AS se2, count(*) AS c FROM c2 WHERE a_e2 > 0), " +
        "act AS (SELECT DISTINCT o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '2000-01-01') " +
        "SELECT c_nationkey AS cntry, count(*) AS numcust, " +
        "rnd(sum(a_e2)::BIGINT / 1e2, 2) AS totacctbal " +
        "FROM c2 CROSS JOIN a " +
        "WHERE a_e2 * c > se2 " +
        "AND c_custkey NOT IN (SELECT o_custkey FROM act) GROUP BY 1"),

    "sql_division" ->
      ("WITH tot AS (SELECT count(DISTINCT o_orderpriority) AS np FROM orders), " +
        "g AS (SELECT o_custkey, count(DISTINCT o_orderpriority) AS k, " +
        "count(*) AS n_orders FROM orders GROUP BY 1) " +
        "SELECT o_custkey AS custkey, n_orders FROM g, tot WHERE k = np"),

    "reshape_unpivot" ->
      ("SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value " +
        "FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice " +
        "FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount " +
        "FROM lineitem"),

    "agg_argmax" ->
      ("WITH rk AS (SELECT event_type, event_id, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id DESC) AS rmax, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rmin " +
        "FROM events) " +
        "SELECT event_type, max(CASE WHEN rmax = 1 THEN event_id END) AS max_event, " +
        "max(CASE WHEN rmin = 1 THEN event_id END) AS min_event, " +
        "rnd(max(value), 6) AS max_v, rnd(min(value), 6) AS min_v FROM rk GROUP BY 1"),

    "agg_mode" ->
      // same total (cnt DESC, value ASC) tie-break as the Spark window —
      // engine-native mode() is tie-arbitrary in both engines
      ("WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt " +
        "FROM orders GROUP BY 1, 2), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus " +
        "ORDER BY cnt DESC, o_orderpriority) AS rn FROM c) " +
        "SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_cnt " +
        "FROM rk WHERE rn = 1"),

    "window_cume_dist" ->
      ("SELECT event_id, event_type, " +
        "rnd(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 6) AS pct_rank, " +
        "rnd(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 6) AS cume " +
        "FROM events"),

    "agg_string_agg" ->
      ("SELECT o_orderstatus, " +
        "string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities, " +
        "count(DISTINCT o_orderpriority) AS n_prio FROM orders GROUP BY 1"),

    "outlier_iqr" ->
      // same discrete rank-⌈q·n⌉ quantiles (actual data values, no
      // interpolation arithmetic) and the same three-op fence formula —
      // both engines compare against bit-identical doubles
      ("WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS v FROM lineitem), " +
        "r AS (SELECT flag, v, row_number() OVER (PARTITION BY flag ORDER BY v) AS rn, " +
        "count(*) OVER (PARTITION BY flag) AS n FROM li), " +
        "q AS (SELECT flag, max(CASE WHEN rn = ceil(n * 0.25e0) THEN v END) AS q1, " +
        "max(CASE WHEN rn = ceil(n * 0.75e0) THEN v END) AS q3 FROM r GROUP BY 1) " +
        "SELECT li.flag AS l_returnflag, rnd(max(q1), 6) AS q1, rnd(max(q3), 6) AS q3, " +
        "rnd(max(q1 - (q3 - q1) * 1.5e0), 6) AS lo, " +
        "rnd(max(q3 + (q3 - q1) * 1.5e0), 6) AS hi, " +
        "count(CASE WHEN v < q1 - (q3 - q1) * 1.5e0 " +
        "OR v > q3 + (q3 - q1) * 1.5e0 THEN 1 END) AS n_out " +
        "FROM li JOIN q ON li.flag = q.flag GROUP BY 1"),
  )
}
