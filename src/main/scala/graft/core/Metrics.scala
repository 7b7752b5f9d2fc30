package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.rel.Queries.rnd

/** The reference's user-visible report surface (SURVEY.md §2.6 rows 19-20
  * [LINEAGE]): accuracy + confusion matrix, plus AUC — binary in the
  * papers, served here as one-vs-rest over the fuzzy score table — and a
  * per-class precision/recall/F1 report.
  */
object Metrics {

  /** (label, predicted, n) from a predictions frame joined to truth. */
  def confusionMatrix(predictions: DataFrame, truth: DataFrame): DataFrame =
    predictions.join(truth, predictions("q_id") === truth("vec_id"))
      .groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n"))

  /** Single-row accuracy, rounded 6dp (SURVEY §7.4 rule #2). */
  def accuracy(predictions: DataFrame, truth: DataFrame): DataFrame =
    predictions.join(truth, predictions("q_id") === truth("vec_id"))
      .agg(round(avg(when(col("predicted") === col("label"), 1.0).otherwise(0.0)), 6)
        .as("accuracy"))

  /** Binary (one-vs-rest) ROC AUC via the rank statistic:
    * AUC = (Σ avg-ranks of positives − P(P+1)/2) / (P·N), average ranks
    * over score ties — cross-engine deterministic because the underlying
    * row_number order ends in the unique q_id and ties then AVERAGE to
    * the same value regardless of within-tie order. `scores` = (q_id, u)
    * for the positive class; `truth` = (vec_id, label); `posLabel`
    * defines the positive.
    *
    * The global-rank window is a single partition by construction —
    * metrics rank the (small) evaluation set, not the corpus; an
    * at-scale AUC would bucket scores into a fixed histogram first.
    */
  def aucBinary(scores: DataFrame, truth: DataFrame, posLabel: Int): DataFrame = {
    val s = scores.join(truth, scores("q_id") === truth("vec_id"))
      .select(col("q_id"), col("u"),
        when(col("label") === posLabel, 1.0).otherwise(0.0).as("pos"))
    val byScore = Window.orderBy(col("u"), col("q_id"))
    val ties = Window.partitionBy(col("u"))
    val pCnt = sum(col("pos"))
    val nCnt = count(lit(1)) - sum(col("pos"))
    s.withColumn("rn", row_number().over(byScore))
      .withColumn("ar", avg(col("rn")).over(ties))
      // AUC is UNDEFINED when the eval slice is single-class — emit NULL
      // deliberately (the oracle's div-by-zero NULL has the same shape)
      // instead of relying on the accidental 0-divisor NULL.
      .agg(when(pCnt === 0 || nCnt === 0, lit(null).cast("double"))
        .otherwise(rnd(
          (sum(when(col("pos") === 1.0, col("ar"))) - pCnt * (pCnt + 1) / 2.0) /
            (pCnt * nCnt), 6)).as("auc"))
  }

  /** metrics_pr_auc — average precision (area under the PR curve) over
    * a FIXED 16-bin score grid: every score in a bin is tied at the
    * bin's threshold, so the whole metric is exact integer per-bin
    * counts (the `aucBinaryBucketed` discipline — no global sort of
    * the eval set, windows bounded by the BIN count). Each bin's
    * contribution pos_b·P_b uses precision AT the bin's descending
    * cumulative (P_b = ctp_b/ccnt_b); the ≤ bins double terms fold in
    * DESCENDING bin order (sort_array/aggregate ≡ the oracle's
    * list_reduce(ORDER BY b DESC) — the `stats_kruskal` bitwise
    * pattern). NULL when the slice has no positives, the `aucBinary`
    * convention. ROC-AUC rewards ranking everywhere; PR-AUC is the
    * metric that moves when the POSITIVE class is rare — the curation
    * read-out for imbalanced quality labels.
    */
  def prAucBinned(scores: DataFrame, truth: DataFrame, posLabel: Int,
      bins: Int = 16): DataFrame = {
    val s = scores.join(truth, scores("q_id") === truth("vec_id"))
      .select(col("u"),
        when(col("label") === posLabel, 1L).otherwise(0L).as("pos"))
    val hist = s
      .select(least(floor(col("u") * bins), lit(bins - 1).cast("long"))
        .cast("int").as("b"), col("pos"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("p"))
    val wDesc = Window.orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("ctp", sum(col("p")).over(wDesc))
      .withColumn("ccnt", sum(col("cnt")).over(wDesc))
      .withColumn("term", (col("p") * col("ctp")).cast("double") / col("ccnt"))
      .agg(
        max(col("ctp")).as("ptot"),
        aggregate(sort_array(collect_list(struct(col("b"), col("term"))),
          asc = false), lit(0.0), (acc, t) => acc + t.getField("term")).as("s"))
      .select(when(col("ptot") === 0, lit(null).cast("double"))
        .otherwise(rnd(col("s") / col("ptot"), 6)).as("pr_auc"))
  }

  /** At-scale AUC: the same rank statistic over a fixed-width score
    * histogram instead of a global sort. Every score in a bucket is
    * treated as tied at the bucket midrank, so the only non-map work is
    * (a) one min/max aggregate, (b) one `buckets`-row keyed aggregate,
    * and (c) a window over those ≤ `buckets` rows — the single-partition
    * window is bounded by the BUCKET COUNT, never the data (the exact
    * form's global-rank window sorts the whole eval set on one task,
    * which stops scaling the moment the eval set scales with the corpus).
    * Approximation error ≤ the mass mis-ranked within one bucket width;
    * MetricsSpec pins |bucketed − exact| at 10⁴ buckets.
    */
  def aucBinaryBucketed(scores: DataFrame, truth: DataFrame, posLabel: Int,
      buckets: Int = 10000): DataFrame = {
    val s = scores.join(truth, scores("q_id") === truth("vec_id"))
      .select(col("u"),
        when(col("label") === posLabel, 1.0).otherwise(0.0).as("pos"))
    val range = s.agg(min("u").as("lo"), max("u").as("hi"))
    val hist = s.crossJoin(broadcast(range))
      .select(
        when(col("hi") === col("lo"), lit(0)).otherwise(
          least(floor((col("u") - col("lo")) / (col("hi") - col("lo")) * buckets),
            lit(buckets - 1))).cast("int").as("b"),
        col("pos"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("p"))
    val before = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("midrank",
        coalesce(sum(col("cnt")).over(before), lit(0L)) + (col("cnt") + 1) / 2.0)
    val pCnt = sum(col("p"))
    val nCnt = sum(col("cnt")) - sum(col("p"))
    ranked.agg(when(pCnt === 0 || nCnt === 0, lit(null).cast("double"))
      .otherwise(rnd(
        (sum(col("p") * col("midrank")) - pCnt * (pCnt + 1) / 2.0) /
          (pCnt * nCnt), 6)).as("auc"))
  }

  /** Per-class precision / recall / F1 over all `nClasses` classes
    * (densified — classes absent from predictions AND truth report
    * zeros). One conditional aggregation per class over the joined
    * prediction frame; the metric denominators guard division by zero.
    */
  def classReport(predictions: DataFrame, truth: DataFrame, nClasses: Int): DataFrame = {
    val joined = predictions.join(truth, predictions("q_id") === truth("vec_id"))
      .select(col("label"), col("predicted"))
    val classes = predictions.sparkSession.range(nClasses)
      .select(col("id").cast("int").as("class"))
    // aggregate-then-densify: three partial aggregations keyed by class
    // (≤ C rows each) left-joined onto the C-row classes frame. No C×N
    // row expansion, every join build side is tiny, and an empty
    // prediction set still yields one all-zero row per class.
    def perClass(df: DataFrame, key: String, name: String): DataFrame =
      df.groupBy(col(key).cast("int").as("class")).agg(count(lit(1)).as(name))
    val hit = joined.filter(col("label") === col("predicted"))
    val miss = joined.filter(col("label") =!= col("predicted"))
    val stats = classes
      .join(broadcast(perClass(hit, "predicted", "tp_")), Seq("class"), "left")
      .join(broadcast(perClass(miss, "predicted", "fp_")), Seq("class"), "left")
      .join(broadcast(perClass(miss, "label", "fn_")), Seq("class"), "left")
      .select(col("class"),
        coalesce(col("tp_"), lit(0L)).as("tp"),
        coalesce(col("fp_"), lit(0L)).as("fp"),
        coalesce(col("fn_"), lit(0L)).as("fn"))
    val p = when(col("tp") + col("fp") === 0, 0.0).otherwise(col("tp") / (col("tp") + col("fp")))
    val r = when(col("tp") + col("fn") === 0, 0.0).otherwise(col("tp") / (col("tp") + col("fn")))
    stats.select(
      col("class"), col("tp"), col("fp"), col("fn"),
      rnd(p, 6).as("precision"),
      rnd(r, 6).as("recall"),
      rnd(when(p + r === 0, 0.0).otherwise(lit(2.0) * p * r / (p + r)), 6).as("f1"))
  }

  /** Per-query probability normalizer over an ALREADY-persisted score
    * frame: p(class) = u / Σ_c u. One keyed sum per query + a re-join —
    * the probability frame every proper-scoring metric below shares.
    * Persist/release is the caller's (the `materialized` discipline).
    */
  private def probsOf(sc: DataFrame): DataFrame = {
    val tot = sc.groupBy(col("q_id")).agg(sum(col("u")).as("tu"))
    sc.join(tot, "q_id").select(col("q_id"), col("class"), (col("u") / col("tu")).as("p"))
  }

  /** Persist-consume-release for the scalar metrics below (round-9,
    * ADVICE r8): the input pipeline is persisted so its N downstream
    * aggregates run it once, the (≤ bins rows) result is EAGERLY
    * materialized via `Ckpt.truncate`, and the intermediate is
    * unpersisted before returning — a library caller composing several
    * metrics in one session no longer accumulates leaked cached plans,
    * and no clearCache convention is required of them. The returned
    * frame is the materialized result (checkpoint-backed, lazy-free).
    */
  private def materialized(shared: DataFrame)(build: DataFrame => DataFrame): DataFrame =
    if (isCheckpointBacked(shared)) Ckpt.truncate(build(shared))
    else {
      val cached = shared.persist()
      val out = Ckpt.truncate(build(cached))
      cached.unpersist(blocking = false)
      out
    }

  /** An input that IS a bare checkpoint (or a projection of one — the
    * shapes `Ckpt.truncate` produces) is already materialized storage:
    * re-persisting it buys nothing and costs a cache round-trip per
    * metric (round 10 — the shared metrics materialization feeds every
    * scalar metric from one checkpointed score frame, so this skip is
    * the common path there; expensive lazy pipelines still get the
    * persist). Same narrow plan match as `Ckpt.release`.
    */
  private def isCheckpointBacked(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.child.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
      case _ => false
    }

  /** Multi-class log loss −mean(ln p_label) over normalized fuzzy
    * scores, clamped at 1e-15 (the sklearn convention — a zero
    * probability on the true class would otherwise be −∞). Everything
    * up to the final mean is per-row arithmetic on identically-built
    * doubles; rnd(…, 6) absorbs the engines' float-sum association
    * difference on the closing average.
    *
    * PRECONDITION (ADVICE r8): `scores` must contain a row for every
    * query's true class — the truth join is inner, so a (q_id, label)
    * pair absent from the score table silently drops that query from
    * the mean instead of clamp-penalizing it as sklearn does. The wired
    * FkNN pipeline densifies all classes (membershipFromNn's class
    * cross join), so this holds by construction there; direct library
    * callers with sparse score tables must densify first (join the
    * class range with u = 0) or accept dropped-query semantics.
    */
  def logLoss(scores: DataFrame, truth: DataFrame): DataFrame =
    materialized(scores) { sc =>
      probsOf(sc)
        .join(truth, col("q_id") === col("vec_id") && col("class") === col("label"))
        .agg(rnd(-avg(log(greatest(col("p"), lit(1e-15)))), 6).as("logloss"),
          count(lit(1)).as("n"))
    }

  /** Multi-class Brier score: mean over queries of Σ_c (p_c − y_c)².
    * The inner sum runs over the C classes of ONE query (bounded, keyed
    * by q_id); squared via x·x — not pow() — so both engines evaluate
    * the identical expression tree. Same densified-scores PRECONDITION
    * as `logLoss`: a class row absent from `scores` loses its
    * (0 − 1)² / (0 − 0)² term rather than being penalized.
    */
  def brier(scores: DataFrame, truth: DataFrame): DataFrame =
    materialized(scores) { sc =>
      probsOf(sc)
        .join(truth, col("q_id") === col("vec_id"))
        .select(col("q_id"),
          ((col("p") - when(col("class") === col("label"), 1.0).otherwise(0.0)) *
            (col("p") - when(col("class") === col("label"), 1.0).otherwise(0.0))).as("sq"))
        .groupBy(col("q_id")).agg(sum(col("sq")).as("b"))
        .agg(rnd(avg(col("b")), 6).as("brier"), count(lit(1)).as("n"))
    }

  /** Cohen's kappa in EXACT integer form: κ = (po − pe)/(1 − pe)
    * rewritten as (diag·n − Σ_k r_k·c_k) / (n² − Σ_k r_k·c_k) — every
    * term a BIGINT (diagonal count, row/column marginal products), ONE
    * closing float division. The float po/pe forms would hinge the
    * result on two engines' double sums; this hinges it on nothing.
    */
  def cohenKappa(predictions: DataFrame, truth: DataFrame): DataFrame =
    // persisted via `materialized`: three downstream aggregates (totals
    // + both marginals) would otherwise each recompute the full
    // classify pipeline (the plan sweep showed 59 exchanges unpersisted);
    // the intermediate is released before return (round-9, ADVICE r8)
    materialized(predictions.join(truth, predictions("q_id") === truth("vec_id"))
        .select(col("label"), col("predicted"))) { j =>
      val tot = j.agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("predicted"), 1L).otherwise(0L)).as("diag"))
      val rm = j.groupBy(col("label").as("k")).agg(count(lit(1)).as("rl"))
      val cm = j.groupBy(col("predicted").as("k")).agg(count(lit(1)).as("cl"))
      val pe = rm.join(cm, "k").agg(sum(col("rl") * col("cl")).as("rc"))
      tot.crossJoin(broadcast(pe))
        .select(rnd((col("diag") * col("n") - col("rc")) /
          (col("n") * col("n") - col("rc")), 6).as("kappa"), col("n"))
    }

  /** Multi-class Matthews correlation (the R_k statistic):
    * (c·s − Σ p_k t_k) / √((s² − Σp²)(s² − Σt²)) — numerator and the
    * three marginal sums all BIGINT, the two denominator factors cast
    * to double BEFORE multiplying (their product overflows int64 long
    * before either factor does).
    */
  def mcc(predictions: DataFrame, truth: DataFrame): DataFrame =
    // persisted via `materialized`: five downstream aggregates over j
    // (the plan sweep showed 101 exchanges / 18 BNLJ shapes with the
    // classify pipeline recomputed per marginal); released before
    // return (round-9, ADVICE r8)
    materialized(predictions.join(truth, predictions("q_id") === truth("vec_id"))
        .select(col("label"), col("predicted"))) { j =>
      val tot = j.agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("predicted"), 1L).otherwise(0L)).as("diag"))
      val rm = j.groupBy(col("label").as("k")).agg(count(lit(1)).as("rl"))
      val cm = j.groupBy(col("predicted").as("k")).agg(count(lit(1)).as("cl"))
      val tt = rm.agg(sum(col("rl") * col("rl")).as("tt"))
      val pp = cm.agg(sum(col("cl") * col("cl")).as("pp"))
      val pt = rm.join(cm, "k").agg(sum(col("rl") * col("cl")).as("pt"))
      tot.crossJoin(broadcast(tt)).crossJoin(broadcast(pp)).crossJoin(broadcast(pt))
        .select(rnd((col("diag") * col("n") - col("pt")) /
          sqrt((col("n") * col("n") - col("pp")).cast("double") *
            (col("n") * col("n") - col("tt")).cast("double")), 6).as("mcc"), col("n"))
    }

  /** Reliability diagram: top-1 confidence (normalized, ROUNDED to 6dp
    * BEFORE binning — the bin edge comparison then runs on identical
    * doubles in both engines, where an unrounded confidence could
    * straddle an edge by one ulp) bucketed into `bins`; per bin the
    * count, mean confidence, and empirical accuracy.
    */
  def calibrationBins(scores: DataFrame, truth: DataFrame, bins: Int = 10): DataFrame =
    materialized(scores) { sc => // normalizer + argmax window share one run
      val tot = sc.groupBy(col("q_id")).agg(sum(col("u")).as("tu"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("u").desc, col("class"))
      val top = sc.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(tot, "q_id")
        .select(col("q_id"), col("class").as("predicted"), rnd(col("u") / col("tu"), 6).as("conf"))
      top.join(truth, col("q_id") === col("vec_id"))
        .select(col("conf"),
          when(col("predicted") === col("label"), 1.0).otherwise(0.0).as("acc"),
          least(floor(col("conf") * bins), lit(bins - 1)).cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), rnd(avg(col("conf")), 6).as("conf_avg"),
          rnd(avg(col("acc")), 6).as("acc_avg"))
    }
}
