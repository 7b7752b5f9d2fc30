package graft.run

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rel.Queries

/** A/B statistical-analysis runner — the `RunProfile` precedent
  * applied to the classical-stats family: ONE main a user points at a
  * warehouse directory to run the battery of tests an experiment
  * read-out actually opens with, over the click-vs-purchase split of
  * the events feed:
  *
  *  - assumption gates first: `stats_levene` (variance homogeneity —
  *    decides whether the Welch t or the rank tests carry the call)
  *    and `stats_anova` / `stats_kruskal` (any-group effects),
  *  - the two-sample pair: `stats_ttest` (Welch, means) and
  *    `stats_mannwhitney` (midrank U, distributions),
  *  - rates: `stats_ztest_prop` (high-value-event proportion),
  *  - effect shape: `stats_spearman` / `stats_kendall` (monotone
  *    association on the quantity–discount grid),
  *  - uncertainty: `stats_bootstrap_ci` (Poisson-bootstrap CI on the
  *    mean, the resampling cross-check on the parametric interval),
  *  - the A/A harness check: `events_ab_assign`'s SRM gate on the
  *    hash split itself, plus a Mann-Whitney U over `value` BETWEEN
  *    the hash arms (a true null — the pipeline-is-sound read-out: if
  *    the A/A z rejects, the harness, not the treatment, is broken),
  *  - and the multiple-testing close-out (round 11): Benjamini-Hochberg
  *    adjusted calls over the battery's six z-family statistics,
  *    reconciled against the declared `stats_fdr_bh` row — a dozen
  *    uncorrected 1.96 calls at 5 % is a false-discovery machine.
  *
  * ```
  * tools/run.sh graft.run.RunAbtest <sfdir> <outdir>
  * ```
  *
  * This main adds NO new semantics: every section is a declared
  * operator's own builder (each an oracle-gated row), so every number
  * in the report reconciles with a DuckDB-checked result —
  * RunAbtestSpec asserts exactly that. Scale shape is inherited: each
  * section is a constant-output aggregate over one corpus pass (the
  * midrank tests collapse to distinct-value frames before any
  * exchange), so the battery costs a handful of scans regardless of SF
  * and only single-row test statistics ever reach the driver.
  */
object RunAbtest {

  case class SectionResult(name: String, rows: Long, wall: Double)

  def run(spark: SparkSession, sfDir: String, outDir: String): String = {
    Files.createDirectories(Paths.get(outDir))
    val sections = Seq[(String, (SparkSession, String) => DataFrame)](
      "stats_levene" -> Queries.statsLevene,
      "stats_anova" -> Queries.statsAnova,
      "stats_kruskal" -> Queries.statsKruskal,
      "stats_ttest" -> Queries.statsTtest,
      "stats_mannwhitney" -> Queries.statsMannwhitney,
      "stats_ztest_prop" -> Queries.statsZtestProp,
      "stats_effect_size" -> Queries.statsEffectSize,
      "events_cuped" -> Queries.eventsCuped,
      "stats_sample_size" -> Queries.statsSampleSize,
      "stats_spearman" -> Queries.statsSpearman,
      "stats_kendall" -> Queries.statsKendall,
      "stats_bootstrap_ci" -> Queries.statsBootstrapCi,
      // round 13: the distribution-free read-out on the mean difference
      // itself (exchangeability null, 64 deterministic relabelings) —
      // the estimand the experiment reports, tested without the
      // normality lean of the Welch row
      "stats_permutation" -> Queries.statsPermutation,
      "events_ab_assign" -> Queries.eventsAbAssign,
      // A/A: the declared mannwhitneyOf core over the HASH arms — a
      // true null by construction (assignment is outcome-blind)
      "aa_mannwhitney" -> ((sp: SparkSession, dir: String) => {
        val ev = graft.Tables.events(sp, dir)
        Queries.mannwhitneyOf(ev
          .join(Queries.abAssignArms(ev), "user_id")
          .select((col("arm") === "control").as("isa"),
            col("value"), col("event_id")))
      }))
    val results = sections.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      val rows = spark.read.parquet(s"$outDir/$name").count()
      SectionResult(name, rows, (System.nanoTime() - t0) / 1e9)
    }

    def head1(name: String) = spark.read.parquet(s"$outDir/$name").head()
    def d(name: String, col: String): Double =
      head1(name).getAs[Double](col)
    // the two-sided 5 % normal/F habit thresholds a read-out quotes;
    // the report prints the statistics themselves alongside the calls
    def call(stat: Double, crit: Double): String =
      if (math.abs(stat) > crit) "REJECT" else "no-reject"
    val levF = d("stats_levene", "f")
    val ci = head1("stats_bootstrap_ci")
    val srm = head1("events_ab_assign")
    val aaZ = d("aa_mannwhitney", "z")

    // Benjamini-Hochberg adjusted calls over the battery's z-family
    // statistics (round-11, VERDICT r10 #2): the SAME m = 6 selection,
    // grid, and step-up rule as the declared `stats_fdr_bh` row —
    // RunAbtestSpec reconciles this section against that oracle-gated
    // result, so the report's adjusted calls carry the row's guarantee.
    val bhGrid = Queries.BhCritGrid
    val sp = head1("stats_spearman"); val kd = head1("stats_kendall")
    val spN = sp.getAs[Long]("n"); val kdN = kd.getAs[Long]("n")
    val zFamily = Seq(
      "welch_t" -> math.abs(d("stats_ttest", "t_welch")),
      "mannwhitney" -> math.abs(d("stats_mannwhitney", "z")),
      "prop_z" -> math.abs(d("stats_ztest_prop", "z")),
      "srm" -> math.sqrt(srm.getAs[Double]("srm_chi2")),
      "spearman" -> math.abs(sp.getAs[Double]("rho")) * math.sqrt((spN - 1).toDouble),
      "kendall" -> (math.abs(kd.getAs[Double]("tau_b")) * 3.0 *
        math.sqrt((kdN * (kdN - 1)).toDouble) / math.sqrt(2.0 * (kdN * 2 + 5))))
    val bhRanked = zFamily.sortBy { case (t, z) => (-z, t) }
    val bhKmax = bhRanked.zipWithIndex
      .filter { case ((_, z), i) => z >= bhGrid(i) }
      .map(_._2 + 1).lastOption.getOrElse(0)
    val bhSection = bhRanked.zipWithIndex.map { case ((t, z), i) =>
      f"  ${i + 1} $t%-12s |z|=$z%.4f crit=${bhGrid(i)}%.6f " +
        s"raw=${if (z > 1.959964) "REJECT" else "no-reject"} " +
        s"bh=${if (i + 1 <= bhKmax) "REJECT" else "no-reject"}"
    }.mkString("\n")

    val report =
      s"""a/b analysis report (click vs purchase)
         |sections: name rows sec
         |${results.map(r => f"  ${r.name} ${r.rows} ${r.wall}%.3f").mkString("\n")}
         |levene_f: $levF (variance homogeneity ${call(levF, 2.37)})
         |anova_f: ${d("stats_anova", "f")} eta_sq: ${d("stats_anova", "eta_sq")}
         |kruskal_h_tie: ${d("stats_kruskal", "h_tie")}
         |welch_t: ${d("stats_ttest", "t_welch")} (means ${call(d("stats_ttest", "t_welch"), 1.96)})
         |mannwhitney_z: ${d("stats_mannwhitney", "z")} (distributions ${call(d("stats_mannwhitney", "z"), 1.96)})
         |prop_z: ${d("stats_ztest_prop", "z")} (rates ${call(d("stats_ztest_prop", "z"), 1.96)})
         |cohen_d: ${d("stats_effect_size", "cohen_d")} hedges_g: ${d("stats_effect_size", "hedges_g")}
         |cuped_theta: ${d("events_cuped", "theta")} var_reduction: ${d("events_cuped", "var_reduction")}
         |n_required_per_arm_2pct_mde: ${head1("stats_sample_size").getAs[Long]("n_required_per_arm")}
         |spearman_rho: ${d("stats_spearman", "rho")}
         |kendall_tau_b: ${d("stats_kendall", "tau_b")}
         |bootstrap_mean_ci: [${ci.getAs[Double]("ci_lo")}, ${ci.getAs[Double]("ci_hi")}] mean ${ci.getAs[Double]("mean")}
         |permutation_p: ${d("stats_permutation", "p_value")} d_obs: ${d("stats_permutation", "d_obs")} (means ${if (d("stats_permutation", "p_value")
        <= 0.05) "REJECT" else "no-reject"}, distribution-free)
         |aa_srm_chi2: ${srm.getAs[Double]("srm_chi2")} (split ${if (srm.getAs[Boolean]("srm_flag")) "MISMATCH" else "ok"})
         |aa_mannwhitney_z: $aaZ (harness ${if (math.abs(aaZ) > 1.96) "BROKEN" else "sound"})
         |adjusted calls (Benjamini-Hochberg, alpha=0.05, m=${zFamily.size}): rank test |z| crit raw bh
         |$bhSection
         |bh_k: $bhKmax of ${zFamily.size} rejected after correction
         |correction scope (round 12): the BH family is EXACTLY the ${zFamily.size}
         |treatment-effect hypothesis tests above (welch_t, mannwhitney, prop_z,
         |srm, spearman, kendall) — the lines that emit an accept/reject call
         |about the treatment. Deliberately OUTSIDE the family:
         |  - levene / anova / kruskal: assumption gates — they condition WHICH
         |    test carries the call, they are not themselves treatment calls;
         |    correcting them alongside would trade assumption sensitivity for
         |    call specificity, the wrong direction for a gate.
         |  - cohen_d / hedges_g, cuped_theta / var_reduction, bootstrap CI,
         |    n_required_per_arm: ESTIMATION lines — magnitudes and intervals,
         |    no reject decision exists to correct. (The bootstrap CI brackets
         |    the mean; reading it as a test would double-count welch_t.)
         |  - aa_srm / aa_mannwhitney: HARNESS diagnostics on a true null —
         |    a rejection indicts the pipeline, not the treatment, and must
         |    stay maximally sensitive rather than be diluted into the family.
         |  - stats_permutation (round 13): a treatment-effect call, but its
         |    p is an exact Monte-Carlo estimate (floor 1/65), not a z against
         |    the family's fixed critical grid — the declared stats_fdr_bh row
         |    pins m=6 on the z family, and this report carries that row's
         |    guarantee verbatim. A deployment folding the permutation call in
         |    recomputes the step-up at m=7 over p-values instead.
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/report.txt"), report)
    report
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunAbtest <sfdir> <outdir>")
    val spark = graft.Session()
    print(run(spark, args(0), args(1)))
    spark.stop()
  }
}
