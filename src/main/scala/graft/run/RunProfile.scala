package graft.run

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rel.Queries

/** Data-governance profiling runner — the `RunCurate`/`RunMonitor`
  * precedent applied to the audit family: ONE main a user points at a
  * warehouse directory to run the five governance read-outs a data
  * review actually opens with — column profile (`data_profile`),
  * declarative constraint validation (`data_constraints`), join-key
  * skew (`data_skew_report`), the privacy ladder end to end — the
  * three audits (`anon_kanon` / `anon_ldiversity` / `anon_tcloseness`),
  * the ε-DP noisy release (`anon_dp_counts`) and the pseudonymized
  * release (`pii_pseudonymize`) with its PII exposure audit
  * (`pii_stats`) — and the Benford first-digit audit (`agg_benford`):
  * one report plus each result as parquet.
  *
  * ```
  * tools/run.sh graft.run.RunProfile <sfdir> <outdir>
  * ```
  *
  * This main adds NO new semantics: every section is a declared
  * operator's own builder (each an oracle-gated row), so the report
  * numbers reconcile with DuckDB-checked results — RunProfileSpec
  * asserts exactly that. Scale shape is inherited: every section is a
  * constant-output aggregate (counts, marginals, ≤9-digit shares), so
  * the report costs one scan per table regardless of SF and nothing
  * larger than a screenful ever reaches the driver.
  */
object RunProfile {

  def run(spark: SparkSession, sfDir: String, outDir: String): String = {
    Files.createDirectories(Paths.get(outDir))
    val sections = Seq[(String, (SparkSession, String) => DataFrame)](
      "data_profile" -> Queries.dataProfile,
      "data_constraints" -> Queries.dataConstraints,
      "data_skew_report" -> Queries.dataSkewReport,
      "anon_kanon" -> Queries.anonKanon,
      "anon_ldiversity" -> Queries.anonLdiversity,
      "anon_tcloseness" -> Queries.anonTcloseness,
      "anon_dp_counts" -> Queries.anonDpCounts,
      "pii_stats" -> graft.llm.Curation.piiStats,
      "pii_pseudonymize" -> graft.llm.Curation.piiPseudonymize,
      "agg_benford" -> Queries.aggBenford)
    val results = Stages.sinkSections(spark, sfDir, outDir, sections)

    def sunk(name: String): DataFrame = spark.read.parquet(s"$outDir/$name")
    // headline numbers a review meeting reads first — each derived from
    // the sunk parquet (small by construction), not recomputed
    val violations = sunk("data_constraints")
      .agg(sum(col("n_violations"))).head().getLong(0)
    val failing = sunk("data_constraints")
      .filter(col("n_violations") > 0).select("constraint_name")
      .collect().map(_.getString(0)).sorted
    val kMin = sunk("anon_kanon")
      .select(col("qi_level"), col("k_min"))
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    val lMin = sunk("anon_ldiversity")
      .select(col("qi_level"), col("l_min"))
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    val tMax = sunk("anon_tcloseness")
      .select(col("qi_level"), col("t_max"))
      .collect().map(r => s"${r.getString(0)}=${r.getDouble(1)}").sorted
    val piiAffected = sunk("pii_stats")
      .agg(sum(col("affected"))).head().getLong(0)
    val worstSkew = sunk("data_skew_report")
      .orderBy(col("skew_factor").desc).select("join_key", "skew_factor")
      .head()
    val benfordDev = sunk("agg_benford")
      .agg(max(abs(col("obs_share") - col("exp_share")))).head().getDouble(0)

    val report =
      s"""data profile report
         |sections: name rows sec
         |${Stages.table(results)}
         |constraint_violations: $violations
         |failing_constraints: ${if (failing.isEmpty) "none" else failing.mkString(",")}
         |k_anonymity: ${kMin.mkString(" ")}
         |l_diversity: ${lMin.mkString(" ")}
         |t_closeness_max: ${tMax.mkString(" ")}
         |pii_affected_records: $piiAffected
         |worst_skew: ${worstSkew.getString(0)} ${worstSkew.getDouble(1)}
         |benford_max_abs_dev: ${math.floor(benfordDev * 1e6 + 0.5) / 1e6}
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/report.txt"), report)
    report
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunProfile <sfdir> <outdir>")
    val spark = graft.Session()
    print(run(spark, args(0), args(1)))
    spark.stop()
  }
}
