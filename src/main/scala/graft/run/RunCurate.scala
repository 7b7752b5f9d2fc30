package graft.run

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llm.{Curation, Dedup, TextAnalysis}

/** End-to-end curation pipeline runner — the LLM-data-side sibling of
  * `RunFknn`: one `main` a user points at a corpus to run the published
  * curation lineage (Gopher quality rules → exact dedup → MinHash-LSH
  * near-dedup → 13-gram decontamination → domain cap) and get the two
  * user-visible artifacts a real curation run publishes: the FUNNEL
  * REPORT (per-stage survivor counts + wall times — the number review
  * meetings actually read) and the survivor corpus as
  * source-partitioned parquet.
  *
  * ```
  * tools/run.sh graft.run.RunCurate <sfdir> <outdir> [dupJaccard=0.8]
  * ```
  *
  * Every stage reuses the declared operators' own builders — this main
  * adds NO new semantics, only composition + timing + the report, so
  * the oracle-gated rows remain the correctness contract for each
  * stage. Stage order follows the published pipelines (C4/Gopher/
  * RefinedWeb): cheap row-local filters first (quality), then
  * digest-keyed exact dedup, then the candidate-bucketed near-dedup
  * over the (smaller) survivor set, then n-gram decontamination, then
  * the domain cap on what remains — each stage shrinks the next
  * stage's input, which at 100 TB is the difference between LSH over
  * the raw crawl and LSH over the ~half that survives quality+exact.
  */
object RunCurate {

  def run(spark: SparkSession, sfDir: String, outDir: String,
      nearDupThreshold: Double = 0.8): String = {
    val stages = new Stages
    val docs = stages.persist(graft.Tables.documents(spark, sfDir))
    val total = docs.count()

    // 1. Gopher quality rules (row-local; the cheap filter runs first)
    val quality = stages.frame("quality_gopher") {
      docs.join(TextAnalysis.qualityGopherDocs(docs)
        .filter(col("keep")).select("doc_id"), "doc_id")
    }
    // 2. exact dedup: keep the lowest doc_id per md5 digest (digests on
    //    the exchange, never payloads)
    val exact = stages.frame("dedup_exact") {
      quality.join(
        quality.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
        "doc_id")
    }
    // 3. near-dedup: LSH candidates → verified pairs → CC clusters →
    //    keep each cluster's min doc_id (the default hot-bucket cap is
    //    ON — cap-then-continue, the production mode)
    val near = stages.frame("dedup_minhash_lsh") {
      val pairs = Dedup.minhashLshPairs(spark,
          exact.select(col("doc_id"), col("text")))
        .filter(col("jaccard") >= nearDupThreshold)
        .select(col("doc_id1"), col("doc_id2"))
      val losers = Dedup.connectedComponents(pairs)
        .filter(!col("keep")).select(col("doc_id"))
      exact.join(losers, Seq("doc_id"), "left_anti")
    }
    // 4. 13-gram decontamination against the eval slice
    val clean = stages.frame("decontaminate_13") {
      near.join(Curation.decontaminateDocs(near, gram = 13)
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
    }
    // 5. domain cap: at most DomainCapN docs per source, longest first
    val capped = stages.frame("domain_cap") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      clean.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= Curation.DomainCapN).drop("rn")
    }

    graft.sources.Sinks.writePartitioned(capped, s"$outDir/corpus", Seq("source"))
    val kept = stages.results.last.survivors
    val report =
      s"""curation run report
         |sfdir: $sfDir
         |near_dup_jaccard: $nearDupThreshold
         |docs_in: $total
         |docs_out: $kept
         |kept_ratio: ${f"${kept.toDouble / total}%.4f"}
         |funnel: stage survivors dropped sec
         |${Stages.funnel(total, stages.results)}
         |""".stripMargin
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/report.txt"), report)
    stages.release()
    report
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunCurate <sfdir> <outdir> [dupJaccard]")
    val spark = graft.Session()
    val thr = if (args.length > 2) args(2).toDouble else 0.8
    print(run(spark, args(0), args(1), thr))
    spark.stop()
  }
}
