package graft.run

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Distance, Fknn, Metrics}

/** The reference's report-writing CLI runner (SURVEY.md §3.1 EP-1
  * [LINEAGE]; VERDICT r8 #3) — the last piece of reference-surface
  * parity: a `main` a user points at data to get the reference's
  * user-visible artifact, a text report of per-stage wall times plus
  * accuracy / AUC / confusion matrix / per-class report, alongside the
  * predictions as partitioned parquet (`sources.Sinks`).
  *
  * ```
  * tools/run.sh graft.run.RunFknn <sfdir> <outdir> \
  *   [k=5] [nClasses=10] [distType=l2|l1] \
  *   [version=global|chunked|local] [blocks=4|-1]
  * ```
  *
  * `blocks = -1` auto-sizes the kNN-IS chunk count from Catalyst
  * statistics (`Fknn.autoBlocks` — the reference's
  * `numIterations = -1`). Stages mirror the reference run: stage 1 =
  * Keller membership init over train (persisted across stages, the
  * reference's cache of the fuzzified train set), stage 2 = the fuzzy
  * classify through the chosen physical version, then the metric
  * read-outs. Timings are per-stage because each stage is forced
  * eagerly — exactly the boundaries the reference reports [LINEAGE].
  */
object RunFknn {

  case class Config(
      sfDir: String,
      outDir: String,
      k: Int = 5,
      nClasses: Int = 10,
      distType: String = "l2",
      version: String = "global",
      blocks: Int = 4)

  /** Run the full pipeline, write `report.txt` + `predictions/` under
    * `cfg.outDir`, and return the report text (spec hook). */
  def run(spark: SparkSession, cfg: Config): String = {
    val dist: Fknn.Dist = cfg.distType match {
      case "l2" => graft.functions.ArrayDistance.l2
      case "l1" => graft.functions.ArrayDistance.l1
      case other => throw new IllegalArgumentException(
        s"distType must be l2 or l1, got $other")
    }
    val e = graft.Tables.embeddings(spark, cfg.sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val queries = e.filter(col("vec_id") % 10 === 0)
    val train = e.filter(col("vec_id") % 10 =!= 0)
    val truth = e.select(col("vec_id"), col("label"))

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // stage 1 — membership init (persisted across stages; released at end)
    val (mem, t1) = timed {
      val m = Fknn.membershipInit(train, cfg.k, cfg.nClasses, dist).persist()
      m.count()
      m
    }
    // stage 2 — classify through the declared physical version
    val (pred, t2) = timed {
      val p = (cfg.version match {
        case "global" => Fknn.classify(mem, train, queries, cfg.k, dist)
        case "chunked" => Fknn.classifyChunked(mem, train, queries, cfg.k,
          blocks = cfg.blocks, dist = dist)
        case "local" => Fknn.classifyLocal(mem, train, queries, cfg.k,
          blocks = cfg.blocks, dist = dist)
        case other => throw new IllegalArgumentException(
          s"version must be global, chunked or local, got $other")
      }).persist()
      p.count()
      p
    }
    // metrics — the reference's reported read-outs
    val (lines, t3) = timed {
      val acc = Metrics.accuracy(pred, truth).collect()(0).getDouble(0)
      val scores0 = Fknn.classifyScores(mem, train, queries, cfg.k, dist)
        .filter(col("class") === 0)
      val aucRow = Metrics.aucBinary(scores0, truth, posLabel = 0).collect()(0)
      val auc = if (aucRow.isNullAt(0)) Double.NaN else aucRow.getDouble(0)
      val conf = Metrics.confusionMatrix(pred, truth)
        .orderBy(col("label"), col("predicted")).collect()
        .map(r => s"  ${r.getInt(0)} ${r.getInt(1)} ${r.getLong(2)}")
      val rep = Metrics.classReport(pred, truth, cfg.nClasses)
        .orderBy(col("class")).collect()
        .map(r => f"  ${r.getInt(0)} ${r.getLong(1)} ${r.getLong(2)} " +
          f"${r.getLong(3)} ${r.getDouble(4)}%.6f ${r.getDouble(5)}%.6f " +
          f"${r.getDouble(6)}%.6f")
      (acc, auc, conf, rep)
    }
    val (acc, auc, conf, rep) = lines
    val nTest = pred.count()

    graft.sources.Sinks.writePartitioned(
      pred, s"${cfg.outDir}/predictions", Seq("predicted"))
    mem.unpersist(blocking = false)
    pred.unpersist(blocking = false)

    val report =
      s"""fknn run report
         |sfdir: ${cfg.sfDir}
         |version: ${cfg.version}
         |k: ${cfg.k}
         |nClasses: ${cfg.nClasses}
         |distType: ${cfg.distType}
         |blocks: ${cfg.blocks}
         |n_test: $nTest
         |stage1_membership_sec: ${f"$t1%.3f"}
         |stage2_classify_sec: ${f"$t2%.3f"}
         |metrics_sec: ${f"$t3%.3f"}
         |accuracy: ${f"$acc%.6f"}
         |auc_class0: ${if (auc.isNaN) "undefined" else f"$auc%.6f"}
         |confusion_matrix: label predicted n
         |${conf.mkString("\n")}
         |class_report: class tp fp fn precision recall f1
         |${rep.mkString("\n")}
         |""".stripMargin
    Files.createDirectories(Paths.get(cfg.outDir))
    Files.writeString(Paths.get(s"${cfg.outDir}/report.txt"), report)
    report
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunFknn <sfdir> <outdir> [k] [nClasses] [distType] [version] [blocks]")
    val cfg = Config(
      sfDir = args(0),
      outDir = args(1),
      k = if (args.length > 2) args(2).toInt else 5,
      nClasses = if (args.length > 3) args(3).toInt else 10,
      distType = if (args.length > 4) args(4) else "l2",
      version = if (args.length > 5) args(5) else "global",
      blocks = if (args.length > 6) args(6).toInt else 4)
    val spark = graft.Session()
    print(run(spark, cfg))
    spark.stop()
  }
}
