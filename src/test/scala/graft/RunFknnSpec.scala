package graft

import org.apache.spark.sql.functions._

import graft.core.{Ckpt, Distance, Fknn, Metrics}
import graft.run.RunFknn

/** End-to-end spec for the reference-parity CLI runner (SURVEY §3.1
  * EP-1): the report must parse, its metrics must equal the values the
  * oracle rows compute over the same split, and the partitioned
  * predictions sink must round-trip.
  */
class RunFknnSpec extends SparkSpecBase {

  private def keyVals(report: String): Map[String, String] =
    report.linesIterator
      .takeWhile(l => !l.startsWith("confusion_matrix"))
      .flatMap { l =>
        l.split(": ", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap

  test("RunFknn end-to-end on sf0.001: report parses, metrics equal the direct pipeline's") {
    val out = java.nio.file.Files.createTempDirectory("fknnrun").toString
    val report = RunFknn.run(spark, RunFknn.Config(sfDir, out))
    val kv = keyVals(report)
    assert(kv("version") === "global" && kv("k") === "5" && kv("distType") === "l2")
    assert(kv("n_test").toLong > 0)
    Seq("stage1_membership_sec", "stage2_classify_sec", "metrics_sec").foreach { t =>
      assert(kv(t).toDouble >= 0.0, s"$t must parse as a non-negative double")
    }
    // the report's metrics ≡ the oracle rows' pipeline run directly
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val q = e.filter(col("vec_id") % 10 === 0)
    val t = e.filter(col("vec_id") % 10 =!= 0)
    val truth = e.select(col("vec_id"), col("label"))
    val pred = Fknn.classifyPipeline(t, q, 5, 10).persist()
    try {
      val acc = Metrics.accuracy(pred, truth).collect()(0).getDouble(0)
      assert(kv("accuracy").toDouble === acc)
      assert(kv("n_test").toLong === pred.count())
      val fitted = Fknn.fit(t, 5, 10)
      val auc = Metrics.aucBinary(
        Fknn.classifyScores(fitted, q, 5).filter(col("class") === 0),
        truth, posLabel = 0).collect()(0).getDouble(0)
      Ckpt.release(fitted)
      assert(kv("auc_class0").toDouble === auc)
      // confusion rows in the report sum to n_test
      val confN = report.linesIterator
        .dropWhile(l => !l.startsWith("confusion_matrix")).drop(1)
        .takeWhile(_.startsWith("  "))
        .map(_.trim.split(" ")(2).toLong).sum
      assert(confN === pred.count())
    } finally pred.unpersist()
    // the sink round-trips: partitioned parquet re-reads to the same rows
    val sunk = spark.read.parquet(s"$out/predictions")
      .select(col("q_id"), col("predicted").cast("int").as("predicted"))
    assert(collectSet(sunk) === collectSet(
      Fknn.classifyPipeline(t, q, 5, 10)))
    // report.txt on disk equals the returned text
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/report.txt")) === report)
  }

  test("RunFknn: chunked and local versions run; auto blocks (-1) accepted") {
    val out = java.nio.file.Files.createTempDirectory("fknnrun2").toString
    val chunked = RunFknn.run(spark,
      RunFknn.Config(sfDir, s"$out/c", version = "chunked", blocks = -1))
    val global = RunFknn.run(spark, RunFknn.Config(sfDir, s"$out/g"))
    // chunking is output-invisible: same accuracy as the global run
    assert(keyVals(chunked)("accuracy") === keyVals(global)("accuracy"))
    val local = RunFknn.run(spark,
      RunFknn.Config(sfDir, s"$out/l", version = "local", blocks = 4))
    assert(keyVals(local)("accuracy").toDouble >= 0.0)
    intercept[IllegalArgumentException] {
      RunFknn.run(spark, RunFknn.Config(sfDir, s"$out/x", version = "nope"))
    }
    intercept[IllegalArgumentException] {
      RunFknn.run(spark, RunFknn.Config(sfDir, s"$out/y", distType = "cosine"))
    }
  }
}
