package graft

import java.nio.file.Files

import org.apache.spark.sql.classic
import org.apache.spark.sql.functions._

import graft.run.{RunAbtest, RunAnn, RunCurate, RunEmbed, RunFknn, RunIngest,
  RunIngestStream, RunProfile}

/** The `graft.run` runners release what they persist and never clear the
  * session's cache: a frame the caller cached before a runner is still
  * cached after it, and it is the only entry left in the CacheManager.
  * The caller's frame is the documents table, the frame a library session
  * would cache (`RunCurate` reads the same plan).
  */
class RunnerCacheLifecycleSpec extends SparkSpecBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def keepsCallerCache(runner: String)(body: => Unit): Unit = {
    spark.catalog.clearCache() // start from an empty registry, whatever ran before
    val caller = Tables.documents(spark, sfDir).cache()
    caller.count()
    body
    val cm = spark.sharedState.cacheManager
    assert(cm.lookupCachedData(caller.asInstanceOf[classic.Dataset[_]]).isDefined,
      s"$runner evicted the caller's cached frame")
    caller.unpersist(blocking = true)
    assert(cm.isEmpty, s"$runner left a persisted frame in the CacheManager")
  }

  test("RunCurate.run keeps the caller's cache and releases its stages") {
    keepsCallerCache("RunCurate.run") { RunCurate.run(spark, sfDir, tmp("lc_curate")) }
  }

  test("RunIngest.run and maintainLsh keep the caller's cache and release their stages") {
    keepsCallerCache("RunIngest.run") {
      val out = tmp("lc_ingest")
      RunIngest.run(spark, sfDir, out)
      RunIngest.maintainLsh(spark, out)
    }
  }

  test("RunAnn.run and maintain keep the caller's cache and release their stages") {
    keepsCallerCache("RunAnn.run") {
      val out = tmp("lc_ann")
      RunAnn.run(spark, sfDir, out)
      RunAnn.maintain(spark, out)
    }
  }

  test("RunAnn.runGraph and maintainGraph keep the caller's cache and release their stages") {
    keepsCallerCache("RunAnn.runGraph") {
      val out = tmp("lc_graph")
      RunAnn.runGraph(spark, sfDir, out)
      RunAnn.maintainGraph(spark, out)
    }
  }

  test("RunFknn.run keeps the caller's cache and releases its stages") {
    keepsCallerCache("RunFknn.run") {
      RunFknn.run(spark, RunFknn.Config(sfDir, tmp("lc_fknn"), version = "chunked"))
    }
  }

  test("RunEmbed.run keeps the caller's cache and releases its stages") {
    keepsCallerCache("RunEmbed.run") { RunEmbed.run(spark, sfDir, tmp("lc_embed")) }
  }

  test("RunAbtest.run keeps the caller's cache and releases its sections") {
    keepsCallerCache("RunAbtest.run") { RunAbtest.run(spark, sfDir, tmp("lc_abtest")) }
  }

  test("RunProfile.run keeps the caller's cache and releases its sections") {
    keepsCallerCache("RunProfile.run") { RunProfile.run(spark, sfDir, tmp("lc_profile")) }
  }

  test("the four declared stream rows keep the caller's cache and release each micro-batch") {
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "ingest_stream" -> RunIngestStream.ingestStreamQuery,
      "retract_stream" -> RunIngestStream.retractStreamQuery,
      "ingest_vec_stream" -> RunIngestStream.ingestVecStreamQuery,
      "retract_vec_stream" -> RunIngestStream.retractVecStreamQuery
    ).foreach { case (name, row) =>
      keepsCallerCache(name) { assert(row(spark, sfDir).count() > 0) }
    }
  }

  test("the stream runners keep the caller's cache from a bootstrapped state") {
    val out = tmp("lc_stream")
    RunIngest.run(spark, sfDir, out, batchMod = 5, batchRem = 3)
    val docs = Tables.documents(spark, sfDir)
    val vecs = Tables.embeddings(spark, sfDir)
    keepsCallerCache("RunIngestStream.run") {
      val drops = tmp("lc_stream_docs")
      docs.filter(col("doc_id") % 5 === 3).select(
          (col("doc_id") + 10000000L).as("doc_id"), col("text"), col("source"), col("n_chars"))
        .coalesce(1).write.mode("append").parquet(drops)
      RunIngestStream.run(spark, drops, out)
    }
    keepsCallerCache("RunIngestStream.runVec") {
      val drops = tmp("lc_stream_vecs")
      vecs.filter(col("vec_id") % 5 === 3).select(
          (col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
        .coalesce(1).write.mode("append").parquet(drops)
      RunIngestStream.runVec(spark, drops, out)
    }
    keepsCallerCache("RunIngestStream.runRetract") {
      val drops = tmp("lc_stream_takedown")
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(null).cast("long").as("vec_id"))
        .coalesce(1).write.mode("append").parquet(drops)
      RunIngestStream.runRetract(spark, drops, out)
    }
  }
}
