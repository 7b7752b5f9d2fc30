package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.PlanBridge

import graft.core.{Ckpt, Distance, Fknn}

/** The checkpoint seam: `Ckpt.truncate` must use reliable `checkpoint()`
  * exactly when a checkpoint dir is configured, and the iterative
  * operators must produce identical results on either path (checkpointing
  * changes no values — only lineage and fault tolerance).
  */
class CkptSpec extends SparkSpecBase {

  private def rddOf(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get

  private def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `n` rows of (id, 8 doubles). */
  private def vectors(s: SparkSession, n: Int): DataFrame =
    s.range(n).select(col("id"), array((1 to 8).map(i => sin(col("id") * i)): _*).as("v"))

  /** Within 8× either way: a local checkpoint stores deserialized rows,
    * about 70 bytes of object overhead a row above the payload. */
  private def assertNear(est: BigInt, bytes: BigInt, what: String): Unit = {
    info(s"$what: estimate $est, $bytes bytes")
    assert(est > 0 && est <= bytes * 8 && est * 8 >= bytes, s"$what: estimate $est vs $bytes bytes")
  }

  /** Stage 2's score table over a fitted membership checkpoint: a
    * checkpoint of a frame that reads a checkpoint. Its estimate must be
    * near its own stored size, not the product of the join's inputs. */
  private def assertScoresDoNotCompound(s: SparkSession): Unit = {
    val e = Tables.embeddings(s, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val train = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 300)
    val queries = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 300)
    val mem = Fknn.fit(train, 5, 10)
    val scores = Ckpt.truncate(Fknn.classifyScores(mem, queries, 5))
    // the fitted table is (vec_id BIGINT, v dim DOUBLEs, label INT, u 10
    // DOUBLEs); the long scores are (q_id BIGINT, class INT, u DOUBLE),
    // 20 payload bytes a row
    val dim = train.head().getSeq[Double](1).size
    assertNear(estimate(mem), BigInt(mem.count() * (8 + 8 * dim + 4 + 80)), "fitted table")
    assertNear(estimate(scores), BigInt(scores.count() * 20), "scores")
    Seq(scores, mem).foreach(Ckpt.release)
  }

  test("a local checkpoint's estimate is its stored block bytes, and does not compound") {
    val ck = Ckpt.truncate(vectors(spark, 20000))
    assert(estimate(ck) === PlanBridge.storedBytes(rddOf(ck)))
    // 72 payload bytes a row
    assertNear(estimate(ck), BigInt(20000 * 72), "vectors")
    assert(Ckpt.isTruncated(ck) && ck.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    Ckpt.release(ck)
    assertScoresDoNotCompound(spark)
  }

  test("truncate without a checkpoint dir takes the local path") {
    import spark.implicits._
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_id1", "doc_id2")
    val cc = collectSet(graft.llm.Dedup.connectedComponents(pairs))
    assert(cc.map(_.head.asInstanceOf[Long]) === Set(1L, 2L, 3L, 4L, 10L, 11L))
  }

  test("scoped: releases intermediates, keeps the result, no-ops on pure-lazy builds") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // assertions target the SPECIFIC frames this test creates — a global
    // pinned-count baseline is flaky because the ContextCleaner reclaims
    // earlier suites' frames asynchronously mid-test
    // pure-lazy build: scoped must NOT materialize — the result stays a
    // plain plan (count-prunable)
    val lazyRes = Ckpt.scoped {
      Seq((1, "a"), (2, "b")).toDF("k", "v").groupBy($"v").count()
    }
    assert(!Ckpt.isTruncated(lazyRes), "buf-empty scoped build must stay lazy")
    assert(lazyRes.count() === 2)

    // checkpointing build: the intermediate's blocks are released once
    // scoped returns; the result IS a checkpoint and still readable
    // (a groupBy — NOT a bare projection, which `isTruncated` would treat
    // as the checkpoint itself and keep `mid` pinned as the result)
    var mid: org.apache.spark.sql.DataFrame = null
    val out = Ckpt.scoped {
      mid = Ckpt.truncate(Seq(1, 2, 3).toDF("x"))
      mid.groupBy().agg(org.apache.spark.sql.functions.sum($"x").as("s"))
    }
    assert(Ckpt.isTruncated(out))
    assert(out.collect().map(_.getLong(0)) === Array(6L))
    assert(rddOf(mid).getStorageLevel === StorageLevel.NONE,
      "scoped left the intermediate checkpoint pinned")
    assert(rddOf(out).getStorageLevel !== StorageLevel.NONE,
      "scoped released its own result")
    Ckpt.release(out)
    assert(rddOf(out).getStorageLevel === StorageLevel.NONE)

    // exception path: checkpoints collected before the failure are
    // drained before the rethrow (round-15 ADVICE)
    var failed: org.apache.spark.sql.DataFrame = null
    intercept[RuntimeException] {
      Ckpt.scoped {
        failed = Ckpt.truncate(Seq(4, 5).toDF("x"))
        throw new RuntimeException("boom")
      }
    }
    assert(rddOf(failed).getStorageLevel === StorageLevel.NONE,
      "failed scoped build leaked its checkpoints")
  }

  test("reliable path writes rdd-* files and is value-identical") {
    // the reliable-path assertions run in a THROWAWAY session (the
    // GraftExtensionsSpec teardown precedent) — SparkContext has no
    // public un-set for the checkpoint dir, and mutating the shared
    // context reflectively is the kind of internal access a Spark
    // upgrade breaks first
    val mkPairs = { s: SparkSession =>
      import s.implicits._
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_id1", "doc_id2")
    }
    val localCc = collectSet(graft.llm.Dedup.connectedComponents(mkPairs(spark)))

    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ckpt-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s2.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    try {
      import s2.implicits._
      val pairs = mkPairs(s2)
      // one-frame truncate lands RDD checkpoint files in the dir
      // (setCheckpointDir eagerly creates a UUID subdir; rdd-* appears
      // under it only when a reliable checkpoint actually runs)
      assert(Ckpt.truncate(pairs).count() === 4)
      val rddDirs = dir.listFiles.flatMap(u => Option(u.listFiles).getOrElse(Array.empty[File]))
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.nonEmpty, s"reliable checkpoint() left no rdd-* dirs under $dir")
      // the persist-before-checkpoint discipline must leave no frame
      // pinned once truncate returns
      assert(s2.sparkContext.getPersistentRDDs.isEmpty,
        "Ckpt.truncate leaked a persisted RDD on the reliable path")

      // the estimate is near the checkpoint's stored bytes, its files
      val ck = Ckpt.truncate(vectors(s2, 20000))
      def bytesUnder(f: File): Long =
        if (f.isDirectory) f.listFiles.map(bytesUnder).sum else f.length
      val files = new File(new java.net.URI(rddOf(ck).getCheckpointFile.get))
      assertNear(estimate(ck), BigInt(bytesUnder(files)), "reliable vectors")
      assertScoresDoNotCompound(s2)

      // full iterative operators on the reliable path match the local path
      val reliableCc = graft.llm.Dedup.connectedComponents(pairs)
        .collect().map(_.toSeq).toSet
      assert(reliableCc === localCc)
      // PageRank (per-round truncation) and BPE training (per-merge
      // truncation + the one-row argmax checkpoint) — values must be
      // path-independent
      val half = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
      val pr = graft.rel.Graph.pageRank(edges, iters = 3).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(pr.size === 3 && math.abs(pr.values.sum - 1.0) < 1e-4)
      // multi-character words — single-char words have no adjacent
      // symbol pairs and BPE would exhaust at round 1 with no rules
      val docs = Seq((0L, "abab abab cdcd"), (1L, "abab cdcd")).toDF("doc_id", "text")
      val rules = graft.llm.TextAnalysis.bpeMerges(docs, rounds = 2).collect()
      assert(rules.length === 2 && rules.map(_.getString(1)).forall(_.nonEmpty))
    } finally {
      // stop + clear so the next suite's getOrCreate builds a fresh
      // session with no checkpoint dir
      s2.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      def rm(f: File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }
}
