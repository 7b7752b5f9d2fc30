package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel

import graft.core.SharedFrames

/** One library session running declared queries from several threads
  * must return what a serial run returns, and leave nothing pinned once
  * the shared frames are released. The rows are the memo consumers, in
  * groups that race on the same cold memo (FkNN memberships, scores,
  * edges) or on memos that share inputs (dedup clusters and ingest
  * pairs; BPE and the subword vocab).
  */
class ConcurrentQueriesSpec extends SparkSpecBase {

  private val rows = Seq("fknn_classify", "fknn_classify_local", "accuracy",
    "metrics_logloss", "dedup_cluster_hist",
    "graph_pagerank", "graph_walk_cooccur", "tokenizer_encode",
    "tokenizer_wordpiece", "ingest_manifest")

  private def resident(): Int = spark.sparkContext.getPersistentRDDs.values
    .count(_.getStorageLevel != StorageLevel.NONE)

  /** Resident count once the ContextCleaner has dropped unreferenced frames. */
  private def settled(floor: Int): Int = {
    var i = 0
    while (i < 20 && resident() > floor) { System.gc(); Thread.sleep(100); i += 1 }
    resident()
  }

  private def digest(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).sorted.toSeq

  test("4 threads on one session, memos cold: digests equal a serial run") {
    SharedFrames.releaseAll()
    val ambient = settled(0)
    val serial = rows.map(q => q -> digest(q)).toMap
    SharedFrames.releaseAll()
    val pool = Executors.newFixedThreadPool(4)
    val concurrent =
      try pool.invokeAll(rows.map(q => (() => q -> digest(q)): Callable[(String, Seq[String])]).asJava,
          10, TimeUnit.MINUTES).asScala.map(_.get()).toMap
      finally pool.shutdownNow()
    for (q <- rows) assert(concurrent(q) === serial(q), s"$q differs from the serial run")
    SharedFrames.releaseAll()
    assert(settled(ambient) <= ambient)
  }
}
