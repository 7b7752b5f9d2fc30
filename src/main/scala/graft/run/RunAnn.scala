package graft.run

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Distance, Knn}
import graft.llm.AnnSearch

/** ANN index-lifecycle runner — the vector-search sibling of
  * `RunFknn`/`RunCurate`/`RunMonitor` (round 10): ONE main that takes a
  * corpus through the workflow a vector-search deployment actually
  * runs — train coarse centroids (Lloyd's), PERSIST the
  * cell-partitioned index, load + search it for a query batch, and
  * measure recall@k against the exact brute-force ranking — with the
  * per-stage timing report and a predictions artifact. Composed
  * entirely from declared operators' builders (`kmeansCentroids`,
  * `saveIvfIndex`, `ivfSearchIndexed`, `Knn.knn`), so the oracle-gated
  * rows (`ann_ivf`, `ann_ivf_kmeans`, `ann_recall`) remain each
  * stage's correctness contract; the indexed search is spec-pinned
  * bit-identical to the inline path since round 9.
  *
  * ```
  * tools/run.sh graft.run.RunAnn <sfdir> <outdir> [k=5] [nprobe=2]
  * ```
  */
object RunAnn {

  def run(spark: SparkSession, sfDir: String, outDir: String,
      k: Int = 5, nprobe: Int = 2): String = {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val stages = new Stages
    val t = stages.persist(e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("t_id"), col("v").as("t_v")))
    val nQ = q.count()

    // 1. coarse quantizer: Lloyd's from a deterministic stride seed
    //    (≈ one centroid per 40 train vectors — the ann_ivf_kmeans shape)
    val cent = stages.frame("build_centroids") {
      // stride ≡ 1 (mod 40): a ≡ 0 stride would be a subset of the
      // ≡ 0 (mod 10) QUERY split and leave the train-side seed empty
      val seed = t.filter(col("t_id") % 40 === 1)
        .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
      AnnSearch.kmeansCentroids(t, seed, iters = 2)
    }
    // 2. persist the index: cell-partitioned corpus + centroid table
    val indexPath = s"$outDir/index"
    stages("save_index") {
      AnnSearch.saveIvfIndex(t, cent, indexPath)
      ((), spark.read.parquet(s"$indexPath/cells").select("cell").distinct().count())
    }
    // 3. load + search the PERSISTED index (partition-prunable probes)
    val results = stages("search_indexed") {
      val r = stages.persist(AnnSearch.ivfSearchIndexed(spark, indexPath, q, k, nprobe))
      r.write.mode("overwrite").parquet(s"$outDir/results")
      (r, r.count())
    }
    // 4. recall@k vs the exact brute-force ranking (same L2 metric)
    val (recallPct, hitRows) = recallVsExact(stages, results,
      Knn.knn(q.select(col("q_id").as("vec_id"), col("q_v").as("v")),
        t.select(col("t_id").as("vec_id"), col("t_v").as("v")), k))

    val report =
      s"""ann index run report
         |sfdir: $sfDir
         |k: $k
         |nprobe: $nprobe
         |n_queries: $nQ
         |stages: stage metric sec
         |${Stages.table(stages.results)}
         |recall_at_$k: ${f"$recallPct%.4f"} ($hitRows exact rows)
         |""".stripMargin
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/report.txt"), report)
    stages.release()
    report
  }

  /** The `recall_vs_exact` stage: how many of the exact top-k rows
    * (`brute`, by q_id and t_id) the search `results` hold, recorded as
    * the stage's count. Returns (recall, exact rows).
    */
  private def recallVsExact(stages: Stages, results: DataFrame,
      brute: => DataFrame): (Double, Long) =
    stages("recall_vs_exact") {
      val truth = brute.select(col("q_id"), col("t_id"))
      val hits = truth.join(results.select("q_id", "t_id"),
        Seq("q_id", "t_id"), "left_semi").count()
      val total = truth.count()
      ((hits.toDouble / total, total), hits)
    }

  /** Index-MAINTENANCE pass (round 13, VERDICT r12 "What's missing #2"):
    * `appendToIvfIndex` assigns against STORED centroids forever, so
    * under drift the cell balance degrades and recall decays — the
    * measurements exist as declared rows (`embedding_cell_balance`,
    * `embedding_drift`, `ann_recall`) and this composes them into the
    * retrain DECISION a deployment runs on a cadence:
    *
    *   1. measure max/median cell size over the live cells (the
    *      `embedding_cell_balance` statistic on the persisted index);
    *   2. if the ratio crosses `maxRatio`, RETRAIN — Lloyd's seeded by
    *      a deterministic hash-stride RESEED over the LIVE vectors
    *      (~one seed per current cell-size average). NOT a warm start
    *      from the stored centroids: SCALE.md round 13 measured the
    *      warm start at 51.15 → 47.62 max/median on a shifted-corpus
    *      drift — Lloyd's cannot SPLIT a drift cluster that one old
    *      centroid owns, because every other centroid keeps owning its
    *      old-region points and never migrates; reseeding from the
    *      current distribution places seeds where the data now IS
    *      (same probe: → 1.52, probed rows/query 2088 → 83);
    *   3. the rebuild materializes the live rows first
    *      (`Ckpt.truncate`) so the overwrite never scans the directory
    *      it is replacing, and — since the live view already filters
    *      tombstones — doubles as the physical retraction/compaction
    *      pass (tombstones cleared after).
    *
    * Returns the report; "retrained: false" runs cost one cell-size
    * aggregation over the pruned cell column. RunAnnSpec pins the
    * loop on a drifted corpus: balance crosses → retrain → balance and
    * recall restored.
    */
  def maintain(spark: SparkSession, outDir: String,
      maxRatio: Double = 4.0, iters: Int = 2): String = {
    val indexPath = s"$outDir/index"
    val (cells, cent) = AnnSearch.loadIvfIndex(spark, indexPath)
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("n")).persist()
    val st = sizes.agg(max(col("n")).as("mx"),
      expr("percentile(n, 0.5)").as("med"), count(lit(1)).as("n_cells")).head()
    val (mx, med, nCells) = (st.getLong(0), st.getDouble(1), st.getLong(2))
    val ratio = mx / math.max(1.0, med)
    val retrain = ratio > maxRatio
    var retrainLine = f"cell_balance: max=$mx med=$med%.1f ratio=$ratio%.2f cells=$nCells (threshold $maxRatio%.1f)"
    if (retrain) {
      val elapsed = Stages.clock()
      // live rows materialized BEFORE the overwrite (Sinks.compact's
      // no-overwrite-while-reading rule); tombstones are thereby
      // physically applied, so clear them with the rebuild
      val tMat = graft.core.Ckpt.truncate(cells.select(col("t_id"), col("t_v")))
      // reseed density: one seed per MEDIAN-cell-size vectors — the
      // median is the build-time cell size (robust to the drifted max),
      // so the rebuilt index keeps the per-probe scan cost the original
      // build chose even as appends grow the corpus (|C| scales with n;
      // keeping the old CELL COUNT instead let cells fatten: probe
      // measured recall 0.41/139 rows vs the fresh build's 0.50/81)
      val m = math.max(1L, math.round(med))
      val seed = tMat.filter(pmod(xxhash64(col("t_id")), lit(m)) === 0)
        .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
      val newCent = AnnSearch.kmeansCentroids(tMat, seed, iters = iters)
        .persist()
      newCent.count()
      AnnSearch.saveIvfIndex(tMat, newCent, indexPath)
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/tombstones"), true)
      val (cells2, _) = AnnSearch.loadIvfIndex(spark, indexPath)
      val st2 = cells2.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("mx"), expr("percentile(n, 0.5)").as("med")).head()
      val ratio2 = st2.getLong(0) / math.max(1.0, st2.getDouble(1))
      retrainLine += f"\nretrained: ratio $ratio%.2f -> $ratio2%.2f in ${elapsed()}%.1f s"
      graft.core.Ckpt.release(tMat)
      newCent.unpersist(blocking = false)
    } else retrainLine += "\nretrained: false"
    sizes.unpersist(blocking = false)
    val report =
      s"""ann index maintenance report
         |index: $indexPath
         |$retrainLine
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/maintain_report.txt"), report)
    report
  }

  /** Navigation-graph runner (round 15 — the graph family's composed
    * workflow, completing the runner symmetry `run` gives IVF): build
    * and PERSIST the kNN navigation graph over the train split, load +
    * beam-search it for the query batch, measure recall@3 against the
    * exact ranking, and leave the graph where `--maintain-graph` and
    * `retractIds` manage it (`$outDir/graph`). Composed from declared
    * operators' builders (`saveKnnGraph` = the `embedding_knn_graph`
    * shape; the search is `ann_graph_search`'s `graphSearchOf`), so the
    * oracle-gated rows remain each stage's correctness contract.
    */
  def runGraph(spark: SparkSession, sfDir: String, outDir: String,
      k: Int = 3, beam: Int = 8, hops: Int = 3): String = {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val t = graft.core.Ckpt.truncate(e.filter(col("vec_id") % 10 =!= 0))
    val nQ = q.count()
    val graphPath = s"$outDir/graph"
    val stages = new Stages
    stages("build_graph") {
      AnnSearch.saveKnnGraph(t, graphPath, k)
      ((), spark.read.parquet(s"$graphPath/edges").count())
    }
    val results = stages("search_graph") {
      val (_, edges) = AnnSearch.loadKnnGraph(spark, graphPath)
      val eT = graft.core.Ckpt.truncate(edges.select(col("src"), col("dst")))
      val r = stages.persist(AnnSearch.graphSearchOf(q,
          t.select(col("vec_id").as("t_id"), col("v").as("t_v")),
          beam, hops, k, edges0 = Some(eT)))
      r.write.mode("overwrite").parquet(s"$outDir/graph_results")
      graft.core.Ckpt.release(eT)
      (r, r.count())
    }
    // the truth set uses the RUNNER's k (round-16 ADVICE): a hardcoded
    // k=3 truth under k>3 search results inflates recall (k-sized
    // result vs top-3 truth) and floor-limits it at k/3 under k<3
    val (recallPct, hitRows) = recallVsExact(stages, results,
      Knn.knn(q.select(col("q_id").as("vec_id"), col("q_v").as("v")),
        t, k = k, dist = AnnSearch.cosineDist))
    graft.core.Ckpt.release(t)
    // approximation honesty (the pqTopK precedent): near-uniform
    // corpora are graph navigation's documented worst case — a k-NN
    // graph over structureless vectors has no long-range geometry to
    // walk (SCALE.md round 13: recall ≈ 0 uniform vs 0.57-0.71
    // clustered at 100 k) — so the recall line carries the context a
    // reader needs to judge it
    val report =
      s"""knn-graph run report
         |sfdir: $sfDir
         |k: $k
         |beam: $beam
         |hops: $hops
         |n_queries: $nQ
         |stages: stage metric sec
         |${Stages.table(stages.results)}
         |recall_at_$k: ${f"$recallPct%.4f"} ($hitRows exact rows)
         |note: recall on near-uniform corpora is the method's documented floor
         |      (SCALE.md round 13's clustered leg is the structure reference)
         |""".stripMargin
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/graph_run_report.txt"), report)
    stages.release()
    report
  }

  /** Navigation-graph MAINTENANCE pass (round 15, VERDICT r14 missing
    * #2 — the third index family's `--maintain`, completing what LSH
    * compaction and the IVF retrain trigger already have):
    * `appendToKnnGraph` never re-ranks stored nodes' out-edges, so a
    * stored node whose TRUE k-NN set now includes appended vectors
    * keeps its stale list until a rebuild — the decay SCALE.md round
    * 14 measured. This promotes that observable into the retrain
    * DECISION:
    *
    *   1. measure ADJACENCY RECALL over a deterministic hash-stride
    *      sample of stored nodes: |stored out-edges ∩ true top-k| /
    *      (|sample|·k), where the true top-k is the same bucketed
    *      Σ|sample-in-bucket|·|bucket| candidate shape as the build
    *      (never sample × corpus), self-pairs excluded. Stored
    *      adjacency counts ALL out-edges (reverse supplements included)
    *      — it is exactly what a walk can see from the node;
    *   2. if recall < `minRecall`, REBUILD — `saveKnnGraph` over the
    *      live node table (stored top-k lists re-ranked against
    *      everything that arrived since), and re-measure.
    *
    * "rebuilt: false" runs cost one sampled bucket-join — the cadence
    * observable a deployment schedules, priced at 1/sampleMod of a
    * build. RunAnnSpec pins the loop: appends drift adjacency recall
    * below the floor → trigger fires → recall restored.
    */
  def maintainGraph(spark: SparkSession, outDir: String,
      minRecall: Double = 0.8, k: Int = 3, sampleMod: Int = 8): String = {
    val graphPath = s"$outDir/graph"
    def adjacencyRecall(): Double = {
      val (nodes, edges) = AnnSearch.loadKnnGraph(spark, graphPath)
      val sample = nodes.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
      val truth = AnnSearch.knnTruthOf(sample, nodes, k)
      val hit = truth.join(edges.select(col("src"), col("dst")),
        Seq("src", "dst"), "left_semi").count()
      val total = truth.count()
      hit.toDouble / math.max(1L, total)
    }
    val recall = adjacencyRecall()
    var line = f"adjacency_recall: $recall%.4f (threshold $minRecall%.2f, sample 1/$sampleMod, k=$k)"
    if (recall < minRecall) {
      val elapsed = Stages.clock()
      // LIVE nodes (tombstones filtered — the rebuild doubles as the
      // physical retraction pass, the IVF-maintain precedent),
      // materialized BEFORE the overwrite (never overwrite a directory
      // a lazy frame still reads). rebuildKnnGraph (round-16 ADVICE) =
      // sibling-write + checked rename-swap, so a crash mid-rebuild
      // leaves the old graph instead of nothing; it also clears the
      // now-applied tombstones.
      val nodes = graft.core.Ckpt.truncate(
        AnnSearch.loadKnnGraph(spark, graphPath)._1)
      AnnSearch.rebuildKnnGraph(nodes, graphPath, k)
      graft.core.Ckpt.release(nodes)
      line += f"\nrebuilt: recall $recall%.4f -> ${adjacencyRecall()}%.4f " +
        f"in ${elapsed()}%.1f s"
    } else line += "\nrebuilt: false"
    val report =
      s"""knn-graph maintenance report
         |graph: $graphPath
         |$line
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/graph_maintain_report.txt"), report)
    report
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    args.headOption match {
      case Some("--graph") =>
        require(args.length >= 3,
          "usage: RunAnn --graph <sfdir> <outdir> [k] [beam] [hops]")
        val k = if (args.length > 3) args(3).toInt else 3
        val beam = if (args.length > 4) args(4).toInt else 8
        val hops = if (args.length > 5) args(5).toInt else 3
        print(runGraph(spark, args(1), args(2), k, beam, hops))
      case Some("--maintain-graph") =>
        require(args.length >= 2,
          "usage: RunAnn --maintain-graph <outdir> [minRecall] [k]")
        val floor = if (args.length > 2) args(2).toDouble else 0.8
        val k = if (args.length > 3) args(3).toInt else 3
        print(maintainGraph(spark, args(1), floor, k))
      case Some("--maintain") =>
        require(args.length >= 2, "usage: RunAnn --maintain <outdir> [maxRatio]")
        val ratio = if (args.length > 2) args(2).toDouble else 4.0
        print(maintain(spark, args(1), ratio))
      case _ =>
        require(args.length >= 2, "usage: RunAnn <sfdir> <outdir> [k] [nprobe]")
        val k = if (args.length > 2) args(2).toInt else 5
        val nprobe = if (args.length > 3) args(3).toInt else 2
        print(run(spark, args(0), args(1), k, nprobe))
    }
    spark.stop()
  }
}
