package graft

import org.apache.spark.sql.functions._

import graft.llm.AnnSearch

/** Approximation-quality guards for the ANN family: the bucketed/IVF
  * variants must recall a healthy fraction of the exact top-k — the
  * invariant that matters when the bucket join replaces the cross join
  * at scale.
  */
class AnnSearchSpec extends SparkSpecBase {

  private def recallVsExact(approx: org.apache.spark.sql.DataFrame,
      k: Int): Double = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"),
        col("label"))
    val exact = graft.core.Knn.knn(
      e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20), k)
      .select(col("q_id"), col("t_id"))
    val hit = approx.select(col("q_id"), col("t_id"))
      .join(exact, Seq("q_id", "t_id"), "left_semi").count()
    hit.toDouble / exact.count()
  }

  test("embedding_mmr: diversification skips the redundant near-copy pure top-k would return") {
    import spark.implicits._
    // q = x-axis; the two most q-similar vectors (22 then 21) are
    // near-copies of each other sitting OFF-axis (+y), while 23 mirrors
    // them at −y: equally relevant to q, dissimilar to the picked one.
    // Pure top-2 = {22, 21}; MMR round 2 scores
    // 21: 0.7·0.800 − 0.3·0.9994 ≈ 0.260 vs 23: 0.7·0.800 − 0.3·0.314
    // ≈ 0.466 → rank 2 must be the mirror 23, and 21 returns at rank 3.
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)),            // q (vec_id < 10)
      (21L, Array(0.8, 0.6, 0.0)),           // relevant, +y
      (22L, Array(0.82, 0.57, 0.0)),         // near-copy of 21, most relevant
      (23L, Array(0.8, -0.6, 0.0)),          // equally relevant, −y mirror
      (24L, Array(0.0, 1.0, 0.0)),           // fillers (shortlist padding)
      (25L, Array(0.0, 0.9, 0.1)),
      (26L, Array(0.1, 0.8, 0.2)),
      (27L, Array(0.0, 0.0, 1.0)),
      (28L, Array(0.2, 0.0, 0.9)))
    val dir = java.nio.file.Files.createTempDirectory("mmr").toString
    vecs.toDF("vec_id", "embedding")
      .withColumn("embedding", expr("transform(embedding, x -> x::FLOAT)"))
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = AnnSearch.mmrSelect(spark, dir)
      .orderBy("rank").select("t_id", "rank")
      .as[(Long, Int)].collect()
    assert(got.length === 3)
    assert(got(0)._1 === 22L, "rank 1 = pure relevance")
    assert(got(1)._1 === 23L, s"rank 2 must diversify away from the near-copy, got ${got(1)._1}")
    assert(got(2)._1 === 21L, "the near-copy returns once diversity is served")
    // ranks are 1..k and picks are distinct
    assert(got.map(_._2).toSeq === Seq(1, 2, 3))
    assert(got.map(_._1).distinct.length === 3)
  }

  test("IVF ANN recalls >= 40% of exact L2 top-3 with nprobe=3") {
    val r = recallVsExact(AnnSearch.ivfTopK(spark, sfDir), 3)
    assert(r >= 0.4, s"IVF recall $r below floor")
  }

  test("Lloyd-refined centroids: recall >= stride seed at equal nprobe, count preserved") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v").as("t_v"))
      .persist()
    try {
      val seed = e.filter(col("vec_id") >= 20 && col("vec_id") % 40 === 0)
        .select(col("vec_id").as("c_id"), col("v").as("c_v"))
      val refined = AnnSearch.kmeansCentroids(t, seed, iters = 3).persist()
      assert(refined.count() === seed.count(), "empty cells must keep their centroid")
      val rStride = recallVsExact(AnnSearch.ivfSearch(q, t, seed, k = 3, nprobe = 3), 3)
      val rKmeans = recallVsExact(AnnSearch.ivfSearch(q, t, refined, k = 3, nprobe = 3), 3)
      assert(rKmeans >= rStride, s"refined recall $rKmeans < stride recall $rStride")
      refined.unpersist()
    } finally t.unpersist()
  }

  test("kmeans refinement is deterministic (two runs bit-identical)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"))
    val t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v").as("t_v"))
    val seed = e.filter(col("vec_id") >= 20 && col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    val a = collectSet(AnnSearch.kmeansCentroids(t, seed, iters = 2))
    val b = collectSet(AnnSearch.kmeansCentroids(t, seed, iters = 2))
    assert(a === b)
  }

  test("PQ/ADC dist ≡ L2 to the decoded vector; k rows per query") {
    // ADC's defining identity: Σ_s l2sq(q_s, cw[code_s]) = l2sq(q, decode)
    // — same terms, different association, so equality is ~1e-15 relative
    // (not bitwise). This validates encode + table + fixed-order sum
    // end-to-end, independent of recall.
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"))
    val pq = AnnSearch.pqTopK(spark, sfDir).persist()
    try {
      val perQ = pq.groupBy("q_id").agg(count(lit(1)).as("n"), max("rn").as("mr"))
      assert(perQ.filter(col("n") =!= 3 || col("mr") =!= 3).count() === 0)

      // rebuild each returned t_id's decoded vector from its codes
      val m = 4
      def slices(df: org.apache.spark.sql.DataFrame, id: String, out: String) =
        df.select(col(id), explode(sequence(lit(0), lit(m - 1))).as("s"), col("v"))
          .select(col(id), col("s"),
            expr(s"slice(v, s * (size(v) div $m) + 1, size(v) div $m)").as(out))
      val cbs = slices(e.filter(col("vec_id") >= 20 && col("vec_id") < 36)
        .select((col("vec_id") - 20).as("j"), col("v")), "j", "cw")
      val enc = slices(e.filter(col("vec_id") >= 20)
        .select(col("vec_id").as("t_id"), col("v")), "t_id", "tv")
        .join(cbs, "s")
        .select(col("t_id"), col("s"), struct(
          graft.functions.ArrayDistance.l2sq(col("tv"), col("cw")).as("dist"),
          col("j").as("code")).as("dc"))
        .groupBy(col("t_id"), col("s")).agg(min(col("dc")).as("mn"))
        .select(col("t_id"), col("s"), col("mn.code").as("code"))
      val decoded = enc.join(cbs, enc("s") === cbs("s") && enc("code") === cbs("j"))
        .select(col("t_id"), enc("s").as("ss"), col("cw"))
        .groupBy(col("t_id"))
        .agg(flatten(expr("transform(array_sort(collect_list(struct(ss, cw))), p -> p.cw)"))
          .as("recon"))
      val check = pq
        .join(e.select(col("vec_id").as("q_id"), col("v").as("q_v")), "q_id")
        .join(decoded, "t_id")
        .select(col("dist"), graft.rel.Queries.rnd(
          graft.functions.ArrayDistance.l2(col("q_v"), col("recon")), 6).as("d2"))
        .filter(abs(col("dist") - col("d2")) > 1e-5)
      assert(check.count() === 0)
    } finally pq.unpersist()
  }

  test("PQ preserves coarse geometry: on clustered data every neighbor is in-cluster") {
    // the harness embeddings are near-uniform (L2 spread CV ≈ 6% — PQ's
    // documented worst case: quantization error swamps the spread, recall
    // vs exact top-3 ≈ 3-5%, measured in both engines). PQ's real-world
    // contract is COARSE geometry on clustered data, so that is what the
    // spec pins: 10 tight clusters, every returned neighbor must share
    // the query's cluster.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new java.util.Random(7)
    val centers = Array.fill(10)(Array.fill(64)(rnd.nextDouble() * 4 - 2))
    val rows = (0 until 220).map { i =>
      val c = i % 10
      Row(i.toLong, c.toLong, centers(c).map(_ + rnd.nextDouble() * 0.1 - 0.05))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("vec_id", LongType), StructField("cluster", LongType),
        StructField("v", ArrayType(DoubleType)))))
    val pq = AnnSearch.pqSearch(
      q = df.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v")),
      t = df.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v")),
      cb = df.filter(col("vec_id") >= 20 && col("vec_id") < 36)
        .select((col("vec_id") - 20).as("j"), col("v")),
      m = 4, k = 3)
    val joined = pq
      .join(df.select(col("vec_id").as("q_id"), col("cluster").as("qc")), "q_id")
      .join(df.select(col("vec_id").as("t_id"), col("cluster").as("tc")), "t_id")
    assert(joined.count() === 60)
    assert(joined.filter(col("qc") =!= col("tc")).count() === 0)
  }

  test("rerank distances are exact L2 and recall >= the raw PQ ranking") {
    // the two-stage contract: every returned distance is the TRUE L2
    // (the exact pass undoes quantization error on the shortlist), and
    // re-ranking a PQ shortlist can only improve recall vs exact top-k
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"))
    val rr = AnnSearch.pqRerankTopK(spark, sfDir).persist()
    try {
      val check = rr
        .join(e.select(col("vec_id").as("q_id"), col("v").as("q_v")), "q_id")
        .join(e.select(col("vec_id").as("t_id"), col("v").as("t_v")), "t_id")
        .withColumn("d2", graft.rel.Queries.rnd(
          graft.functions.ArrayDistance.l2(col("q_v"), col("t_v")), 6))
        .filter(col("dist") =!= col("d2"))
      assert(check.count() === 0)
      val rPq = recallVsExact(AnnSearch.pqTopK(spark, sfDir), 3)
      val rRr = recallVsExact(rr, 3)
      assert(rRr >= rPq, s"rerank recall $rRr < raw PQ recall $rPq")
    } finally rr.unpersist()
  }

  test("semantic dedup: one row per vector, per-cell lowest id always kept, drops non-vacuous") {
    val r = AnnSearch.dedupSemantic(spark, sfDir).persist()
    try {
      val total = Tables.embeddings(spark, sfDir).count()
      assert(r.count() === total, "every vector must appear exactly once")
      // the canonical representative (lowest id in its cell) can have no
      // lower-id cell-mate, so it must always survive
      val minKept = r.withColumn("mn",
          min(col("vec_id")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))))
        .filter(col("vec_id") === col("mn") && !col("keep"))
      assert(minKept.count() === 0)
      assert(r.filter(!col("keep")).count() > 0, "threshold should drop at least one near-dup")
    } finally r.unpersist()
  }

  test("chunked PQ ≡ unchunked") {
    val whole = collectSet(AnnSearch.pqTopK(spark, sfDir))
    assert(collectSet(AnnSearch.pqChunkedTopK(spark, sfDir)) === whole)
  }

  test("embedding_quantize: reconstruction error within the sqrt(dim)·scale/2 bound") {
    // each dimension lands within scale/2 of its grid point, so the L2
    // error is bounded by sqrt(dim)·scale/2 — the contract that makes
    // int8 storage safe for distance work
    val dim = Tables.embeddings(spark, sfDir)
      .select(size(graft.core.Distance.asDouble(col("embedding")))).head().getInt(0)
    val bad = AnnSearch.embeddingQuantize(spark, sfDir)
      .filter(col("q_err") > sqrt(lit(dim.toDouble)) * col("scale") / 2 + 1e-9)
    assert(bad.count() === 0)
  }

  test("IVF result distances are exact for the pairs it returns") {
    // approximation is in candidate selection only — any returned pair's
    // distance must equal the exact L2 between its vectors
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"))
    val ivf = AnnSearch.ivfTopK(spark, sfDir)
    val check = ivf
      .join(e.select(col("vec_id").as("q_id"), col("v").as("q_v")), "q_id")
      .join(e.select(col("vec_id").as("t_id"), col("v").as("t_v")), "t_id")
      .withColumn("d2", graft.rel.Queries.rnd(
        graft.functions.ArrayDistance.l2(col("q_v"), col("t_v")), 6))
      .filter(col("dist") =!= col("d2"))
    assert(check.count() === 0)
  }

  test("ann_range_search: non-vacuous, all pairs in-radius, ⊇ in-radius bucket top-3") {
    val range = AnnSearch.rangeSearch(spark, sfDir)
    assert(range.count() > 0, "ε = 0.8 must be non-vacuous on the harness data")
    assert(range.filter(col("dist") > 0.8).count() === 0)
    // the radius result must contain every bucket-top-3 pair inside ε
    // (strictly inside — the top-k column is rounded to 6 dp, so pairs
    // AT the boundary could round across it)
    val top = AnnSearch.lshBucketTopK(spark, sfDir)
      .filter(col("dist") <= 0.799).select("q_id", "t_id")
    val missing = top.join(range.select("q_id", "t_id"),
      Seq("q_id", "t_id"), "left_anti").count()
    assert(missing === 0, "in-radius bucket top-3 pairs must appear in the range result")
  }

  test("multi-probe semantic pairs: nprobe=1 matches single-cell, higher nprobe is a superset") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("t_id"), graft.core.Distance.asDouble(col("embedding")).as("t_v"))
    val cent = e.filter(col("t_id") % 40 === 0)
      .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
    // nprobe=1 through the top-nprobe reduction must agree cell-for-cell
    // with the min(struct) argmin (same tie-break: lexicographic
    // (dist, cell) order in both)
    assert(collectSet(AnnSearch.assignCellsMulti(e, cent, 1))
      === collectSet(AnnSearch.assignCells(e, cent)))
    // round 16: the ranked form's rn = 1 slice IS the primary-cell
    // assignment (the streamed vec funnel feeds it to the index append
    // instead of a second assignCells pass) — cell values must agree at
    // ANY nprobe, modulo assignCells' native cell type
    assert(collectSet(AnnSearch.assignCellsMultiRanked(e, cent, 3)
        .filter(col("rn") === 1).select(col("t_id"), col("cell")))
      === collectSet(AnnSearch.assignCells(e, cent)
        .select(col("t_id"), col("cell").cast("long"))))
    val p1 = collectSet(AnnSearch.semanticDupPairs(e, cent, eps = 0.75))
    val p2 = collectSet(AnnSearch.semanticDupPairs(e, cent, eps = 0.75, nprobe = 2))
    val p3 = collectSet(AnnSearch.semanticDupPairs(e, cent, eps = 0.75, nprobe = 3))
    assert(p1.subsetOf(p2) && p2.subsetOf(p3),
      "probing more cells can only ADD straddling pairs, never drop in-cell ones")
    assert(p1.nonEmpty)
  }

  test("dedup_semantic2: same surface as dedup_semantic, keep set only shrinks") {
    val s1 = AnnSearch.dedupSemantic(spark, sfDir).persist()
    val s2 = AnnSearch.dedupSemantic2(spark, sfDir).persist()
    try {
      // identical (vec_id, primary cell) surface — only the dup flag widens
      assert(collectSet(s1.select("vec_id", "cell")) === collectSet(s2.select("vec_id", "cell")))
      val kept1 = collectSet(s1.filter(col("keep")).select("vec_id"))
      val kept2 = collectSet(s2.filter(col("keep")).select("vec_id"))
      assert(kept2.subsetOf(kept1),
        "a vector dropped by the single-probe scan must stay dropped under multi-probe")
    } finally { s1.unpersist(); s2.unpersist(); () }
  }

  test("embedding_pca: full dimension set, unit norm, non-degenerate") {
    val p = AnnSearch.embeddingPca(spark, sfDir).collect()
    assert(p.length === 64)
    assert(p.map(_.getInt(0)).toSet === (0 until 64).toSet)
    val ss = p.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(ss - 1.0) < 1e-4, s"|pc1| deviates from 1: $ss")
    // a principal direction of non-constant data is not axis-aligned:
    // no single component may carry (almost) all the mass
    assert(p.map(r => math.abs(r.getDouble(1))).max < 0.999)
  }

  test("ivfPqSearch probing every cell ≡ full-scan pqSearch; fewer probes never add pairs") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("v"))
    val t = e.filter(col("vec_id") >= 10 && col("vec_id") < 200)
      .select(col("vec_id").as("t_id"), col("v"))
    val cent = e.filter(col("vec_id") >= 10 && col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    val cb = e.filter(col("vec_id") >= 10 && col("vec_id") < 26)
      .select((col("vec_id") - 10).as("j"), col("v"))
    val nCells = cent.count().toInt
    // probe ALL cells → the candidate set is the whole corpus, so the
    // composite must reproduce the full PQ scan row for row
    val full = collectSet(AnnSearch.pqSearch(q, t, cb, m = 4, k = 3))
    val all = collectSet(AnnSearch.ivfPqSearch(q, t, cent, cb, m = 4, k = 3, nprobe = nCells))
    assert(all === full)
    // nprobe=1 returns (q, t) pairs that are a subset of SOME cell's
    // content — every returned pair must also appear under probe-all
    // BEFORE the top-k cut, so its ADC dist must equal the full-scan
    // dist for that pair (candidate restriction changes WHICH pairs
    // rank, never a pair's distance)
    val one = AnnSearch.ivfPqSearch(q, t, cent, cb, m = 4, k = 3, nprobe = 1)
      .select("q_id", "t_id", "dist")
    val fullAd = AnnSearch.pqSearch(q, t, cb, m = 4, k = 200)
      .select("q_id", "t_id", "dist")
    assert(one.join(fullAd, Seq("q_id", "t_id", "dist"), "left_anti").count() === 0)
  }

  test("embedding_dim_stats: one row per dimension, moment identities hold") {
    import org.apache.spark.sql.functions._
    val stats = AnnSearch.embeddingDimStats(spark, sfDir)
    val dim = Tables.embeddings(spark, sfDir)
      .select(size(col("embedding"))).head().getInt(0)
    val rows = stats.collect()
    assert(rows.length === dim)
    val n = Tables.embeddings(spark, sfDir).count()
    for (r <- rows) {
      assert(r.getLong(1) === n)
      val (mean, variance, mn, mx) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(variance >= -1e-9, s"dim ${r.getInt(0)}: negative variance $variance")
      assert(mn <= mean + 1e-9 && mean <= mx + 1e-9)
    }
  }

  test("embedding_cell_balance conserves vectors, covers every centroid cell") {
    val rows = SparkEntry.queries("embedding_cell_balance")(spark, sfDir).collect()
    val nTrain = Tables.embeddings(spark, sfDir).filter(col("vec_id") >= 20).count()
    val nCent = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= 20 && col("vec_id") % 40 === 0).count()
    assert(rows.length === nCent)
    assert(rows.map(_.getLong(1)).sum === nTrain)
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-3)
    // ratio_to_mean averages to ~1 across cells
    val meanRatio = rows.map(_.getDouble(3)).sum / rows.length
    assert(math.abs(meanRatio - 1.0) < 1e-3)
  }

  test("persisted IVF index: save → load → search ≡ the inline path; layout cell-partitioned") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v").as("t_v"))
    val cent = e.filter(col("vec_id") >= 20 && col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    AnnSearch.saveIvfIndex(t, cent, path)
    val indexed = AnnSearch.ivfSearchIndexed(spark, path, q, k = 3, nprobe = 3)
    val inline = AnnSearch.ivfSearch(q, t, cent, k = 3, nprobe = 3)
    assert(collectSet(indexed) === collectSet(inline))
    // the on-disk layout is cell-partitioned: one directory per cell,
    // which is what makes probe-side partition pruning possible at all
    val dirs = new java.io.File(s"$path/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    val nCells = cent.count()
    assert(dirs.length.toLong === nCells,
      s"expected one cell= directory per centroid, got ${dirs.length} vs $nCells")
    // a loaded single-cell lookup prunes the scan to that partition
    val (cells, _) = AnnSearch.loadIvfIndex(spark, path)
    val oneCell = cells.filter(col("cell") === dirs.head.stripPrefix("cell=").toLong)
    val scanned = oneCell.queryExecution.executedPlan.toString()
    assert(scanned.contains("PartitionFilters") || oneCell.count() > 0)

    // incremental append: a copy of a query vector under a fresh id is
    // assigned to its nearest centroid's cell and found at dist 0 by
    // the next search — the recurring-ingest loop on the embedding side
    val copies = q.limit(1)
      .select((col("q_id") + 5000000L).as("t_id"), col("q_v").as("t_v"))
    AnnSearch.appendToIvfIndex(spark, copies, path)
    val after = AnnSearch.ivfSearchIndexed(spark, path, q, k = 3, nprobe = 3)
    val copied = copies.head()
    val hit = after.filter(col("q_id") === copied.getLong(0) - 5000000L &&
      col("t_id") === copied.getLong(0)).collect()
    assert(hit.length === 1 && hit.head.getAs[Double]("dist") === 0.0,
      "an appended copy of a query vector must surface at distance 0")
    // stored cells untouched: total rows = nTrain + the one append
    val (cells2, _) = AnnSearch.loadIvfIndex(spark, path)
    assert(cells2.count() === t.count() + 1)
    // id-disjointness enforced (round-12 ADVICE): re-appending the same
    // id must fail fast instead of storing a phantom duplicate
    intercept[IllegalArgumentException] {
      AnnSearch.appendToIvfIndex(spark, copies, path)
    }
    val (cells3, _) = AnnSearch.loadIvfIndex(spark, path)
    assert(cells3.count() === t.count() + 1, "rejected append must not write")
  }

  test("semanticDupsAgainstIndex ≡ inline cross-pair twin; cross pairs only; planted copy found") {
    // round 12 (VERDICT r11 #3): the batch-vs-index semantic near-dedup
    // must equal the same scan composed from raw frames — batch side
    // multi-probed (nprobe = 2), stored side at its build-time cell
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("t_id"),
        graft.core.Distance.asDouble(col("embedding")).as("t_v"))
    val t = e.filter(col("t_id") % 5 =!= 3)
    val batch = e.filter(col("t_id") % 5 === 3)
    val cent = t.filter(col("t_id") % 40 === 0)
      .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
    val path = java.nio.file.Files.createTempDirectory("ivfsem").toString
    AnnSearch.saveIvfIndex(t, cent, path)
    val got = collectSet(
      AnnSearch.semanticDupsAgainstIndex(spark, path, batch, eps = 0.75, nprobe = 2))
    val bCells = AnnSearch.assignCellsMulti(batch, cent, 2)
    val tCells = AnnSearch.assignCells(t, cent)
    val expect = collectSet(
      batch.join(bCells, "t_id")
        .select(col("t_id").as("new_id"), col("t_v").as("n_v"), col("cell"))
        .join(t.join(tCells, "t_id")
          .select(col("t_id").as("indexed_id"), col("t_v").as("i_v"), col("cell")),
          Seq("cell"))
        .filter(AnnSearch.cosineDist(col("n_v"), col("i_v")) < 0.75)
        .select(col("new_id"), col("indexed_id")).distinct())
    assert(got === expect)
    assert(got.nonEmpty, "harness corpus must have cross semantic near-dups at eps 0.75")
    // cross pairs only: new side from the batch split, indexed side not
    assert(got.forall(r => r(0).asInstanceOf[Long] % 5 == 3 &&
      r(1).asInstanceOf[Long] % 5 != 3))
    // a byte-identical copy of an INDEXED vector under a fresh id is
    // caught at cosine distance 0 regardless of eps
    val copy = t.limit(1).select((col("t_id") + 7000000L).as("t_id"), col("t_v"))
    val hit = AnnSearch.semanticDupsAgainstIndex(spark, path, copy,
      eps = 1e-9, nprobe = 1).collect()
    val origId = t.limit(1).head().getLong(0)
    assert(hit.exists(r => r.getLong(0) == origId + 7000000L && r.getLong(1) == origId),
      "an exact vector copy must pair with its original through the index")
  }

  test("ann_ndcg: bounded in [0,1], zero iff recall is zero, covers every brute query") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val ndcg = SparkEntry.queries("ann_ndcg")(spark, sfDir)
      .select(col("q_id").as[Long], col("dcg").as[Double], col("ndcg").as[Double])
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val recall = SparkEntry.queries("ann_recall")(spark, sfDir)
      .select(col("q_id").as[Long], col("n_hit").as[Long])
      .collect().toMap
    assert(ndcg.keySet === recall.keySet, "one graded row per brute query")
    val idcg = 3.0 + 2.0 / (math.log(3.0) / math.log(2.0)) + 0.5
    ndcg.foreach { case (q, (dcg, nd)) =>
      assert(nd >= 0.0 && nd <= 1.0 && dcg >= 0.0 && dcg <= idcg + 1e-9, s"q=$q")
      // graded and set views agree on emptiness: no overlap ⟺ zero gain
      assert((nd == 0.0) === (recall(q) == 0L), s"q=$q ndcg=$nd hits=${recall(q)}")
    }
    // the slice is informative: some query scores strictly between 0 and 1
    // or at 1 — not all zero (the bucketed search does find neighbors)
    assert(ndcg.values.exists(_._2 > 0.0))
  }

  test("ann_graph_search: shape invariants and nonzero recall vs brute top-3") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val out = graft.llm.AnnSearch.graphSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet === (0L until 20L).toSet, "one beam per query")
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to sorted.length),
        "ranks are 1..n within each query")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq,
        "distance ascends with rank")
      assert(rows.forall(_._2 >= 20L), "answers come from the target set")
    }
    // recall against the exact brute top-3 over the same target set:
    // the navigation graph must find SOME true neighbors (beam search
    // over a k=3 graph from one entry is approximate by design — the
    // assertion is non-vacuity, not perfection; ann_recall is the
    // measurement row)
    val brute = SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
      .filter(col("rn") <= 3)
      .select(col("q_id").as[Long], col("t_id").as[Long]).collect().toSet
    val hits = out.count(r => brute.contains((r._1, r._2)))
    assert(hits > 0, s"graph search found none of the brute top-3 pairs")
  }

  test("knn-graph lifecycle: save -> load -> append wires the batch without rewiring stored nodes") {
    // round 14 (VERDICT r13 #6): the navigation graph gets the same
    // persisted lifecycle LSH/IVF have. Pins: (a) the appended batch's
    // out-edges equal a FULL REBUILD's edges restricted to batch
    // sources (same bucketed candidates, same top-k — append is not an
    // approximation for the new side); (b) stored nodes keep every
    // original edge (no rewrite) and gain ONLY reverse links into the
    // batch; (c) the id-clash guard raises; (d) a beam search over the
    // loaded appended graph can reach an appended vector.
    val dir = java.nio.file.Files.createTempDirectory("knngraph").toString
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"))
    val base = e.filter(col("vec_id") >= 20 && col("vec_id") < 120)
    val batch = e.filter(col("vec_id") >= 120 && col("vec_id") < 160)
    AnnSearch.saveKnnGraph(base, dir)
    val (_, edges0) = AnnSearch.loadKnnGraph(spark, dir)
    val before = edges0.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    AnnSearch.appendToKnnGraph(spark, batch, dir)
    val (nodes1, edges1) = AnnSearch.loadKnnGraph(spark, dir)
    assert(nodes1.count() === 140)
    val after = edges1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.subsetOf(after), "append must never drop a stored edge")
    val batchIds = (120L until 160L).toSet
    // (a) batch out-edges == rebuild restricted to batch sources
    val rebuilt = AnnSearch.knnGraphOf(
      base.unionByName(batch).select(col("vec_id"), col("v")), 3)
      .filter(col("src") >= 120)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.filter(p => batchIds(p._1)) === rebuilt)
    // (b) stored-source additions are reverse links into the batch only
    val gained = (after -- before).filterNot(p => batchIds(p._1))
    assert(gained.forall(p => batchIds(p._2)),
      s"stored nodes may only gain edges INTO the batch: $gained")
    // (c) id clash raises
    val err = intercept[IllegalArgumentException] {
      AnnSearch.appendToKnnGraph(spark, batch, dir)
    }
    assert(err.getMessage.contains("already present"))
    // (d) a query identical to an appended vector finds it via the
    // loaded graph (the reverse links make the new region reachable)
    val q = batch.filter(col("vec_id") === 130)
      .select((col("vec_id") + 1000000L).as("q_id"), col("v").as("q_v"))
    val t = graft.core.Ckpt.truncate(base.unionByName(batch)
      .select(col("vec_id").as("t_id"), col("v").as("t_v")))
    val hit = AnnSearch.graphSearchOf(q, t, beam = 4, hops = 3, k = 3,
        edges0 = Some(graft.core.Ckpt.truncate(edges1.select(col("src"), col("dst")))))
      .filter(col("t_id") === 130 && col("rn") === 1)
    assert(hit.count() === 1, "the appended vector must be its own twin's top hit")
  }

  test("knn-graph tombstone hygiene: rebuild clears stale tombstones; re-append of a retracted id is rejected until compaction") {
    // round-16 ADVICE pins: (a) a retracted-then-rebuilt id must be
    // LIVE — saveKnnGraph clears pending tombstones (they describe a
    // graph that no longer exists; left in place they would anti-join
    // freshly built nodes out of the live view); (b) appending a
    // tombstoned-but-uncompacted id must raise the compact-first error,
    // NOT the already-present error and NOT silently append a row the
    // tombstone hides and the next compaction deletes; (c) after
    // compactKnnGraph the re-append succeeds; (d) rebuildKnnGraph (the
    // crash-safe maintenance rebuild) also clears tombstones and leaves
    // the same live view a fresh save would.
    val dir = java.nio.file.Files.createTempDirectory("knngraphtomb").toString
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), graft.core.Distance.asDouble(col("embedding")).as("v"))
    val base = e.filter(col("vec_id") >= 20 && col("vec_id") < 80)
    AnnSearch.saveKnnGraph(base, dir)
    val gone = base.filter(col("vec_id") < 25).select(col("vec_id"))
    AnnSearch.removeFromKnnGraph(gone, dir)
    assert(AnnSearch.loadKnnGraph(spark, dir)._1.count() === 55)
    // (b) tombstoned id re-append → the compact-first error
    val err = intercept[IllegalArgumentException] {
      AnnSearch.appendToKnnGraph(spark, base.filter(col("vec_id") === 22), dir)
    }
    assert(err.getMessage.contains("compactKnnGraph"))
    // (a) rebuild over ids that include retracted ones → all live again
    AnnSearch.saveKnnGraph(base, dir)
    assert(AnnSearch.loadKnnGraph(spark, dir)._1.count() === 60,
      "rebuild must clear stale tombstones — retracted-then-rebuilt ids are live")
    // (c) retract again, compact, then the re-append is legal
    AnnSearch.removeFromKnnGraph(gone, dir)
    AnnSearch.compactKnnGraph(spark, dir)
    AnnSearch.appendToKnnGraph(spark, base.filter(col("vec_id") === 22), dir)
    val (nodes2, _) = AnnSearch.loadKnnGraph(spark, dir)
    assert(nodes2.filter(col("vec_id") === 22).count() === 1)
    // (d) crash-safe rebuild path: same live view as a fresh save
    AnnSearch.removeFromKnnGraph(gone, dir)
    AnnSearch.rebuildKnnGraph(graft.core.Ckpt.truncate(
      AnnSearch.loadKnnGraph(spark, dir)._1), dir)
    val (nodes3, edges3) = AnnSearch.loadKnnGraph(spark, dir)
    assert(nodes3.count() === 55,
      "rebuild input was the live view: 55 compacted + 1 re-append - 1 re-retracted")
    assert(edges3.join(nodes3.select(col("vec_id").as("src")), Seq("src"), "left_anti").count() === 0,
      "every edge source is a live node after rebuildKnnGraph")
  }

  test("graphSearch beam knob: result-set bound holds, distances valid, wide beam helps in aggregate") {
    // NOTE what is and is not a theorem here: within ONE search the beam
    // only improves hop over hop (candidates ⊇ beam, the min survives
    // top-k), but ACROSS beam widths no per-query dominance holds — a
    // narrow beam can retain a candidate the wide beam's larger pool
    // ranks out whose neighborhood happens to win (round-13 review: the
    // first version of this test asserted per-query wide ≤ narrow, a
    // non-invariant that only held by fixture luck).
    def best(beam: Int): Map[Long, Double] =
      graft.llm.AnnSearch.graphSearch(spark, sfDir, beam = beam)
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val narrow = best(2)
    val wide = best(8)
    assert(narrow.keySet === wide.keySet, "every query answers at both widths")
    (narrow.values ++ wide.values).foreach(d => assert(d >= 0.0 && d <= 2.0 + 1e-9))
    // aggregate (not per-query) improvement, with 5% slack (round-14
    // ADVICE): the per-query counterexample construction above applies
    // to the exact aggregate too — it holds on today's deterministic
    // fixtures but is not a theorem, so a strict <= would turn a future
    // fixture regeneration into a spurious failure. The 1.05 band still
    // catches the knob inverting (a wide beam that is materially worse)
    assert(wide.values.sum <= narrow.values.sum * 1.05 + 1e-9,
      s"wide ${wide.values.sum} vs narrow ${narrow.values.sum}")
  }

  test("appendToIvfIndex with caller-supplied assignment writes the identical cells table") {
    // round 16: the streamed vec funnel hands the rn = 1 probe slice to
    // the append — the stored cells must be byte-equivalent to the
    // self-computed path (a wrong cell corrupts every later search)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("t_id"), graft.core.Distance.asDouble(col("embedding")).as("t_v"))
    val standing = e.filter(col("t_id") % 5 =!= 1)
    val cent = standing.filter(col("t_id") % 40 === 0)
      .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
    val batch = e.filter(col("t_id") % 5 === 1)
    val d1 = java.nio.file.Files.createTempDirectory("ivfasg1").toString
    val d2 = java.nio.file.Files.createTempDirectory("ivfasg2").toString
    AnnSearch.saveIvfIndex(standing, cent, d1)
    AnnSearch.saveIvfIndex(standing, cent, d2)
    AnnSearch.appendToIvfIndex(spark, batch, d1, checkIds = false)
    val probes = graft.core.Ckpt.truncate(
      AnnSearch.assignCellsMultiRanked(batch,
        spark.read.parquet(s"$d2/centroids"), 2))
    AnnSearch.appendToIvfIndex(spark, batch, d2, checkIds = false,
      assign = Some(probes.filter(col("rn") === 1).select(col("t_id"), col("cell"))))
    graft.core.Ckpt.release(probes)
    def cells(d: String) = collectSet(spark.read.parquet(s"$d/cells")
      .select(col("t_id"), col("cell").cast("long")))
    assert(cells(d1) === cells(d2))
    // a missing id fails fast instead of silently dropping the row
    val bad = intercept[Exception] {
      AnnSearch.appendToIvfIndex(spark, batch, d2, checkIds = false,
        assign = Some(batch.limit(1).select(col("t_id"), lit(0L).as("cell"))))
    }
    assert(bad.getMessage != null)
  }
}
