package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Ckpt.TruncateSyntax
import graft.llm.{AnnSearch, Dedup}

/** Scale experiment for the LLM-pipeline families (complement of
  * `ScaleProbe`, which covers the kNN kernel): MinHash-LSH dedup over an
  * N-doc synthetic corpus with planted near-duplicates, and IVF ANN over
  * an N-vector synthetic embedding table.
  *
  * usage: tools/run.sh graft.tools.PipelineScaleProbe [nDocs] [nVecs] [nQueries]
  *
  * Corpus: 80-token docs over a 10k-word vocabulary, hash-seeded (no RNG
  * state). Every 20th doc is a copy of its predecessor with the last
  * token replaced — a planted ~J=0.975 near-dup the LSH pass must find.
  */
object PipelineScaleProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 50000
    val nVecs = if (args.length > 1) args(1).toInt else 100000
    val nQ = if (args.length > 2) args(2).toInt else 1000
    val spark = graft.Session()

    // ---- dedup: MinHash-LSH over N docs --------------------------------
    val docPath = s"/tmp/scale_docs_$nDocs"
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        expr("IF(id % 20 = 1, id - 1, id)").as("base"),
        expr("IF(id % 20 = 1, 1, 0)").as("mut"))
      .select(col("doc_id"), expr(
        """concat(
          |  array_join(transform(sequence(1, 79), j ->
          |    concat('w', cast(abs(hash(concat(cast(base AS string), ':', cast(j AS string)))) % 10000 AS string))), ' '),
          |  ' ', IF(mut = 1, concat('m', cast(doc_id AS string)),
          |    concat('w', cast(abs(hash(concat(cast(base AS string), ':80'))) % 10000 AS string))))""".stripMargin)
        .as("text"))
      .write.mode("overwrite").parquet(docPath)
    val docs = spark.read.parquet(docPath)

    var t0 = System.nanoTime()
    val dupPairs = Dedup.minhashLshPairs(spark, docs).count()
    val tDedup = (System.nanoTime() - t0) / 1e9
    val planted = if (nDocs >= 2) (nDocs + 18) / 20 else 0 // ids 1,21,41,… < nDocs
    println(f"[scale] minhash_lsh nDocs=$nDocs pairs=$dupPairs (planted≈$planted) " +
      f"wall=$tDedup%.1f s (${nDocs / tDedup}%.0f docs/s)")

    // same pipeline at production signature width (64 hashes, 16×4
    // banding): recall at the planted J≈0.975 pairs should match or beat
    // the 8-hash default; wall grows with the vocab×seeds hash build only
    t0 = System.nanoTime()
    val dupPairs64 = Dedup.minhashLshPairs(spark, docs, numHashes = 64, rowsPerBand = 4).count()
    val tDedup64 = (System.nanoTime() - t0) / 1e9
    println(f"[scale] minhash_lsh64 nDocs=$nDocs pairs=$dupPairs64 (planted≈$planted) " +
      f"wall=$tDedup64%.1f s (${nDocs / tDedup64}%.0f docs/s)")

    // ---- dedup: banded SimHash over N docs -----------------------------
    // the banded equi-join's candidate count is the scale argument: it
    // must sit orders of magnitude under the N²/2 pairs the old cross
    // join materialized
    val allPairsCount = nDocs.toLong * (nDocs - 1) / 2
    // width sweep: 16-bit/4-band (the declared/oracle constants) vs the
    // production 64-bit/8-band. CANDIDATES (band collisions before the
    // exact Hamming verify) is the number banding width controls — at
    // 16 bits random docs collide in a 4-bit band with p = 1/16 per
    // band, so candidates grow ~N²/4 (a quadratic tax the verify pays);
    // at 64 bits an 8-bit band collides at p = 1/256 and candidates
    // stay ≈ true near-dups. Planted-pair recall must hold at both.
    for ((bits, bands) <- Seq((16, 4), (64, 8))) {
      t0 = System.nanoTime()
      // audit mode (cap = 0): the width sweep measures what BANDING WIDTH
      // alone does to candidates — the round-10 default cap would mask
      // the 16-bit saturation this table exists to show
      val simSigs = Dedup.simhashSigs(spark, docs, simBits = bits).persist()
      val nCand = Dedup.simhashBandCandidates(spark, simSigs, bits, bands,
        maxBandBucket = 0).count()
      val simPairs = Dedup.simhashBandedPairs(spark, simSigs,
        maxHamming = bands - 1, simBits = bits, simBands = bands,
        maxBandBucket = 0)
      val planted2 = simPairs.filter(col("doc_id2") === col("doc_id1") + 1 &&
        col("doc_id2") % 20 === 1).count()
      val nPairs = simPairs.count()
      val tSim = (System.nanoTime() - t0) / 1e9
      simSigs.unpersist()
      println(f"[scale] simhash_banded${bits} nDocs=$nDocs cand=$nCand%,d " +
        f"pairs=$nPairs planted_found=$planted2/$planted " +
        f"(cross-join would scan $allPairsCount%,d pairs) wall=$tSim%.1f s")
    }

    // ---- dedup: hot-bucket cap on a boilerplate-heavy corpus -----------
    // Every real corpus has degenerate documents (empty pages, templates)
    // that share ALL band signatures: one bucket of B identical docs is
    // B² candidate pairs before any verify. 20 % boilerplate here — the
    // capped run excludes the degenerate bucket (those docs belong to
    // exact dedup) while keeping every planted near-dup.
    val nBoil = math.min(nDocs, 10000)
    val boilPath = s"/tmp/scale_boil_$nBoil"
    spark.range(nBoil)
      .select(col("id").as("doc_id"),
        expr("IF(id % 20 = 1, id - 1, id)").as("base"),
        expr("IF(id % 20 = 1, 1, 0)").as("mut"))
      .select(col("doc_id"), expr(
        s"""IF(doc_id < ${nBoil / 5},
          |  'lorem ipsum template boilerplate page about contact terms privacy',
          |  concat(
          |    array_join(transform(sequence(1, 79), j ->
          |      concat('w', cast(abs(hash(concat(cast(base AS string), ':', cast(j AS string)))) % 10000 AS string))), ' '),
          |    ' ', IF(mut = 1, concat('m', cast(doc_id AS string)),
          |      concat('w', cast(abs(hash(concat(cast(base AS string), ':80'))) % 10000 AS string)))))""".stripMargin)
        .as("text"))
      .write.mode("overwrite").parquet(boilPath)
    val boilDocs = spark.read.parquet(boilPath)
    // uncapped = audit mode (maxBandBucket = 0); the default cap is ON
    // since round 9 — this leg is the recall-cost evidence behind that
    // default. Decomposition: j = 1.0 pairs are identical members of
    // the degenerate bucket (exact dedup's job — dedupExact collapses
    // them without pair enumeration); j < 1.0 pairs are the GENUINE
    // near-dups LSH exists for, and the cap must not lose them.
    def pairBreakdown(maxBucket: Int): (Long, Long, Double) = {
      val t = System.nanoTime()
      val p = Dedup.minhashLshPairs(spark, boilDocs, maxBandBucket = maxBucket)
        .persist()
      val exact = p.filter(col("jaccard") >= 1.0).count()
      val near = p.filter(col("jaccard") < 1.0).count()
      val w = (System.nanoTime() - t) / 1e9
      p.unpersist()
      (exact, near, w)
    }
    val (exUncap, nearUncap, tUncap) = pairBreakdown(0)
    val (exCap, nearCap, tCap) = pairBreakdown(Dedup.DefaultMaxBandBucket)
    val (exCap100, nearCap100, tCap100) = pairBreakdown(100)
    println(f"[scale] minhash_hotbucket nDocs=$nBoil boiler=${nBoil / 5} " +
      f"(degenerate bucket alone = ${(nBoil / 5).toLong * (nBoil / 5 - 1) / 2}%,d pairs): " +
      f"uncapped exact=$exUncap near=$nearUncap in $tUncap%.1f s; " +
      f"cap(${Dedup.DefaultMaxBandBucket}) exact=$exCap near=$nearCap in $tCap%.1f s; " +
      f"cap(100) exact=$exCap100 near=$nearCap100 in $tCap100%.1f s")

    // ---- dedup: hot-bucket cap on the SimHash path (round 10) ----------
    // the SimHash cap went DEFAULT-ON this round (VERDICT r9 #3); this is
    // the boilerplate-corpus evidence row behind it, mirroring the
    // MinHash round-9 leg: all boilerplate docs share one 64-bit
    // signature → every band bucket holds all of them → B² candidates
    // uncapped; the cap drops that bucket while every planted near-dup
    // (tiny Hamming distance, clean buckets) must survive.
    def simBreakdown(maxBucket: Int): (Long, Long, Double) = {
      val t = System.nanoTime()
      val sigs64 = Dedup.simhashSigs(spark, boilDocs, simBits = 64).persist()
      val p = Dedup.simhashBandedPairs(spark, sigs64, maxHamming = 3,
        simBits = 64, simBands = 8, maxBandBucket = maxBucket).persist()
      val exact = p.filter(col("hamming") === 0).count()
      val near = p.filter(col("hamming") > 0).count()
      val w = (System.nanoTime() - t) / 1e9
      p.unpersist(); sigs64.unpersist()
      (exact, near, w)
    }
    val (sExUncap, sNearUncap, sTUncap) = simBreakdown(0)
    val (sExCap, sNearCap, sTCap) = simBreakdown(Dedup.DefaultMaxBandBucket)
    println(f"[scale] simhash_hotbucket nDocs=$nBoil boiler=${nBoil / 5}: " +
      f"uncapped ham0=$sExUncap near=$sNearUncap in $sTUncap%.1f s; " +
      f"cap(${Dedup.DefaultMaxBandBucket}) ham0=$sExCap near=$sNearCap in $sTCap%.1f s")

    // ---- dedup: persisted LSH index vs union re-pair (round 10) --------
    // incremental recuration: 90 % of the corpus indexed once, the 10 %
    // "daily batch" deduped against it. The comparison a pipeline owner
    // makes: per-batch wall through the index vs re-running the batch
    // pipeline over the full union (the no-index alternative). Every
    // planted pair (i−1, i) with i ≡ 1 (mod 20) crosses the %10 split,
    // so cross-pair counts must agree between the two paths.
    val idxPath = s"/tmp/scale_lshidx_$nDocs"
    val indexedDocs = docs.filter(col("doc_id") % 10 =!= 0)
    val batchDocs = docs.filter(col("doc_id") % 10 === 0)
    t0 = System.nanoTime()
    Dedup.saveLshIndex(indexedDocs, idxPath)
    val tIdxBuild = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nCross = Dedup.nearDupsAgainstIndex(spark, idxPath, batchDocs).count()
    val tIncr = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nUnionCross = Dedup.minhashLshPairs(spark, docs)
      .filter((col("doc_id1") % 10 === 0) =!= (col("doc_id2") % 10 === 0))
      .count()
    val tUnion = (System.nanoTime() - t0) / 1e9
    println(f"[scale] lsh_index nDocs=$nDocs indexed=${nDocs * 9 / 10} batch=${nDocs / 10}: " +
      f"build=$tIdxBuild%.1f s once, incremental=$tIncr%.1f s/batch " +
      f"(cross=$nCross) vs union re-pair=$tUnion%.1f s (cross=$nUnionCross)")
    assert(nearCap100 == nearUncap && (nearCap == nearUncap),
      s"hot-bucket cap lost genuine near-dup pairs: uncapped $nearUncap, " +
        s"capped $nearCap / $nearCap100 — recall loss must be confined to " +
        "the degenerate bucket's identical members")

    // ---- ANN: IVF over N vectors ---------------------------------------
    val vecPath = s"/tmp/scale_vecs_$nVecs"
    spark.range(nVecs)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> sin(id * 131 + i))").as("v"))
      .write.mode("overwrite").parquet(vecPath)
    val vecs = spark.read.parquet(vecPath)
    val nCells = math.max(32, nVecs / 1000) // ~1k vectors per cell
    val q = vecs.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val t = vecs.filter(col("vec_id") >= nQ)
      .select(col("vec_id").as("t_id"), col("v").as("t_v"))
    // max(1, …): nVecs < nCells would make the stride 0 and the modulo
    // NULL, silently emptying the centroid set (recall NaN instead of a
    // loud failure)
    val cent = vecs.filter(col("vec_id") >= nQ &&
        col("vec_id") % math.max(1L, nVecs.toLong / nCells) === 0)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))

    t0 = System.nanoTime()
    val ivf = AnnSearch.ivfSearch(q, t, cent, k = 10, nprobe = 4)
      .select(col("q_id"), col("t_id")).persist()
    val ivfRows = ivf.count()
    val tIvf = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val brute = graft.core.Knn.knn(
      q.select(col("q_id").as("vec_id"), col("q_v").as("v")),
      t.select(col("t_id").as("vec_id"), col("t_v").as("v")), 10)
      .select(col("q_id"), col("t_id")).persist()
    val bruteRows = brute.count()
    val tBrute = (System.nanoTime() - t0) / 1e9
    // recall: an approximate method's wall time means nothing without it
    val hits = ivf.join(brute, Seq("q_id", "t_id"), "left_semi").count()
    val recall = hits.toDouble / bruteRows
    println(f"[scale] ann nVecs=$nVecs nQ=$nQ cells≈$nCells ivf=$ivfRows rows in $tIvf%.1f s; " +
      f"brute=$bruteRows rows in $tBrute%.1f s (speedup ${tBrute / tIvf}%.1fx, recall $recall%.3f)")

    // ---- ANN: IVF recall-vs-nprobe trade --------------------------------
    // the number a deployment tunes: each extra probe cell scans ~1/cells
    // more of the corpus and recovers the neighbors whose cell the query
    // didn't land in — recall should rise monotonically toward the brute
    // baseline while wall grows ~linearly in nprobe
    for (np <- Seq(1, 2, 3)) {
      t0 = System.nanoTime()
      val r = AnnSearch.ivfSearch(q, t, cent, k = 10, nprobe = np)
        .select(col("q_id"), col("t_id")).persist()
      val nHits = r.join(brute, Seq("q_id", "t_id"), "left_semi").count()
      val tNp = (System.nanoTime() - t0) / 1e9
      r.unpersist()
      println(f"[scale] ann_nprobe nVecs=$nVecs cells≈$nCells nprobe=$np " +
        f"recall=${nHits.toDouble / bruteRows}%.3f wall=$tNp%.1f s")
    }

    // ---- ANN: persisted index vs inline (round-9) -----------------------
    // build-once/search-many: the inline path re-assigns the corpus to
    // cells on EVERY search (a |T|×C distance stream); the persisted
    // index pays assignment once at build time and each search reads the
    // cell-partitioned parquet. Measured: per-search wall drops by
    // roughly the assignment cost; results bit-identical.
    {
      val idxPath = s"/tmp/scale_ivfidx_$nVecs"
      t0 = System.nanoTime()
      AnnSearch.saveIvfIndex(t, cent, idxPath)
      val tBuild = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val rIdx = AnnSearch.ivfSearchIndexed(spark, idxPath, q, k = 10, nprobe = 4)
        .select(col("q_id"), col("t_id")).persist()
      val nIdx = rIdx.count()
      val tIdx = (System.nanoTime() - t0) / 1e9
      val sameRows = rIdx.join(ivf, Seq("q_id", "t_id"), "left_semi").count()
      rIdx.unpersist()
      println(f"[scale] ann_indexed nVecs=$nVecs build=$tBuild%.1f s " +
        f"search_indexed=$tIdx%.1f s vs inline=$tIvf%.1f s " +
        f"(rows $nIdx, ${sameRows}/${ivfRows} shared with inline)")
      assert(nIdx == ivfRows && sameRows == ivfRows,
        "indexed search must be bit-identical to the inline path")
    }

    // ---- ANN: PQ/ADC over the same vectors ------------------------------
    // the compression path: encode once (corpus pass vs a broadcast
    // 4×64 codebook), then distance = 4 table lookups per pair instead
    // of a 64-element fold — recall printed alongside, as always
    t0 = System.nanoTime()
    val pq = AnnSearch.pqSearch(
      q.select(col("q_id"), col("q_v").as("v")),
      t.select(col("t_id"), col("t_v").as("v")),
      t.filter(col("t_id") < nQ + 64).select((col("t_id") - nQ).as("j"), col("t_v").as("v")),
      m = 4, k = 10)
      .select(col("q_id"), col("t_id")).persist()
    val pqRows = pq.count()
    val tPq = (System.nanoTime() - t0) / 1e9
    val pqHits = pq.join(brute, Seq("q_id", "t_id"), "left_semi").count()
    println(f"[scale] ann_pq nVecs=$nVecs nQ=$nQ k=64 m=4 pq=$pqRows rows in $tPq%.1f s " +
      f"(speedup ${tBrute / tPq}%.1fx vs brute, recall ${pqHits.toDouble / bruteRows}%.3f)")

    // ---- ANN: PQ shortlist + exact rerank -------------------------------
    // the production two-stage shape: the compressed scan absorbs its
    // quantization error into a wide shortlist, the exact pass runs on
    // |Q|·shortlist pairs only — recall should recover toward exact
    t0 = System.nanoTime()
    val rr = AnnSearch.pqRerank(
      q.select(col("q_id"), col("q_v").as("v")),
      t.select(col("t_id"), col("t_v").as("v")),
      t.filter(col("t_id") < nQ + 64).select((col("t_id") - nQ).as("j"), col("t_v").as("v")),
      m = 4, shortlist = 100, k = 10)
      .select(col("q_id"), col("t_id")).persist()
    val rrRows = rr.count()
    val tRr = (System.nanoTime() - t0) / 1e9
    val rrHits = rr.join(brute, Seq("q_id", "t_id"), "left_semi").count()
    println(f"[scale] ann_rerank nVecs=$nVecs nQ=$nQ shortlist=100 rr=$rrRows rows in $tRr%.1f s " +
      f"(recall ${rrHits.toDouble / bruteRows}%.3f vs raw-PQ ${pqHits.toDouble / bruteRows}%.3f)")

    // ---- ANN: IVF-PQ composite ------------------------------------------
    // the production index: nprobe cells bound WHICH codes each query
    // scans, ADC bounds the arithmetic per code. The ADC pair count is
    // the scale lever — full-scan PQ pays |Q|·|T| pairs no matter how
    // cheap each pair is; the cell join admits only Σ probed-cell sizes.
    // Recall is capped by the raw-PQ ceiling (same codes), so the
    // numbers to read are pairs and wall at recall ≈ the PQ baseline.
    val cbPq = t.filter(col("t_id") < nQ + 64)
      .select((col("t_id") - nQ).as("j"), col("t_v").as("v"))
    for (np <- Seq(1, 4)) {
      t0 = System.nanoTime()
      val ip = AnnSearch.ivfPqSearch(
        q.select(col("q_id"), col("q_v").as("v")),
        t.select(col("t_id"), col("t_v").as("v")),
        cent, cbPq, m = 4, k = 10, nprobe = np)
        .select(col("q_id"), col("t_id")).persist()
      val ipRows = ip.count()
      val tIp = (System.nanoTime() - t0) / 1e9
      val ipHits = ip.join(brute, Seq("q_id", "t_id"), "left_semi").count()
      ip.unpersist()
      val cand = AnnSearch.assignCellsMulti(
          q.select(col("q_id").as("t_id"), col("q_v").as("t_v")), cent, np)
        .select(col("t_id").as("q_id"), col("cell"))
        .join(AnnSearch.assignCells(t, cent), "cell").count()
      println(f"[scale] ann_ivfpq nVecs=$nVecs nQ=$nQ cells≈$nCells nprobe=$np rows=$ipRows " +
        f"adc_pairs=$cand%,d (full-scan PQ pays ${nQ.toLong * (nVecs - nQ)}%,d) " +
        f"wall=$tIp%.1f s recall=${ipHits.toDouble / bruteRows}%.3f " +
        f"(raw-PQ ceiling ${pqHits.toDouble / bruteRows}%.3f)")
    }

    // ---- ANN: PQ at production width (m=8, K=256) -----------------------
    // the declared row's 4×64 codebook is oracle-sized; this leg runs
    // the width real deployments use (8 subspaces × 256 codewords = one
    // byte per code, 8 bytes per vector). Encode cost is |T|·m·K
    // subspace distances — the corpus pass the map-only design keeps
    // shuffle-free; recall on uniform vectors stays the documented
    // worst case, so the number that matters here is the wall.
    t0 = System.nanoTime()
    val pqW = AnnSearch.pqSearch(
      q.select(col("q_id"), col("q_v").as("v")),
      t.select(col("t_id"), col("t_v").as("v")),
      t.filter(col("t_id") < nQ + 256).select((col("t_id") - nQ).as("j"), col("t_v").as("v")),
      m = 8, k = 10)
      .select(col("q_id"), col("t_id")).persist()
    val pqWRows = pqW.count()
    val tPqW = (System.nanoTime() - t0) / 1e9
    val pqWHits = pqW.join(brute, Seq("q_id", "t_id"), "left_semi").count()
    println(f"[scale] ann_pq_wide nVecs=$nVecs nQ=$nQ K=256 m=8 pq=$pqWRows rows in $tPqW%.1f s " +
      f"(recall ${pqWHits.toDouble / bruteRows}%.3f vs 4x64 ${pqHits.toDouble / bruteRows}%.3f)")

    // ---- semantic dedup: multi-probe recall on straddling pairs ---------
    // SemDeDup's documented recall loss is the near-dup pair whose two
    // vectors land in DIFFERENT cells (the single-cell scan never
    // compares them). Plant one near-dup per 10 vectors (tiny additive
    // perturbation -> cosine dist ~1e-3 vs ~1 for random pairs) and
    // measure planted-pair recall at nprobe = 1 vs 2 vs 3. Straddling
    // happens naturally: a perturbed vector near a cell boundary flips
    // its argmin centroid.
    val sdPath = s"/tmp/scale_sem_$nVecs"
    spark.range(nVecs)
      .select(col("id").as("t_id"),
        expr("IF(id % 10 = 1, id - 1, id)").as("base"),
        expr("IF(id % 10 = 1, 1, 0)").as("mut"))
      .select(col("t_id"), expr(
        "transform(sequence(1, 64), i -> sin(base * 131 + i) + mut * 0.05 * sin(t_id * 7 + i))")
        .as("t_v"))
      .write.mode("overwrite").parquet(sdPath)
    val sem = spark.read.parquet(sdPath)
    val semCent = sem.filter(col("t_id") % math.max(1L, nVecs.toLong / nCells) === 0)
      .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
    val plantedSem = sem.filter(col("t_id") % 10 === 1).count()
    for (np <- Seq(1, 2, 3)) {
      t0 = System.nanoTime()
      val found = AnnSearch.semanticDupPairs(sem, semCent, eps = 0.05, nprobe = np)
        .filter(col("id2") === col("id1") + 1 && col("id2") % 10 === 1).count()
      val tSd = (System.nanoTime() - t0) / 1e9
      println(f"[scale] semantic_straddle nVecs=$nVecs cells≈$nCells nprobe=$np " +
        f"recall=$found/$plantedSem (${100.0 * found / plantedSem}%.1f%%) wall=$tSd%.1f s")
    }

    // ---- blocked edit-distance: fixed-cardinality vs data-tracking key --
    // the declared similarity_editdist row blocks on a 25-value brand
    // key — cardinality that does NOT grow with the table, so blocks
    // grow linearly and candidate pairs Σ|block|² ~ N²/25 QUADRATICALLY.
    // A prefix-style key whose cardinality tracks the data (here ~N/100
    // distinct first tokens → ~100-member blocks at every N) keeps
    // candidates ~100·N LINEAR. Same verify, same join shape — the key
    // alone decides which curve the operator rides; every 10× in N
    // should widen the candidate ratio another ~10×.
    for (n <- Seq(nDocs / 2, nDocs * 5)) {
      val firstTok = s"concat('tok', cast(abs(hash(cast(id AS string))) % ${math.max(1, n / 100)} AS string))"
      val restToks = "array_join(transform(sequence(1, 4), j -> " +
        "concat('w', cast(abs(hash(concat(cast(id AS string), '#', cast(j AS string)))) % 50 AS string))), ' ')"
      val ents = spark.range(n)
        .select(col("id"),
          expr(s"concat($firstTok, ' ', $restToks)").as("name"),
          expr("concat('Brand#', cast(id % 25 AS string))").as("brand"))
        .truncated()
      val brand = ents.select(col("id"), col("name"), col("brand").as("blk"))
      val prefix = ents.select(col("id"), col("name"),
        substring_index(col("name"), " ", 1).as("blk"))
      def candidates(df: org.apache.spark.sql.DataFrame): Long =
        df.select(col("blk")).groupBy("blk").agg(count(lit(1)).as("c"))
          // Column./ is DOUBLE division — halve the long sum instead
          .agg(sum(col("c") * (col("c") - 1))).head().getLong(0) / 2
      val (candB, candP) = (candidates(brand), candidates(prefix))
      t0 = System.nanoTime()
      val pairsP = graft.rel.Queries.editDistBlocked(prefix, maxDist = 8,
        maxPerBlock = 100000).count()
      val tP = (System.nanoTime() - t0) / 1e9
      // brand key timed only while its candidate count stays tractable —
      // the POINT of the leg is that it stops being tractable
      val brandWall = if (candB <= 200L * 1000 * 1000) {
        t0 = System.nanoTime()
        graft.rel.Queries.editDistBlocked(brand, maxDist = 8,
          maxPerBlock = 100000000).count()
        f"${(System.nanoTime() - t0) / 1e9}%.1f s"
      } else "skipped (quadratic)"
      println(f"[scale] editdist n=$n cand_brand=$candB%,d cand_prefix=$candP%,d " +
        f"(ratio ${candB.toDouble / candP}%.0fx) prefix_wall=$tP%.1f s pairs=$pairsP " +
        f"brand_wall=$brandWall")
    }
    spark.stop()
  }
}
