package graft.run

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{AnnSearch, Curation, Dedup, TextAnalysis}

/** Incremental-recuration runner (round 11, VERDICT r10 #1 — "the
  * pipeline a recurring crawl actually runs"): where `RunCurate`
  * re-curates a FULL corpus, this main takes a NEW batch and the
  * standing corpus's PERSISTED LSH index and runs only the delta work:
  *
  *  1. digest diff — drop batch docs that are byte-identical refreshes
  *     of indexed docs (the `corpus_snapshot_diff` md5 discipline;
  *     digests ride the join, never payloads),
  *  2. quality gate — the published Gopher rules on what's left,
  *  3. intra-batch exact dedup (keep-min per digest),
  *  4. near-dedup AGAINST THE INDEX — `nearDupsAgainstIndex`: new-batch
  *     signatures equi-join the STORED signature table, so the cost is
  *     O(batch + cross collisions), never index × index (the round-10
  *     incremental primitive, finally composed),
  *  5. 13-gram decontamination of the delta against the corpus eval
  *     slice (doc_id ≡ 0 mod 10 — the `decontaminate_13` convention),
  *  6. append survivors to the corpus parquet AND the index
  *     (`appendToLshIndex`), so the next crawl's batch near-dedups
  *     against them.
  *
  * Emits the per-stage DELTA FUNNEL (the `RunCurate` report shape) and
  * the updated corpus/index. Every stage reuses declared operators'
  * builders; the batch-vs-index semantics are spec-reconciled against
  * full recuration over the union restricted to cross pairs
  * (RunIngestSpec), and the same funnel shape is oracle-gated as the
  * declared `ingest_manifest` row.
  *
  * ```
  * tools/run.sh graft.run.RunIngest <sfdir> <outdir> [batchMod=5] [batchRem=3] [dupJaccard=0.8] [semanticEps=0.75]
  * ```
  *
  * Round 12 adds the EMBEDDING leg of the same loop (VERDICT r11 #3):
  * the batch's vectors near-dedup against the persisted IVF index
  * (`semanticDupsAgainstIndex`, nprobe = 2) and survivors append via
  * `appendToIvfIndex` — one `ingestVecDelta`, the unit the vector
  * stream runs per micro-batch.
  *
  * RECURRING mode: if `outdir` already holds an index from a previous
  * run, it is REUSED (with the appended corpus as the standing state)
  * instead of rebuilt — run N's batch near-dedups against every
  * survivor run N−1 appended, which is the recurring-crawl loop.
  * Successive runs must use distinct batches (fresh doc_ids — the
  * `nearDupsAgainstIndex` disjointness precondition).
  *
  * The batch here is carved from the documents table by doc_id mod so
  * the run is self-contained and deterministic; a production crawl
  * passes its own batch parquet — the stages never look at how the
  * batch was chosen. Scale shape: one batch-sized pass per stage plus
  * the index cross-collision join; the standing corpus is touched only
  * through its signature table and the candidate-filtered stored-docs
  * scan.
  */
object RunIngest {

  /** Sig-file count above which an ingest run compacts the LSH index
    * (one listing per run; compaction sizes outputs to 128 MiB files).
    */
  private[run] val CompactFileThreshold = 64

  /** ONE ingest delta against the standing state already on disk at
    * `outDir` (LSH index + partitioned corpus): the text funnel —
    * id-collision guard → digest diff → Gopher gate → exact keep-min →
    * near-dedup vs the persisted index → 13-gram decontam — plus the
    * delta write and the corpus/index appends. This is the unit a
    * recurring crawl runs PER BATCH: `run` invokes it once after its
    * bootstrap; `RunIngestStream` invokes it per micro-batch (the
    * streaming crawl loop — batch N+1 within one stream near-dedups
    * against batch N's appended survivors). Returns the per-stage
    * funnel and the kept count. Crash-recovery note: the appends run
    * delta-file → corpus → index; a crash between the two appends
    * leaves the index one delta behind — `$outDir/delta` IS the
    * recovery artifact — the entry reconcile (`Dedup.reconcileLshIndex`,
    * round 13) auto-replays the missing piece from it — and a
    * REPLAYED batch is idempotent because the id_new guard drops every
    * already-appended doc_id before any write.
    */
  private[run] def ingestDelta(spark: SparkSession, batch0: DataFrame,
      outDir: String, nearDupThreshold: Double): (Seq[StageResult], Long) = {
    val indexPath = s"$outDir/index"
    // entry reconcile (round-12 ADVICE): if a previous run crashed
    // between the corpus append and the index append, the index is one
    // delta behind and the replay guard below would never repair it —
    // auto-replay the missing piece from the preserved delta artifact.
    // On a healthy index this costs two column-pruned id scans.
    if (Files.exists(Paths.get(s"$outDir/delta")) &&
        Files.exists(Paths.get(s"$indexPath/sigs"))) {
      val repaired = Dedup.reconcileLshIndex(
        spark.read.parquet(s"$outDir/delta"), indexPath)
      if (repaired > 0)
        println(s"[ingest] reconciled LSH index: re-appended $repaired doc_ids from delta")
    }
    val stages = new Stages
    val standing = stages.persist(spark.read.parquet(s"$outDir/corpus")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars")))

    // Stages 0-3 as ONE annotated pass (round 16, guide §1.2 step 1):
    // each of these four gates only FILTERS batch rows by a predicate
    // that is independent of the other gates' outcomes given its
    // prefix, so the whole prefix funnel is computed as cumulative
    // boolean flags on a single checkpointed frame and the four
    // survivor counts read from ONE aggregate job — previously four
    // persist+count actions, each re-evaluating a progressively longer
    // join chain (~0.9 s/micro-batch of pure scheduling at slice
    // scale, OPTIMIZATION_r16.md change 2). Flag ≡ anti-join equivalences:
    //  - id_new:     left join on unique standing doc_ids; no match ≡
    //                anti-join survivor (null keys match nothing in
    //                both forms).
    //  - digest_new: left join on DISTINCT standing md5(text) — right
    //                side deduped, so no row multiplication.
    //  - quality:    Gopher flags are per-doc pure (word counts over
    //                the doc's own text), so computing them on the
    //                whole batch gives each doc the identical keep bit
    //                the fresh-only frame produced.
    //  - exact:      min(doc_id) per digest AMONG quality survivors as
    //                a window (doc_ids are unique per batch, so the
    //                min-per-group semi-join kept exactly these rows).
    val gq = TextAnalysis.qualityGopherDocs(batch0)
      .select(col("doc_id"), col("keep"))
    val annotated = graft.core.Ckpt.truncate(
      batch0
        .join(standing.select(col("doc_id"), lit(1).as("in_standing")),
          Seq("doc_id"), "left")
        .join(standing.select(md5(col("text")).as("h"), lit(1).as("in_digest"))
          .groupBy(col("h")).agg(max(col("in_digest")).as("in_digest")),
          md5(batch0("text")) === col("h"), "left")
        .join(gq, Seq("doc_id"), "left")
        .withColumn("f_id", col("in_standing").isNull)
        .withColumn("f_digest", col("f_id") && col("in_digest").isNull)
        .withColumn("f_quality", col("f_digest") && coalesce(col("keep"), lit(false)))
        .withColumn("f_exact", col("f_quality") && col("doc_id") ===
          min(when(col("f_quality"), col("doc_id")))
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy(md5(col("text")))))
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"),
          col("f_id"), col("f_digest"), col("f_quality"), col("f_exact")))
    val cnts = stages("batch_in") {
      val r = annotated.agg(
        count(lit(1)).as("n_in"),
        count(when(col("f_id"), 1)).as("n_id"),
        count(when(col("f_digest"), 1)).as("n_digest"),
        count(when(col("f_quality"), 1)).as("n_quality"),
        count(when(col("f_exact"), 1)).as("n_exact")).head()
      (r, r.getAs[Long]("n_in"))
    }
    stages.record("id_new", cnts.getAs[Long]("n_id"), 0.0)
    stages.record("digest_new", cnts.getAs[Long]("n_digest"), 0.0)
    stages.record("quality_gopher", cnts.getAs[Long]("n_quality"), 0.0)
    stages.record("dedup_exact", cnts.getAs[Long]("n_exact"), 0.0)
    val exact = annotated.filter(col("f_exact"))
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    // 4. near-dedup against the PERSISTED index — the incremental path.
    // The returned pair frame is a local checkpoint (eager-fold inside
    // nearDupsAgainstIndex); captured here and released at the END of
    // this delta, after the writes (round-15 ADVICE: a checkpoint is an
    // RDD-level persist that no Dataset unpersist frees, so un-released
    // it pinned one blockset per micro-batch until GC — and releasing
    // before the writes is unsafe because the persisted `near`/`clean`
    // stage frames may recompute through it)
    var nearPairs: DataFrame = null
    // batch signatures built ONCE per delta (round 16): the near-dup
    // pass and the index append both need them; previously each ran its
    // own tokenize+minhash chain over the batch. Checkpointed so the
    // append leg (which runs AFTER the corpus write) reads materialized
    // bytes, not a lineage through the pre-append state.
    var batchSigs: DataFrame = null
    val near = stages.frame("near_dup_vs_index") {
      batchSigs = graft.core.Ckpt.truncate(Dedup.defaultBandSigs(exact))
      nearPairs = Dedup.nearDupsAgainstIndex(spark, indexPath, exact,
        threshold = nearDupThreshold, newSigs = Some(batchSigs))
      val hits = nearPairs.select(col("new_id").as("doc_id")).distinct()
      exact.join(hits, Seq("doc_id"), "left_anti")
    }
    // 5. 13-gram decontamination of the delta vs the corpus eval slice
    //    — the EXPLICIT-eval form, so no batch id residue can ever be
    //    mistaken for the eval set (the decontaminateDocs %10
    //    convention is for the declared rows' residue-safe slices)
    val clean = stages.frame("decontaminate_13") {
      val cont = Curation.decontaminateAgainst(
        near.select(col("doc_id"), col("text")),
        standing.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text")),
        gram = 13).select("doc_id")
      near.join(cont, Seq("doc_id"), "left_anti")
    }

    // 6. append the survivors: corpus parquet + the LSH index. The
    // delta artifact is written UNPARTITIONED: a legitimate all-dropped
    // batch yields an empty-but-schema'd file, not an unreadable dir.
    // The appends below deliberately read the WRITTEN delta back, not
    // `clean` (round-12 ADVICE): `clean`'s lineage reads $outDir/corpus,
    // and persist() is best-effort — if cached partitions are lost
    // after the corpus append, recomputation would re-read the corpus
    // INCLUDING the just-appended survivors, the digest diff would
    // empty the frame, and the index append would silently miss every
    // survivor. Re-reading the delta file severs that lineage: both
    // appends consume bytes already on disk.
    // ALL writes are skipped when the batch carried no id-fresh docs —
    // a pure re-crawl, or a streaming checkpoint REPLAY of an
    // already-appended micro-batch (round-12 review): replaying batch N
    // after a crash between the corpus and index appends would
    // otherwise overwrite $outDir/delta — the recovery artifact — with
    // an EMPTY frame, losing the only copy of the un-indexed survivors.
    // With the guard a replay writes nothing, so the preserved delta
    // can still be re-fed to `Dedup.appendToLshIndex` by the operator.
    if (cnts.getAs[Long]("n_id") > 0) {
      clean.write.mode("overwrite").parquet(s"$outDir/delta")
      val delta = spark.read.parquet(s"$outDir/delta")
      delta.write.mode("append").partitionBy("source").parquet(s"$outDir/corpus")
      // survivors ⊆ exact, so their signatures are the checkpointed
      // batch sigs filtered to the delta's ids (ids from the delta FILE
      // — the lineage-severing rule above holds; sig values are a pure
      // function of text, identical to a recomputation)
      Dedup.appendToLshIndex(delta, indexPath,
        sigs = Some(batchSigs.join(delta.select("doc_id"), Seq("doc_id"), "left_semi")))
    }
    // the stage frames (`standing`, `near`, `clean`) are dead once the
    // delta is on disk
    stages.release()
    if (nearPairs != null) graft.core.Ckpt.release(nearPairs)
    if (batchSigs != null) graft.core.Ckpt.release(batchSigs)
    // the annotated prefix-funnel checkpoint is dead once the counts
    // are read and the delta is on disk — same release point as the
    // pair checkpoint above (one leaked blockset per micro-batch
    // otherwise, the round-15 ADVICE mechanism)
    graft.core.Ckpt.release(annotated)
    (stages.results, stages.results.last.survivors)
  }

  /** ONE vector ingest delta against the persisted IVF index at
    * `outDir/ivf` — the vector twin of `ingestDelta`. `vecs` is the
    * batch as (t_id, t_v). The funnel:
    *   vec_in → vec_id_new (re-crawl guard vs stored ids) →
    *   vec_sem_dup_vs_index (drop batch vectors with a cosine-ε cross
    *   pair against any INDEXED vector — `semanticDupsAgainstIndex`)
    * then the survivors are written to `outDir/delta_vec` and appended
    * (`appendToIvfIndex`, centroids never retrained), so the next batch
    * probes against them. `run` invokes it once after its bootstrap;
    * `RunIngestStream.runVec` invokes it per micro-batch. Returns the
    * per-stage funnel and the kept count.
    *
    * Crash discipline, as the text leg's: delta_vec is the recovery
    * artifact — the entry reconcile re-appends it if a crash landed
    * between its write and the IVF append — and a batch with no id-fresh
    * vector (a re-crawl, or a checkpoint replay) writes nothing and
    * records 0 for every later stage without running it.
    */
  private[run] def ingestVecDelta(spark: SparkSession, vecs: DataFrame,
      outDir: String, eps: Double, nprobe: Int): (Seq[StageResult], Long) = {
    val ivfPath = s"$outDir/ivf"
    if (Files.exists(Paths.get(s"$outDir/delta_vec")) &&
        Files.exists(Paths.get(s"$ivfPath/cells"))) {
      val repaired = AnnSearch.reconcileIvfIndex(spark,
        spark.read.parquet(s"$outDir/delta_vec"), ivfPath)
      if (repaired > 0)
        println(s"[ingest] reconciled IVF index: re-appended $repaired t_ids from delta_vec")
    }
    val stages = new Stages
    stages("vec_in")(((), vecs.count()))
    val fresh = stages.frame("vec_id_new") {
      vecs.join(spark.read.parquet(s"$ivfPath/cells").select(col("t_id")),
        Seq("t_id"), "left_anti")
    }
    if (stages.results.last.survivors > 0) {
      // the batch's cell probes computed ONCE: the semantic-dedup pass
      // reads all nprobe rows, the append reads the rn = 1 slice (the
      // primary cell — identical tie-break to assignCells, spec-pinned).
      // Checkpointed so the append, which runs after the delta_vec
      // write, reads materialized bytes, not a lineage through the
      // pre-append cells table.
      val probes = graft.core.Ckpt.truncate(
        AnnSearch.assignCellsMultiRanked(fresh,
          spark.read.parquet(s"$ivfPath/centroids"), nprobe))
      // the stage's survivors are delta_vec as written; the append reads
      // it back, never a frame whose recomputation reads the appended
      // state (the text leg's lineage-severing rule). checkIds = false:
      // vec_id_new just anti-joined the stored ids.
      stages("vec_sem_dup_vs_index") {
        val dups = AnnSearch.semanticDupsAgainstIndex(spark, ivfPath, fresh,
            eps = eps, nprobe = nprobe,
            probesIn = Some(probes.select(col("t_id"), col("cell"))))
          .select(col("new_id").as("t_id")).distinct()
        fresh.join(dups, Seq("t_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outDir/delta_vec")
        ((), spark.read.parquet(s"$outDir/delta_vec").count())
      }
      AnnSearch.appendToIvfIndex(spark, spark.read.parquet(s"$outDir/delta_vec"),
        ivfPath, checkIds = false,
        assign = Some(probes.filter(col("rn") === 1).select(col("t_id"), col("cell"))))
      graft.core.Ckpt.release(probes)
    } else stages.record("vec_sem_dup_vs_index", 0L, 0.0)
    stages.release()
    (stages.results, stages.results.last.survivors)
  }

  def run(spark: SparkSession, sfDir: String, outDir: String,
      batchMod: Int = 5, batchRem: Int = 3,
      nearDupThreshold: Double = 0.8,
      semanticEps: Double = 0.75): String = {
    Files.createDirectories(Paths.get(outDir))
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    // owns this run's input persists
    val inputs = new Stages
    val corpus = inputs.persist(docs.filter(col("doc_id") % batchMod =!= batchRem))
    val batch = inputs.persist(docs.filter(col("doc_id") % batchMod === batchRem))
    // standing state: a recurring crawl REUSES the index + corpus its
    // previous run left in outDir (that is what makes the loop
    // incremental — run N's batch near-dedups against every survivor
    // run N−1 appended); they are built from scratch only on the first
    // run against an empty outDir, so the runner stays self-contained
    val indexPath = s"$outDir/index"
    val firstRun = !Files.exists(Paths.get(s"$indexPath/sigs"))
    if (firstRun) {
      Dedup.saveLshIndex(corpus, indexPath)
      graft.sources.Sinks.writePartitioned(corpus, s"$outDir/corpus", Seq("source"))
    }
    // the standing corpus for digest diff + eval slice lives ON DISK —
    // on a reuse run it INCLUDES every survivor earlier runs appended
    // (ingestDelta reads it back; the first-run bootstrap above just
    // wrote it, so both modes read the same bytes)
    val corpusN = spark.read.parquet(s"$outDir/corpus").count()
    val (stages, kept) = ingestDelta(spark, batch, outDir, nearDupThreshold)
    // small-file hygiene (round 13, VERDICT r12 "What's missing #2"):
    // every append writes new sig/doc files, so a year of hourly crawls
    // degrades the index scan — compact when the file count crosses the
    // threshold (also physically applies any pending tombstones). The
    // check is one directory listing.
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nSigFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$indexPath/sigs"))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (nSigFiles > CompactFileThreshold) {
      Dedup.compactLshIndex(spark, indexPath)
      println(s"[ingest] compacted LSH index: $nSigFiles sig files over threshold $CompactFileThreshold")
    }

    // ---- embedding leg (round 12, VERDICT r11 #3): the vector side of
    // the same recurring loop, one `ingestVecDelta` at nprobe = 2 (the
    // dedup_semantic2 straddle setting). The standing state is the
    // persisted IVF index, built from the corpus split's vectors on the
    // first run and REUSED afterwards.
    val vecsAll = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("t_id"),
        graft.core.Distance.asDouble(col("embedding")).as("t_v"))
    val vCorpus = inputs.persist(vecsAll.filter(col("t_id") % batchMod =!= batchRem))
    val vBatch = inputs.persist(vecsAll.filter(col("t_id") % batchMod === batchRem))
    val ivfPath = s"$outDir/ivf"
    if (!Files.exists(Paths.get(s"$ivfPath/centroids"))) {
      val cent = vCorpus.filter(col("t_id") % 40 === 0)
        .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
      AnnSearch.saveIvfIndex(vCorpus, cent, ivfPath)
    }
    val (vecStages, vecKept) = ingestVecDelta(spark, vBatch, outDir, semanticEps, nprobe = 2)
    inputs.release()
    val report =
      s"""ingest run report (incremental)
         |sfdir: $sfDir
         |mode: ${if (firstRun) "first-run (index built)" else "reuse (standing index + corpus)"}
         |corpus_docs: $corpusN
         |near_dup_jaccard: $nearDupThreshold
         |batch_in: ${stages.head.survivors}
         |batch_kept: $kept
         |kept_ratio: ${f"${kept.toDouble / math.max(1, stages.head.survivors)}%.4f"}
         |funnel: stage survivors dropped sec
         |${Stages.funnel(stages.head.survivors, stages)}
         |index_appended: $kept docs
         |semantic_eps: $semanticEps
         |vec_in: ${vecStages.head.survivors}
         |vec_kept: $vecKept
         |vec funnel: stage survivors dropped sec
         |${Stages.funnel(vecStages.head.survivors, vecStages)}
         |ivf_appended: $vecKept vecs
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/report.txt"), report)
    report
  }

  /** RETRACTION mode (round 13, VERDICT r12 "What's missing #1"): the
    * delete path through the standing state. `idsPath` is a parquet of
    * ids to take down — a `doc_id` column retracts documents (LSH index
    * tombstones + PHYSICAL rewrite of the corpus, delta, and index
    * tables: the corpus is the payload store, and a takedown's
    * compliance requirement is that the bytes are gone, so retraction
    * compacts immediately rather than waiting for an offline pass); a
    * `vec_id` column retracts vectors (IVF tombstones + cell-table
    * compaction + delta_vec rewrite). After a retract, the NEXT batch
    * ingests against the state that forgot them — a re-crawled
    * near-copy of a retracted doc is appended, not near-dup-dropped
    * (RunIngestSpec proves it; the `ingest_retract` row oracle-gates
    * the same semantics).
    */
  def retract(spark: SparkSession, outDir: String, idsPath: String): String = {
    val report = retractIds(spark, outDir, spark.read.parquet(idsPath), idsPath)
    // the BATCH entry owns the report file (round-13 ADVICE): when the
    // streaming path feeds retractIds per micro-batch, a write here
    // would overwrite the previous batch's numbers — the stream writes
    // its own cumulative stream_retract_report.txt instead
    Files.writeString(Paths.get(s"$outDir/retract_report.txt"), report)
    report
  }

  /** DataFrame entry of the retraction pass — `RunIngestStream.runRetract`
    * feeds each takedown micro-batch here (round 13: takedowns arrive
    * continuously in production; the batch runner above is the same
    * code over a parquet of ids).
    */
  def retractIds(spark: SparkSession, outDir: String, ids0: DataFrame,
      idsLabel: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(conf)
    def swapRewrite(table: String, write: (DataFrame, String) => Unit,
        filter: DataFrame => DataFrame): Long = {
      // repair a crashed previous swap BEFORE the existence probe and
      // the read; swap with CHECKED renames (Sinks.swapIn, round-13
      // review — an unchecked rename after a crash would report rows
      // "removed" while the old table silently stayed live)
      graft.sources.Sinks.recoverSwap(fs, outDir, table)
      val liveP = new org.apache.hadoop.fs.Path(s"$outDir/$table")
      if (!fs.exists(liveP)) return 0L
      val before = spark.read.parquet(s"$outDir/$table")
      val kept = filter(before)
      val dropped = before.count() - kept.count()
      write(kept, s"$outDir/.compact_$table")
      graft.sources.Sinks.swapIn(fs, outDir, table)
      dropped
    }
    val ids = ids0.persist()
    val cols = ids.columns.toSet
    val lines = scala.collection.mutable.ArrayBuffer[String](
      s"retract report", s"ids: $idsLabel")
    if (cols.contains("doc_id")) {
      // null-filtered: a mixed-domain drop (RunIngestStream.RetractSchema)
      // carries null doc_ids on vec-only rows
      val docIds = ids.select(col("doc_id"))
        .filter(col("doc_id").isNotNull).distinct()
      val n = docIds.count()
      // a domain with no ids (a vec-only drop through the mixed schema)
      // must not pay a full index compaction + table rewrites for nothing
      if (n > 0) {
        Dedup.removeFromLshIndex(docIds, s"$outDir/index")
        Dedup.compactLshIndex(spark, s"$outDir/index")
        val corpusGone = swapRewrite("corpus",
          (df, p) => df.write.mode("overwrite").partitionBy("source").parquet(p),
          _.join(docIds, Seq("doc_id"), "left_anti"))
        val deltaGone = swapRewrite("delta",
          (df, p) => df.write.mode("overwrite").parquet(p),
          _.join(docIds, Seq("doc_id"), "left_anti"))
        lines += s"doc_ids_retracted: $n"
        lines += s"corpus_rows_removed: $corpusGone"
        lines += s"delta_rows_removed: $deltaGone"
      } else lines += "doc_ids_retracted: 0"
    }
    if (cols.contains("vec_id")) {
      val vecIds = ids.select(col("vec_id").as("t_id"))
        .filter(col("t_id").isNotNull).distinct()
      val n = vecIds.count()
      if (n > 0) {
        AnnSearch.removeFromIvfIndex(vecIds, s"$outDir/ivf")
        AnnSearch.compactIvfIndex(spark, s"$outDir/ivf")
        val deltaGone = swapRewrite("delta_vec",
          (df, p) => df.write.mode("overwrite").parquet(p),
          _.join(vecIds, Seq("t_id"), "left_anti"))
        lines += s"vec_ids_retracted: $n"
        lines += s"delta_vec_rows_removed: $deltaGone"
        // the navigation graph keys the same vec_id domain (round 15 —
        // lifecycle parity): tombstone + compact it too when one is
        // deployed beside the IVF index; absent, this costs nothing
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/graph/nodes"))) {
          AnnSearch.removeFromKnnGraph(
            vecIds.select(col("t_id").as("vec_id")), s"$outDir/graph")
          AnnSearch.compactKnnGraph(spark, s"$outDir/graph")
          lines += s"graph_nodes_retracted: $n"
        }
      } else lines += "vec_ids_retracted: 0"
    }
    require(cols.contains("doc_id") || cols.contains("vec_id"),
      s"retract ids at $idsLabel must carry a doc_id and/or vec_id column; got ${cols.mkString(",")}")
    ids.unpersist(blocking = false)
    lines.mkString("", "\n", "\n")
  }

  /** LSH index-MAINTENANCE pass (round 16, VERDICT r15 #4 — the leg
    * that completes six-leg lifecycle parity across all three index
    * families): `Dedup.lshBandedRecall` measures what the deployed
    * banded search can still FIND of the live content's true near-dup
    * pairs — banding misses on the current J distribution plus
    * hot-bucket cap exclusions under token-distribution drift — and
    * this promotes it into the re-band DECISION:
    *
    *   1. measure banded-collision recall over a 1/sampleMod hash
    *      stride of live docs against the uncapped single-hash truth;
    *   2. if recall < `minRecall`, COLLAPSE the cap-hot buckets —
    *      exact-verified min-label dedup confined to the hot buckets,
    *      then tombstone + compact the redundant members
    *      (`Dedup.collapseHotBuckets`, whose scaladoc carries the
    *      measured case against the re-band alternative) — and
    *      re-measure over the now-live content.
    *
    * "collapsed: false" runs cost the sampled truth join — the cadence
    * observable. SCALE.md round 16 drove the trigger under planted
    * template-boilerplate drift; RunIngestSpec pins the loop.
    */
  def maintainLsh(spark: SparkSession, outDir: String,
      minRecall: Double = 0.9, sampleMod: Int = 8,
      maxBandBucket: Int = 1000): String = {
    val indexPath = s"$outDir/index"
    val p = spark.read.parquet(s"$indexPath/params").head()
    val (nh, rb) = (p.getAs[Int]("num_hashes"), p.getAs[Int]("rows_per_band"))
    val (recall, nTruth, hits) =
      Dedup.lshBandedRecall(spark, indexPath, sampleMod, maxBandBucket)
    var line = f"banded_recall: $recall%.4f ($hits of $nTruth truth pairs; " +
      f"threshold $minRecall%.2f, sample 1/$sampleMod, cap $maxBandBucket, " +
      s"banding ${nh}x$rb)"
    if (recall < minRecall) {
      val elapsed = Stages.clock()
      val (nDropped, nHot) =
        Dedup.collapseHotBuckets(spark, indexPath, maxBandBucket)
      val (recall2, nTruth2, hits2) =
        Dedup.lshBandedRecall(spark, indexPath, sampleMod, maxBandBucket)
      line += f"\ncollapsed: $nHot hot buckets, $nDropped redundant docs retracted+compacted, " +
        f"recall $recall%.4f -> $recall2%.4f ($hits2 of $nTruth2 live truth pairs) " +
        f"in ${elapsed()}%.1f s"
    } else line += "\ncollapsed: false"
    val report =
      s"""lsh index maintenance report
         |index: $indexPath
         |$line
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/lsh_maintain_report.txt"), report)
    report
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    args.headOption match {
      case Some("--maintain") =>
        require(args.length >= 2,
          "usage: RunIngest --maintain <outdir> [minRecall] [sampleMod] [maxBandBucket]")
        val floor = if (args.length > 2) args(2).toDouble else 0.9
        val mod = if (args.length > 3) args(3).toInt else 8
        val cap = if (args.length > 4) args(4).toInt else 1000
        print(maintainLsh(spark, args(1), floor, mod, cap))
      case Some("--retract") =>
        require(args.length == 3, "usage: RunIngest --retract <outdir> <idsParquet>")
        print(retract(spark, args(1), args(2)))
      case _ =>
        require(args.length >= 2,
          "usage: RunIngest <sfdir> <outdir> [batchMod] [batchRem] [dupJaccard] | --retract <outdir> <idsParquet>")
        val bm = if (args.length > 2) args(2).toInt else 5
        val br = if (args.length > 3) args(3).toInt else 3
        val thr = if (args.length > 4) args(4).toDouble else 0.8
        val eps = if (args.length > 5) args(5).toDouble else 0.75
        print(run(spark, args(0), args(1), bm, br, thr, eps))
    }
    spark.stop()
  }
}
