package graft.run

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** STREAMING ingest (round 12) — the recurring-crawl loop as
  * Structured Streaming jobs instead of N cron invocations of
  * `RunIngest`. Every stream here is one `drain`: a parquet file source
  * over a drop directory, `Trigger.AvailableNow` (drain everything in
  * the directory and stop — the testable, cron-replacing deployment
  * shape; a 24/7 crawl switches to a processing-time trigger, one
  * line), a checkpoint under `outDir/_ckpt/<name>`, and a per-micro-
  * batch function run on each non-empty batch. foreachBatch is serial
  * per query, so batch N's appends land before batch N+1 runs. The
  * three streams and the unit each runs per micro-batch:
  *
  *  - `run` (`ingest_stream`, `_ckpt/ingest`): `RunIngest.ingestDelta`,
  *    the text funnel — id guard → digest diff → Gopher → exact
  *    keep-min → near-dedup vs the persisted LSH index → 13-gram
  *    decontam → corpus + index append. Batch N+1 near-dedups against
  *    batch N's survivors within one stream: the recurring semantics
  *    `ingest_manifest2` oracle-gates, continuous.
  *  - `runVec` (`ingest_vec_stream`, `_ckpt/ingest_vec`):
  *    `RunIngest.ingestVecDelta`, the vector funnel over drops that
  *    carry embeddings (they land after the usually-GPU embedding
  *    stage) — id guard → semantic near-dedup vs the persisted IVF
  *    index → delta_vec + IVF append.
  *  - `runRetract` (`retract_stream`, `_ckpt/retract`):
  *    `RunIngest.retractIds` over takedown drops.
  *
  * ```
  * tools/run.sh graft.run.RunIngestStream <streamDir> <outDir> [dupJaccard=0.95]
  * tools/run.sh graft.run.RunIngestStream --vec <streamDir> <outDir> [eps=0.75]
  * tools/run.sh graft.run.RunIngestStream --retract <streamDir> <outDir>
  * ```
  *
  * PRECONDITION: `outDir` holds a bootstrapped standing state (index +
  * corpus, or IVF index) — one prior `RunIngest` run builds it; the
  * ingest streams only ever append. Restart semantics: the checkpoint
  * replays an uncommitted micro-batch, and both deltas' id guards drop
  * every already-appended id, so a replay cannot double-append — and a
  * replayed (id-empty) batch performs NO writes at all, which preserves
  * `$outDir/delta` / `delta_vec` as the recovery artifact if a crash
  * landed between two appends (see `ingestDelta`'s scaladoc). Scale
  * shape per micro-batch: identical to one `RunIngest` delta — O(batch
  * + cross collisions). The LSH index keys doc_id and the IVF index
  * vec_id; nothing here can desynchronize them.
  */
object RunIngestStream {

  /** The document schema a crawl drop must land with (the `documents`
    * table's shape — what every funnel stage reads).
    */
  val DocSchema = "doc_id LONG, text STRING, source STRING, n_chars LONG"

  /** Drain `streamDir` through the query `name` (checkpoint
    * `outDir/_ckpt/<ckpt>`) until `Trigger.AvailableNow` stops it,
    * running `batch` on each non-empty micro-batch. Returns each
    * micro-batch's id and result, in batch order.
    */
  private def drain[T](spark: SparkSession, schema: String, streamDir: String,
      outDir: String, name: String, ckpt: String)(
      batch: (DataFrame, Long) => T): Seq[(Long, T)] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Long, T)]()
    spark.readStream
      .schema(schema)
      .parquet(streamDir)
      .writeStream
      .queryName(name)
      .option("checkpointLocation", s"$outDir/_ckpt/$ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) done.add((id, batch(b, id)))
        () // foreachBatch's Scala overload takes a Unit body
      }
      .start()
      .awaitTermination()
    done.asScala.toSeq.sortBy(_._1)
  }

  /** Run the text stream over `streamDir` until drained, one
    * `ingestDelta` per micro-batch. Returns the report text (also
    * written to `outDir/stream_report.txt`): a funnel line per
    * micro-batch and the closing corpus count.
    */
  def run(spark: SparkSession, streamDir: String, outDir: String,
      nearDupThreshold: Double = 0.95): String = {
    val lines = runWithStages(spark, streamDir, outDir, nearDupThreshold).map {
      case (id, stages, kept) => s"micro-batch $id: " +
        stages.map(st => s"${st.name}=${st.survivors}").mkString(" ") + s" appended=$kept"
    }
    val r =
      s"""streaming ingest report
         |stream_dir: $streamDir
         |near_dup_jaccard: $nearDupThreshold
         |${lines.mkString("\n")}
         |corpus_docs: ${spark.read.parquet(s"$outDir/corpus").count()}
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/stream_report.txt"), r)
    r
  }

  /** `run`'s drain returning each micro-batch's stage funnel AS DATA —
    * (micro-batch id, stage results, appended count) in batch order —
    * so the declared `ingest_stream` row gates the standing-state
    * funnel against the batch-twin oracle instead of parsing the
    * report. It writes no report: the corpus re-count and the file
    * write are `run`'s.
    */
  def runWithStages(spark: SparkSession, streamDir: String, outDir: String,
      nearDupThreshold: Double = 0.95): Seq[(Long, Seq[StageResult], Long)] = {
    require(Files.exists(Paths.get(s"$outDir/index/sigs")) &&
      Files.exists(Paths.get(s"$outDir/corpus")),
      s"$outDir holds no standing state — bootstrap with RunIngest first")
    drain(spark, DocSchema, streamDir, outDir, "ingest_stream", "ingest") { (b, _) =>
      RunIngest.ingestDelta(spark,
        b.select(col("doc_id"), col("text"), col("source"), col("n_chars")),
        outDir, nearDupThreshold)
    }.map { case (id, (stages, kept)) => (id, stages, kept) }
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

  /** The scaffold of the four slice-bounded gate rows: the slice shuffle
    * width, a fresh temp dir `prefix…` for the row's state (deleted
    * whether the row returns or throws), and the (stage, survivors)
    * frame of the counts `body` returns.
    */
  private def sliceRow(spark: SparkSession, prefix: String)(
      body: String => Seq[(String, Long)]): DataFrame = withSliceShuffle(spark) {
    val rows = Stages.withTempDir(prefix)(body)
    import spark.implicits._
    rows.toDF("stage", "survivors")
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
  def ingestStreamQuery(spark: SparkSession, d: String): DataFrame =
      sliceRow(spark, "graft_ingest_stream") { tmp =>
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
    Seq(
      "0_run1_appended" -> kept1,
      "1_batch_in" -> st2("batch_in"),
      "2_digest_new" -> st2("digest_new"),
      "3_quality_gopher" -> st2("quality_gopher"),
      "4_dedup_exact" -> st2("dedup_exact"),
      "5_near_dup_vs_index" -> st2("near_dup_vs_index"),
      "6_decontam_13" -> st2("decontaminate_13"),
    )
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
  def retractStreamQuery(spark: SparkSession, d: String): DataFrame =
      sliceRow(spark, "graft_retract_stream") { tmp =>
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
    )
  }

  /** The vector schema an embedding drop must land with (the
    * `embeddings` table's shape — what the GPU stage emits).
    */
  val VecSchema = "vec_id LONG, embedding ARRAY<FLOAT>"

  /** STREAMING vector leg (round 13): the drain over drops that carry
    * embeddings, one `RunIngest.ingestVecDelta` per micro-batch — the
    * unit `RunIngest.run`'s embedding leg runs once — so batch N+1
    * within one stream dedups against batch N's appended vectors,
    * exactly the text leg's recurring semantics. Returns the report
    * text (also written to `outDir/stream_vec_report.txt`): a line per
    * micro-batch and the closing index cardinality.
    */
  def runVec(spark: SparkSession, streamDir: String, outDir: String,
      eps: Double = 0.75, nprobe: Int = 2): String = {
    val lines = runVecWithStages(spark, streamDir, outDir, eps, nprobe).map {
      case (id, stages, kept) =>
        val Seq(in, fresh) = stages.take(2).map(_.survivors)
        s"micro-batch $id: vec_in=$in vec_id_new=$fresh appended=$kept" +
          (if (fresh == 0) " (replay/no-op)" else "")
    }
    val r =
      s"""streaming vector-ingest report
         |stream_dir: $streamDir
         |semantic_eps: $eps
         |${lines.mkString("\n")}
         |ivf_vectors: ${spark.read.parquet(s"$outDir/ivf/cells").count()}
         |""".stripMargin
    Files.writeString(Paths.get(s"$outDir/stream_vec_report.txt"), r)
    r
  }

  /** `runVec`'s drain returning each micro-batch's funnel AS DATA —
    * (micro-batch id, stage results, appended count) in batch order,
    * `runWithStages`' shape — so the declared vector stream rows gate
    * the funnel against their oracles. It writes no report.
    */
  def runVecWithStages(spark: SparkSession, streamDir: String, outDir: String,
      eps: Double = 0.75, nprobe: Int = 2): Seq[(Long, Seq[StageResult], Long)] = {
    require(Files.exists(Paths.get(s"$outDir/ivf/centroids")),
      s"$outDir holds no IVF standing state — bootstrap with RunIngest first")
    drain(spark, VecSchema, streamDir, outDir, "ingest_vec_stream", "ingest_vec") { (b, _) =>
      RunIngest.ingestVecDelta(spark,
        b.select(col("vec_id").as("t_id"),
          graft.core.Distance.asDouble(col("embedding")).as("t_v")),
        outDir, eps, nprobe)
    }.map { case (id, (stages, kept)) => (id, stages, kept) }
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
  def ingestVecStreamQuery(spark: SparkSession, d: String): DataFrame =
      sliceRow(spark, "graft_ingest_vec_stream") { tmp =>
    import graft.llm.AnnSearch
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
    val (_, st2, app2) = runs2.head
    Seq(
      "0_run1_appended" -> runs1.head._3,
      "1_vec_in" -> st2(0).survivors,
      "2_vec_id_new" -> st2(1).survivors,
      "3_appended" -> app2,
      "4_ivf_after" -> ivfAfter,
    )
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
  def retractVecStreamQuery(spark: SparkSession, d: String): DataFrame =
      sliceRow(spark, "graft_retract_vec_stream") { tmp =>
    import graft.llm.AnnSearch
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
    val (_, st, app) = runs.head
    val ivfAfter = spark.read.parquet(s"$out/ivf/cells").count()
    Seq(
      "1_standing_before" -> standingBefore,
      "2_retracted" -> retracted,
      "3_graph_live" -> graphLive,
      "4_vec_in" -> st(0).survivors,
      "5_vec_id_new" -> st(1).survivors,
      "6_appended" -> app,
      "7_ivf_after" -> ivfAfter,
    )
  }

  /** The takedown schema a retraction drop must land with: `doc_id`
    * retracts documents, `vec_id` retracts vectors — either may be
    * null in a row carrying only the other domain's id.
    */
  val RetractSchema = "doc_id LONG, vec_id LONG"

  /** STREAMING retraction (round 13): takedowns / license revocations /
    * opt-outs arrive continuously in production, so the delete path is
    * a drain too — each micro-batch of ids flows through the SAME
    * `RunIngest.retractIds` pass the batch runner uses (LSH/IVF
    * tombstones + immediate physical compaction + corpus/delta
    * rewrite), so stream-vs-batch divergence is structural, not
    * logical. After a drop drains, the next ingest batch runs against
    * the state that forgot the ids: a re-crawled near-copy of a
    * retracted doc is APPENDED (RunIngestSpec proves it through this
    * entry). Replay-idempotent: retracting an already-gone id
    * tombstones nothing, and the rewrites anti-join to a no-op. Returns
    * the report text (also written to `outDir/stream_retract_report.txt`):
    * a line of retracted counts per micro-batch.
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
    // both domain columns ride every drop row (either may be null);
    // retractIds null-filters each domain independently
    val lines = drain(spark, RetractSchema, streamDir, outDir, "retract_stream", "retract") {
      (b, id) => RunIngest.retractIds(spark, outDir, b, s"stream micro-batch $id")
        .linesIterator.filter(_.contains("_retracted:")).mkString(" ").trim
    }.map { case (id, line) => s"micro-batch $id: $line" }
    val report =
      s"""streaming retraction report
         |stream_dir: $streamDir
         |${lines.mkString("\n")}
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
          "usage: RunIngestStream <streamDir> <outDir> [dupJaccard] | --vec <streamDir> <outDir> [eps]" +
            " | --retract <streamDir> <outDir>")
        val thr = if (args.length > 2) args(2).toDouble else 0.95
        print(run(spark, args(0), args(1), thr))
    }
    spark.stop()
  }
}
