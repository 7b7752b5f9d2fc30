package graft

import org.apache.spark.sql.functions._

import graft.llm.{Curation, Dedup, TextAnalysis}
import graft.run.RunIngest

/** End-to-end spec for the incremental-recuration runner: the written
  * delta must equal the stage-by-stage recomputation with the library
  * builders, the index path must reconcile with FULL recuration over
  * the union restricted to cross pairs (the `nearDupsAgainstIndex`
  * contract, asserted at the composition level), and the index update
  * must make the survivors visible to the NEXT batch.
  */
class RunIngestSpec extends SparkSpecBase {
  import spark.implicits._

  test("RunIngest: delta ≡ recomputed funnel; incremental near-dedup ≡ full recuration cross pairs; index grows") {
    val out = java.nio.file.Files.createTempDirectory("ingest").toString
    // J ≥ 0.95, not the production-default 0.8: the synthetic corpus's
    // planted near-dup density at 0.8 drops the WHOLE batch (an honest
    // but funnel-degenerate outcome — the ingest_manifest row documents
    // the same choice), and the spec wants a non-trivial delta
    val report = RunIngest.run(spark, sfDir, out, nearDupThreshold = 0.95)

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 3)
    val batch = docs.filter(col("doc_id") % 5 === 3)

    // recompute the funnel with the library builders (the run's stages)
    val fresh = batch.join(corpus.select(md5(col("text")).as("h")).distinct(),
      md5(batch("text")) === col("h"), "left_anti")
    val quality = fresh.join(TextAnalysis.qualityGopherDocs(fresh)
      .filter(col("keep")).select("doc_id"), "doc_id")
    val exact = quality.join(
      quality.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")

    // THE reconciliation: the incremental index path ≡ full recuration
    // over (corpus ∪ batch survivors) restricted to CROSS pairs
    val full = Dedup.minhashLshPairs(spark,
        corpus.select(col("doc_id"), col("text"))
          .unionAll(exact.select(col("doc_id"), col("text"))))
      .filter(col("jaccard") >= 0.95)
    val isBatch = (c: org.apache.spark.sql.Column) => c % 5 === 3
    val fullDrops = full
      .filter(isBatch(col("doc_id1")) =!= isBatch(col("doc_id2")))
      .select(when(isBatch(col("doc_id1")), col("doc_id1"))
        .otherwise(col("doc_id2")).as("doc_id")).distinct()
    val near = exact.join(fullDrops, Seq("doc_id"), "left_anti")
    val evalDocs = corpus.filter(col("doc_id") % 10 === 0)
    val cont = Curation.decontaminateAgainst(
      near.select(col("doc_id"), col("text")),
      evalDocs.select(col("doc_id"), col("text")), gram = 13).select("doc_id")
    val expect = near.join(cont, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet

    val delta = spark.read.parquet(s"$out/delta")
      .select("doc_id").as[Long].collect().toSet
    assert(delta === expect,
      "the written delta must equal full recuration restricted to cross pairs")

    // the report's funnel quotes the same counts
    assert(report.contains(s"batch_kept: ${expect.size}"))
    assert(report.contains(s"index_appended: ${expect.size} docs"))
    Seq("batch_in", "id_new", "digest_new", "quality_gopher", "dedup_exact",
      "near_dup_vs_index", "decontaminate_13").foreach { st =>
      assert(report.contains(s"  $st "), s"funnel must report stage $st")
    }
    // first run: the mod split makes batch ids disjoint from the
    // corpus, so the id-collision guard must drop nothing here
    assert(report.linesIterator.exists(l =>
      l.trim.startsWith("id_new") && l.trim.split("\\s+")(2) == "0"))

    // index update: survivors' signatures and docs are now indexed, so
    // the NEXT crawl's batch sees them
    val sigIds = spark.read.parquet(s"$out/index/sigs")
      .select("doc_id").distinct().as[Long].collect().toSet
    val docIds = spark.read.parquet(s"$out/index/docs")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(expect.subsetOf(sigIds) && expect.subsetOf(docIds),
      "appendToLshIndex must add every survivor to sigs and docs")
    // ...and a byte-identical copy of a survivor under a fresh id is
    // caught at J = 1.0 by the updated index
    if (expect.nonEmpty) {
      val survivor = expect.min
      val copy = spark.read.parquet(s"$out/index/docs")
        .filter(col("doc_id") === survivor)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val hits = Dedup.nearDupsAgainstIndex(spark, s"$out/index", copy)
      assert(hits.filter(col("indexed_id") === survivor &&
        col("jaccard") === 1.0).count() === 1L,
        "a re-crawled copy of an appended survivor must hit the index")
    }

    // the appended corpus = standing corpus + delta
    val corpusAfter = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet
    val corpusIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(corpusAfter === corpusIds ++ expect)

    // RECURRING mode: a second run against the same outDir must REUSE
    // the standing index + corpus (not rebuild), and its batch must
    // near-dedup against run-1's appended survivors. Batch 2 = exact
    // copies of run-1 survivors under fresh ids → every one must fall
    // at the digest-diff stage (byte-identical refreshes of docs that
    // are only in the corpus BECAUSE run 1 appended them).
    if (expect.nonEmpty) {
      val report2 = RunIngest.run(spark, sfDir, out,
        batchMod = 1000003, batchRem = 0, nearDupThreshold = 0.95)
      assert(report2.contains("mode: reuse"),
        "second run must reuse the standing index")
      // batchMod above is a prime > max doc_id so batch 2 from the mod
      // split is ONLY doc_id 0 — replace the real reconciliation with a
      // surgical one: copies of survivors under fresh ids
      val copies = spark.read.parquet(s"$out/index/docs")
        .join(expect.toSeq.toDF("doc_id"), "doc_id")
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      val hits2 = Dedup.nearDupsAgainstIndex(spark, s"$out/index", copies)
      val hitNew = hits2.select("new_id").distinct().as[Long].collect().toSet
      assert(hitNew === expect.map(_ + 20000000L),
        "every re-crawled survivor copy must hit the recurring index at J = 1")
    }
  }

  test("ingest_manifest2: run-2 funnel gated by run-1's appended survivors (recurring semantics)") {
    import org.apache.spark.sql.Row
    val rows = Curation.ingestManifest2(spark, sfDir).collect()
      .map { case Row(st: String, n: Long) => st -> n }.toMap
    assert(rows.keySet === Set("0_run1_appended", "1_batch_in", "2_digest_new",
      "3_quality_gopher", "4_dedup_exact", "5_near_dup_vs_index", "6_decontam_13"))
    assert(rows("0_run1_appended") > 0, "run 1 must append survivors — else run 2 gates nothing")
    assert(rows("5_near_dup_vs_index") < rows("4_dedup_exact"),
      "run 2's near-dedup vs the appended standing state must drop batch-2 docs")
    // the reuse path is LIVE: at least one batch-2 doc pairs with a
    // run-1 SURVIVOR at the funnel threshold (checked against the
    // shared pair chain — if this goes vacuous on regenerated data,
    // the row still hash-gates but stops exercising the append)
    val slice = Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    val pairs = Dedup.minhashLshPairs(spark, slice).filter(col("jaccard") >= 0.95)
    val b1 = slice.filter(col("doc_id") % 5 === 1)
    val corp0 = slice.filter(col("doc_id") % 5 =!= 1 && col("doc_id") % 5 =!= 3)
    // recompute run-1 survivors through the library builders
    val s2 = b1.join(corp0.select(md5(col("text")).as("h")).distinct(),
      md5(b1("text")) === col("h"), "left_anti")
    val s3 = s2.join(TextAnalysis.qualityGopherDocs(s2)
      .filter(col("keep")).select("doc_id"), "doc_id")
    val s4 = s3.join(s3.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id"), Seq("doc_id"), "left_semi")
    val drops1 = pairs.select(col("doc_id1").as("b"), col("doc_id2").as("o"))
      .unionAll(pairs.select(col("doc_id2").as("b"), col("doc_id1").as("o")))
      .join(b1.select(col("doc_id").as("b")), "b")
      .join(corp0.select(col("doc_id").as("o")), "o")
      .select(col("b").as("doc_id")).distinct()
    val s5 = s4.join(drops1, Seq("doc_id"), "left_anti")
    val cont = Curation.decontaminateAgainst(s5.select(col("doc_id"), col("text")),
      slice.filter(col("doc_id") % 10 === 0), gram = 13).select("doc_id")
    val surv1 = s5.join(cont, Seq("doc_id"), "left_anti").select(col("doc_id"))
    assert(surv1.count() === rows("0_run1_appended"),
      "builder-recomputed run-1 survivors must match the declared row")
    val survivorHits = pairs
      .join(surv1.select(col("doc_id").as("doc_id2")), "doc_id2")
      .filter(col("doc_id1") % 5 === 3)
      .unionAll(pairs.join(surv1.select(col("doc_id").as("doc_id1")), "doc_id1")
        .filter(col("doc_id2") % 5 === 3))
    assert(survivorHits.count() > 0,
      "no batch-2 × run-1-survivor pairs at J >= 0.95 — the reuse path is vacuous")
  }

  test("ingest_stream: the streamed funnel's standing-state rows equal the batch twin's (ingest_manifest2)") {
    // the declared row's whole contract in one line: two drops through
    // a REAL streaming checkpoint produce exactly the counts the
    // recurring BATCH semantics predict — which is why the row's DuckDB
    // oracle is the ingest_manifest2 SQL verbatim (round 14, VERDICT
    // r13 #3)
    val streamed = graft.run.RunIngestStream.ingestStreamQuery(spark, sfDir)
      .as[(String, Long)].collect().toMap
    val batched = Curation.ingestManifest2(spark, sfDir)
      .as[(String, Long)].collect().toMap
    assert(streamed === batched)
    // non-vacuous: at least one batch-2 doc fell at the index stage —
    // the stage that reads batch 1's APPENDED survivors
    assert(streamed("4_dedup_exact") > streamed("5_near_dup_vs_index"),
      s"near-dup-vs-index must drop someone or the reuse path is untested: $streamed")
  }

  test("retract_stream: the streamed takedown+ingest rows reconcile with the batch twin (ingest_retract)") {
    val streamed = graft.run.RunIngestStream.retractStreamQuery(spark, sfDir)
      .as[(String, Long)].collect().toMap
    val batched = Curation.ingestRetract(spark, sfDir)
      .as[(String, Long)].collect().toMap
    // stages 1-7 are shared names; the streamed row renames decontam to
    // slot 8 (no revived row — per-doc provenance is the batch twin's)
    (1 to 7).foreach { i =>
      val key = streamed.keys.find(_.startsWith(s"${i}_")).get
      assert(streamed(key) === batched(key), s"$key diverged")
    }
    assert(streamed("8_decontam_13") === batched("9_decontam_13"))
    // standing-state closure: live standing + appended survivors
    assert(streamed("9_corpus_after") ===
      streamed("1_standing_before") - streamed("2_retracted") + streamed("8_decontam_13"))
  }

  test("RunIngestStream: streamed batches funnel sequentially — batch 2 dedups against batch 1's appended survivors") {
    import graft.run.RunIngestStream
    val out = java.nio.file.Files.createTempDirectory("ingeststream").toString
    RunIngest.run(spark, sfDir, out, nearDupThreshold = 0.95) // bootstrap standing state
    val streamDir = java.nio.file.Files.createTempDirectory("crawldrop").toString

    // crafted documents: vocabulary disjoint from the synthetic corpus
    // (no near-dup or 13-gram collisions), 60 words with 2 Gopher
    // stopwords and mean word length ~5.8 — they pass the quality gate
    val words = (1 to 58).map(i => s"zq${i}xx")
    val t1 = "the and " + words.mkString(" ")
    val t1near = "the and " + words.updated(10, "qz11yy").mkString(" ") // J = 59/61 ≈ 0.967
    val t4 = "the and " + (1 to 58).map(i => s"wq${i}kk").mkString(" ")
    def drop(rows: (Long, String)*): Unit =
      rows.map { case (id, t) => (id, t, "web", t.length.toLong) }
        .toDF("doc_id", "text", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(streamDir)

    // stream run 1: one fresh unique doc → survives and appends
    drop(50000001L -> t1)
    val r1 = RunIngestStream.run(spark, streamDir, out, nearDupThreshold = 0.95)
    assert(r1.contains("appended=1"), s"batch 1 must append its one doc:\n$r1")

    // stream run 2 (same checkpoint — only the NEW files process):
    // an exact copy of d1 under a fresh id (→ digest_new drop), a
    // one-word near-dup of d1 (→ near_dup_vs_index drop at J ≥ 0.95
    // AGAINST THE APPENDED d1), and one fresh doc (→ survives)
    drop(50000002L -> t1, 50000003L -> t1near, 50000004L -> t4)
    val r2 = RunIngestStream.run(spark, streamDir, out, nearDupThreshold = 0.95)
    val line2 = r2.linesIterator.find(_.contains("batch_in=3"))
      .getOrElse(fail(s"run 2 must process the 3-doc drop:\n$r2"))
    assert(line2.contains("digest_new=2"), s"exact copy must fall at the digest diff: $line2")
    assert(line2.contains("near_dup_vs_index=1"),
      s"near-dup of batch 1's survivor must fall at the index stage: $line2")
    assert(line2.contains("appended=1"), s"only the fresh doc survives: $line2")

    // the standing state reflects exactly the two survivors
    val corpusIds = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds.contains(50000001L) && corpusIds.contains(50000004L))
    assert(!corpusIds.contains(50000002L) && !corpusIds.contains(50000003L))
    val sigIds = spark.read.parquet(s"$out/index/sigs")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(Set(50000001L, 50000004L).subsetOf(sigIds),
      "both streamed survivors must be queryable by the next batch")
  }

  test("ingest_retract: the declared row's revived docs are non-vacuous and the funnel sees the live standing") {
    import org.apache.spark.sql.Row
    val rows = Curation.ingestRetract(spark, sfDir).collect()
      .map { case Row(st: String, n: Long) => st -> n }.toMap
    assert(rows.keySet === Set("1_standing_before", "2_retracted", "3_batch_in",
      "4_digest_new", "5_quality_gopher", "6_dedup_exact", "7_near_dup_vs_index",
      "8_revived", "9_decontam_13"))
    assert(rows("2_retracted") > 0 && rows("2_retracted") < rows("1_standing_before"))
    // the behavioral proof the standing state FORGOT the retracted docs:
    // at least one batch doc survives the near-dup stage ONLY because
    // its every partner was retracted (if this goes vacuous on
    // regenerated data, the row still hash-gates but stops proving
    // deletion — re-pick the retract modulus)
    assert(rows("8_revived") > 0,
      "no batch doc's near-dup partners were all retracted — the deletion proof is vacuous")
    assert(rows("7_near_dup_vs_index") <= rows("6_dedup_exact"))
  }

  test("retraction: tombstones forget immediately, compaction forgets physically, reconcile cannot resurrect") {
    val out = java.nio.file.Files.createTempDirectory("retract").toString
    val words = (1 to 58).map(i => s"rq${i}xx")
    val tA = "the and " + words.mkString(" ")
    val tNear = "the and " + words.updated(7, "qr7yy").mkString(" ") // J ≈ 0.967 vs tA
    val tB = "the and " + (1 to 58).map(i => s"vk${i}mm").mkString(" ")
    val docs = Seq((1L, tA), (2L, tNear), (3L, tB)).toDF("doc_id", "text")
    Dedup.saveLshIndex(docs, s"$out/index")

    // baseline: a re-crawl of tA under a fresh id hits both near-dups
    val copy = Seq((100L, tA)).toDF("doc_id", "text")
    def hits(): Set[Long] = Dedup.nearDupsAgainstIndex(spark, s"$out/index", copy)
      .select("indexed_id").as[Long].collect().toSet
    assert(hits() === Set(1L, 2L), "pre-retraction baseline must hit docs 1 and 2")

    // tombstone: LOGICALLY immediate — the very next search must not
    // near-dup-drop the re-crawl — while the physical rows remain
    Dedup.removeFromLshIndex(Seq(1L, 2L).toDF("doc_id"), s"$out/index")
    assert(hits() === Set.empty[Long], "tombstoned docs must stop matching immediately")
    val physSigs = spark.read.parquet(s"$out/index/sigs")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(physSigs === Set(1L, 2L, 3L), "physical rows wait for compaction")

    // reconcile must NOT resurrect a retracted delta row
    Seq((1L, tA)).toDF("doc_id", "text").write.parquet(s"$out/delta")
    assert(Dedup.reconcileLshIndex(
      spark.read.parquet(s"$out/delta"), s"$out/index") === 0L,
      "a retracted delta id must not be repaired back into the index")

    // compaction: physical forget + tombstones cleared; behavior unchanged
    Dedup.compactLshIndex(spark, s"$out/index")
    val sigsAfter = spark.read.parquet(s"$out/index/sigs")
      .select("doc_id").distinct().as[Long].collect().toSet
    val docsAfter = spark.read.parquet(s"$out/index/docs")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(sigsAfter === Set(3L) && docsAfter === Set(3L),
      "compaction must physically drop retracted rows from sigs and docs")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/index/tombstones")),
      "compaction must clear the tombstone table")
    assert(hits() === Set.empty[Long])

    // ...and the re-crawl can now be APPENDED under its fresh id — the
    // behavioral proof the index forgot the retracted docs
    Dedup.appendToLshIndex(copy, s"$out/index")
    val probe = Seq((200L, tA)).toDF("doc_id", "text")
    val reHits = Dedup.nearDupsAgainstIndex(spark, s"$out/index", probe)
      .select("indexed_id").as[Long].collect().toSet
    assert(reHits === Set(100L),
      "after retraction the re-crawled copy is the only near-dup authority")
  }

  test("RunIngestStream.runRetract: a streamed takedown forgets the doc; the re-crawled near-copy appends") {
    import graft.run.RunIngestStream
    val out = java.nio.file.Files.createTempDirectory("retractstream").toString
    RunIngest.run(spark, sfDir, out, nearDupThreshold = 0.95)
    val crawlDir = java.nio.file.Files.createTempDirectory("rs_crawl").toString
    val takedownDir = java.nio.file.Files.createTempDirectory("rs_takedown").toString
    val words = (1 to 58).map(i => s"sr${i}xx")
    val t1 = "the and " + words.mkString(" ")
    val t1near = "the and " + words.updated(4, "rs4yy").mkString(" ") // J ≈ 0.967
    def crawl(rows: (Long, String)*): String = {
      rows.map { case (id, t) => (id, t, "web", t.length.toLong) }
        .toDF("doc_id", "text", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(crawlDir)
      RunIngestStream.run(spark, crawlDir, out, nearDupThreshold = 0.95)
    }
    assert(crawl(60000001L -> t1).contains("appended=1"))

    // a takedown drop for the streamed doc (mixed schema, vec side null)
    Seq((Some(60000001L), None: Option[Long])).toDF("doc_id", "vec_id")
      .coalesce(1).write.mode("append").parquet(takedownDir)
    val r = RunIngestStream.runRetract(spark, takedownDir, out)
    assert(r.contains("doc_ids_retracted: 1"), r)
    // physically gone from corpus and index; no pending tombstones
    assert(spark.read.parquet(s"$out/corpus")
      .filter(col("doc_id") === 60000001L).count() === 0)
    assert(spark.read.parquet(s"$out/index/sigs")
      .filter(col("doc_id") === 60000001L).count() === 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/index/tombstones")))

    // the behavioral deletion proof through the STREAM loop: a re-crawled
    // near-copy of the retracted doc is appended, not near-dup-dropped
    assert(crawl(60000002L -> t1near).contains("appended=1"),
      "the near-copy of a stream-retracted doc must append")

    // replay idempotence: re-streaming the SAME takedown drop through a
    // fresh checkpoint retracts an id that is already gone — no effect
    // on the re-crawled survivor
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_ckpt/retract"), true)
    RunIngestStream.runRetract(spark, takedownDir, out)
    assert(spark.read.parquet(s"$out/corpus")
      .filter(col("doc_id") === 60000002L).count() === 1,
      "replaying a takedown must not touch other docs")
  }

  test("RunIngest.retract: runner removes doc and vec ids through corpus, delta, and both indexes") {
    import graft.llm.AnnSearch
    val out = java.nio.file.Files.createTempDirectory("retractrun").toString
    val words = (1 to 58).map(i => s"tq${i}zz")
    val mk = (salt: String) => "the and " + words.map(w => s"$w$salt").mkString(" ")
    val docs = Seq((1L, mk("a")), (2L, mk("b")), (3L, mk("c")))
      .toDF("doc_id", "text")
    Dedup.saveLshIndex(docs, s"$out/index")
    docs.withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.partitionBy("source").parquet(s"$out/corpus")
    docs.filter(col("doc_id") === 3L).write.parquet(s"$out/delta")
    val vecs = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.0, 1.0)), (30L, Seq(1.0, 1.0)))
      .toDF("t_id", "t_v")
    val cent = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("c_id", "c_v")
    AnnSearch.saveIvfIndex(vecs, cent, s"$out/ivf")

    val idsPath = s"$out/retract_ids"
    Seq((3L, 20L)).toDF("doc_id", "vec_id").write.parquet(idsPath)
    val report = graft.run.RunIngest.retract(spark, out, idsPath)
    assert(report.contains("doc_ids_retracted: 1") &&
      report.contains("vec_ids_retracted: 1"), report)

    assert(spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(spark.read.parquet(s"$out/delta").isEmpty,
      "the delta recovery artifact must also forget the retracted doc")
    assert(spark.read.parquet(s"$out/index/docs")
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(spark.read.parquet(s"$out/ivf/cells")
      .select("t_id").as[Long].collect().toSet === Set(10L, 30L))
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$out/index/tombstones")) &&
      !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$out/ivf/tombstones")),
      "runner retraction compacts immediately — no pending tombstones")
  }

  test("reconcile: a crash between corpus and index appends is auto-repaired on the next entry") {
    import graft.llm.AnnSearch
    val out = java.nio.file.Files.createTempDirectory("reconcile").toString
    val words = (1 to 58).map(i => s"uq${i}ww")
    val mk = (salt: String) => "the and " + words.map(w => s"$w$salt").mkString(" ")
    val docs = Seq((1L, mk("a")), (2L, mk("b"))).toDF("doc_id", "text")
    Dedup.saveLshIndex(docs, s"$out/index")
    // simulate the crash: delta holds a survivor the index never saw
    Seq((3L, mk("c"))).toDF("doc_id", "text").write.parquet(s"$out/delta")
    assert(Dedup.reconcileLshIndex(
      spark.read.parquet(s"$out/delta"), s"$out/index") === 1L)
    assert(spark.read.parquet(s"$out/index/sigs")
      .select("doc_id").distinct().as[Long].collect().toSet === Set(1L, 2L, 3L))
    assert(spark.read.parquet(s"$out/index/docs")
      .select("doc_id").distinct().as[Long].collect().toSet === Set(1L, 2L, 3L))
    // idempotent: a healthy index repairs nothing
    assert(Dedup.reconcileLshIndex(
      spark.read.parquet(s"$out/delta"), s"$out/index") === 0L)

    // the IVF twin
    val vecs = Seq((10L, Seq(1.0, 0.0))).toDF("t_id", "t_v")
    val cent = Seq((0L, Seq(1.0, 0.0))).toDF("c_id", "c_v")
    AnnSearch.saveIvfIndex(vecs, cent, s"$out/ivf")
    Seq((11L, Seq(0.0, 1.0))).toDF("t_id", "t_v").write.parquet(s"$out/delta_vec")
    assert(AnnSearch.reconcileIvfIndex(spark,
      spark.read.parquet(s"$out/delta_vec"), s"$out/ivf") === 1L)
    assert(spark.read.parquet(s"$out/ivf/cells")
      .select("t_id").as[Long].collect().toSet === Set(10L, 11L))
    assert(AnnSearch.reconcileIvfIndex(spark,
      spark.read.parquet(s"$out/delta_vec"), s"$out/ivf") === 0L)
  }

  test("RunIngestStream.runVec: batch 2 dedups against batch 1's appended vectors through one checkpoint") {
    import graft.llm.AnnSearch
    import graft.run.RunIngestStream
    val out = java.nio.file.Files.createTempDirectory("vecstream").toString
    // standing state: one stored vector along x, centroids on both axes
    val stored = Seq((1L, Seq(1.0, 0.0))).toDF("t_id", "t_v")
    val cent = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("c_id", "c_v")
    AnnSearch.saveIvfIndex(stored, cent, s"$out/ivf")
    val streamDir = java.nio.file.Files.createTempDirectory("vecdrop").toString
    def drop(rows: (Long, Seq[Float])*): Unit =
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(streamDir)

    // drop 1: a fresh direction (cosine-far from the stored vector)
    drop(101L -> Seq(0.0f, 1.0f))
    val r1 = RunIngestStream.runVec(spark, streamDir, out, eps = 0.25, nprobe = 2)
    assert(r1.contains("vec_id_new=1 appended=1"), r1)

    // drop 2, SAME checkpoint: a near-copy of batch 1's survivor (must
    // fall against the JUST-APPENDED vector) + one fresh direction
    drop(102L -> Seq(0.05f, 1.0f), 103L -> Seq(-1.0f, 0.1f))
    val r2 = RunIngestStream.runVec(spark, streamDir, out, eps = 0.25, nprobe = 2)
    assert(r2.contains("vec_id_new=2 appended=1"),
      s"the near-copy of 101 must drop against batch 1's append: $r2")
    val ids = spark.read.parquet(s"$out/ivf/cells")
      .select("t_id").as[Long].collect().toSet
    assert(ids === Set(1L, 101L, 103L), s"cells hold $ids")
  }

  test("ingest_vec_stream: the declared row's funnel is internally consistent and id-guard non-vacuous") {
    // the exact values are the DuckDB oracle's job (gated at 3 SFs);
    // this pins the row's structural contract: five ordered stages, a
    // funnel that only narrows, an id guard that actually fires (drop 2
    // deliberately carries ≡ 0 mod 20 already-stored ids), and a closing
    // index cardinality that reconciles standing + both appends
    val rows = graft.run.RunIngestStream.ingestVecStreamQuery(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === Set("0_run1_appended", "1_vec_in", "2_vec_id_new",
      "3_appended", "4_ivf_after"))
    assert(rows("1_vec_in") > rows("2_vec_id_new"),
      s"the id guard must drop the already-stored mod-20 ids: $rows")
    assert(rows("2_vec_id_new") >= rows("3_appended"), s"funnel must narrow: $rows")
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 500)
    val standing = e.filter(col("vec_id") % 5 =!= 1 && col("vec_id") % 5 =!= 3).count()
    assert(rows("4_ivf_after") ===
      standing + rows("0_run1_appended") + rows("3_appended"),
      s"index closure must be standing($standing) + both appends: $rows")
  }

  test("retract_vec_stream: the takedown is forgotten — a re-ingested retracted vector passes the guard and appends") {
    // the count algebra is the DuckDB oracle's job (gated at 3 SFs);
    // this pins the row's SEMANTIC contract, which counts alone cannot:
    // (a) the takedown reached both vec_id-keyed structures (cells AND
    // graph live view shrink to standing − retracted); (b) the id guard
    // still holds for live ids (the ≡ 10 mod 20 subset dies) but lets
    // re-ingested retracted ids (≡ 0 mod 20 ⊂ the ≡ 0 mod 4 takedown)
    // through — the "index that FORGOT" property; (c) at least one such
    // re-ingest survives semantic dedup and is APPENDED (a copy of a
    // retracted vector is not a dup of anything live near it).
    val rows = graft.run.RunIngestStream.retractVecStreamQuery(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === Set("1_standing_before", "2_retracted", "3_graph_live",
      "4_vec_in", "5_vec_id_new", "6_appended", "7_ivf_after"))
    assert(rows("3_graph_live") === rows("1_standing_before") - rows("2_retracted"),
      s"graph live view must equal standing - retracted: $rows")
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 500)
    val stillStored = e.filter(col("vec_id") % 20 === 10).count()
    val reIngested = e.filter(col("vec_id") % 20 === 0).count()
    assert(rows("4_vec_in") - rows("5_vec_id_new") === stillStored,
      s"exactly the live mod-20≡10 ids die in the id guard ($stillStored): $rows")
    assert(reIngested > 0 && rows("6_appended") > 0, s"non-vacuous: $rows")
    // (c) needs per-id visibility: replay the oracle's dup algebra for
    // the re-ingested subset — survivors = re-ingests with no live
    // vector under eps in their 2 probe cells; at least one must exist
    // and every survivor is inside the appended count
    import graft.llm.AnnSearch
    val ev = e.select(col("vec_id").as("t_id"),
      graft.core.Distance.asDouble(col("embedding")).as("t_v"))
    val live = ev.filter(col("t_id") % 5 =!= 1 && col("t_id") % 5 =!= 3 &&
      col("t_id") % 4 =!= 0)
    val cent = ev.filter(col("t_id") % 5 =!= 1 && col("t_id") % 5 =!= 3 &&
        col("t_id") % 40 === 0)
      .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
    val re = ev.filter(col("t_id") % 20 === 0)
    val reDups = re.join(AnnSearch.assignCellsMulti(re, cent, 2), "t_id")
      .select(col("t_id").as("new_id"), col("t_v").as("n_v"), col("cell"))
      .join(live.join(AnnSearch.assignCells(live, cent), "t_id")
        .select(col("t_v").as("i_v"), col("cell")), Seq("cell"))
      .filter(AnnSearch.cosineDist(col("n_v"), col("i_v")) < 0.75)
      .select(col("new_id")).distinct().count()
    val reSurvivors = re.count() - reDups
    assert(reSurvivors > 0,
      "at least one re-ingested retracted vector must survive semantic dedup")
    assert(rows("6_appended") >= reSurvivors,
      s"appended must include the $reSurvivors surviving re-ingests: $rows")
  }

  test("streamed ingest kill-window replay: a lost commit file replays the batch and the id guard makes it a no-op") {
    // the soak's replay leg at spec scale (round 16, VERDICT
    // r15 #3): after a drain, deleting the checkpoint's latest
    // commits/<id> is EXACTLY the state a crash between a batch's side
    // effects and its commit leaves — offsets written, commit missing.
    // On restart Structured Streaming replays the batch from offsets;
    // ingestDelta's id_new guard must drop every already-appended doc
    // (appended = 0) and perform no writes (corpus count unchanged).
    val tmp = java.nio.file.Files.createTempDirectory("replayspec").toString
    val out = s"$tmp/state"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val corp0 = docs.filter(col("doc_id") % 5 =!= 1 && col("doc_id") % 5 =!= 3)
    graft.llm.Dedup.saveLshIndex(corp0, s"$out/index")
    graft.sources.Sinks.writePartitioned(corp0, s"$out/corpus", Seq("source"))
    docs.filter(col("doc_id") % 5 === 1)
      .coalesce(1).write.mode("append").parquet(s"$tmp/drops")
    val run1 = graft.run.RunIngestStream.runWithStages(spark, s"$tmp/drops", out)
    assert(run1.size === 1 && run1.head._3 > 0, "first drain appends survivors")
    val corpusAfter = spark.read.parquet(s"$out/corpus").count()
    // kill window: drop the latest commit (and its local-FS crc sibling)
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$out/_ckpt/ingest/commits"))
      .iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
    val latest = commits.maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(latest)
    java.nio.file.Files.deleteIfExists(
      latest.resolveSibling("." + latest.getFileName + ".crc"))
    val replay = graft.run.RunIngestStream.runWithStages(spark, s"$tmp/drops", out)
    assert(replay.size === 1, "the uncommitted batch replays exactly once")
    assert(replay.head._3 === 0, s"replay must append nothing: ${replay.head}")
    assert(spark.read.parquet(s"$out/corpus").count() === corpusAfter,
      "replay performs no writes — corpus unchanged")
  }

  test("RunIngest.maintainLsh: drift floods buckets past the cap, collapse dedups the flood and restores recall") {
    // the LSH maintenance loop at spec scale (round 16 — LSH's maintain
    // leg): a healthy index reads "collapsed: false"; a planted
    // template-boilerplate flood drops banded recall under the floor,
    // the trigger fires, and the hot-bucket clique collapse (exact-
    // verified keep-min + tombstone + compaction) restores recall over
    // the live content. All hashes md5/xxhash — deterministic.
    import graft.llm.Dedup
    val out = java.nio.file.Files.createTempDirectory("lshmaint").toString
    val base = Tables.documents(spark, sfDir).filter(col("doc_id") < 120)
      .select(col("doc_id"), col("text"))
    Dedup.saveLshIndex(base, s"$out/index")
    val cap = 100 // above the base slice's hottest band bucket, below the flood's
    val healthy = RunIngest.maintainLsh(spark, out,
      minRecall = 0.9, sampleMod = 2, maxBandBucket = cap)
    assert(healthy.contains("collapsed: false"), healthy)
    val boiler = (1 to 200).map(i => s"tmplt$i").mkString(" ")
    val va = base.select((col("doc_id") + 10000).as("doc_id"),
      concat(lit(boiler + " "), col("text")).as("text"))
    val vb = base.select((col("doc_id") + 20000).as("doc_id"),
      concat(lit(boiler + " "), col("text"), lit(" zqx1 zqx2")).as("text"))
    Dedup.appendToLshIndex(va.unionByName(vb), s"$out/index")
    val (drifted, _, _) = Dedup.lshBandedRecall(spark, s"$out/index",
      sampleMod = 2, maxBandBucket = cap)
    assert(drifted < 0.9, s"the flood must drop banded recall: $drifted")
    val report = RunIngest.maintainLsh(spark, out,
      minRecall = 0.9, sampleMod = 2, maxBandBucket = cap)
    assert(report.contains("hot buckets"), report)
    val (restored, nTruth, _) = Dedup.lshBandedRecall(spark, s"$out/index",
      sampleMod = 2, maxBandBucket = cap)
    assert(restored >= 0.9, s"collapse must restore recall: $restored ($nTruth truth)")
    // the collapse physically compacted: tombstones cleared, live docs shrunk
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/index/tombstones")))
    val liveN = spark.read.parquet(s"$out/index/docs").count()
    assert(liveN < 120 + 240, s"redundant flood members must be gone: $liveN")
    // re-parameterization leg (rebandLshIndex): params swap in, recall
    // at the new banding computes, crash-discipline leaves a live table
    val live = graft.core.Ckpt.truncate(Dedup.loadLshDocs(spark, s"$out/index"))
    Dedup.rebandLshIndex(live, s"$out/index", 16, 2)
    graft.core.Ckpt.release(live)
    val p = spark.read.parquet(s"$out/index/params").head()
    assert(p.getAs[Int]("num_hashes") === 16 && p.getAs[Int]("rows_per_band") === 2)
    val (r16, _, _) = Dedup.lshBandedRecall(spark, s"$out/index",
      sampleMod = 2, maxBandBucket = cap)
    assert(r16 >= 0.9, s"16x2 banding keeps recall on the clean index: $r16")
  }

  test("RunIngest embedding leg: delta_vec ≡ inline semantic cross-dedup; IVF append visible") {
    import graft.llm.AnnSearch
    val out = java.nio.file.Files.createTempDirectory("ingestv").toString
    val report = RunIngest.run(spark, sfDir, out, nearDupThreshold = 0.95)

    // recompute the vector funnel from raw frames (never the persisted
    // index): batch multi-probed at the corpus-side stride centroids,
    // stored side at its single assignment — the semanticDupsAgainstIndex
    // contract at the composition level
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("t_id"),
        graft.core.Distance.asDouble(col("embedding")).as("t_v"))
    val t = e.filter(col("t_id") % 5 =!= 3)
    val batch = e.filter(col("t_id") % 5 === 3)
    val cent = t.filter(col("t_id") % 40 === 0)
      .select(col("t_id").as("c_id"), col("t_v").as("c_v"))
    val dupIds = batch.join(AnnSearch.assignCellsMulti(batch, cent, 2), "t_id")
      .select(col("t_id").as("new_id"), col("t_v").as("n_v"), col("cell"))
      .join(t.join(AnnSearch.assignCells(t, cent), "t_id")
        .select(col("t_v").as("i_v"), col("cell")), Seq("cell"))
      .filter(AnnSearch.cosineDist(col("n_v"), col("i_v")) < 0.75)
      .select(col("new_id")).distinct().as[Long].collect().toSet
    val expectVec = batch.select("t_id").as[Long].collect().toSet -- dupIds

    val deltaVec = spark.read.parquet(s"$out/delta_vec")
      .select("t_id").as[Long].collect().toSet
    assert(deltaVec === expectVec,
      "delta_vec must equal the inline cross-pair semantic dedup of the batch")
    assert(report.contains(s"vec_kept: ${expectVec.size}"))
    assert(report.contains(s"ivf_appended: ${expectVec.size} vecs"))
    Seq("vec_in", "vec_id_new", "vec_sem_dup_vs_index").foreach { st =>
      assert(report.contains(s"  $st "), s"vec funnel must report stage $st")
    }

    // append visibility: an exact copy of an appended SURVIVOR under a
    // fresh id pairs with it through the updated index at distance 0
    if (expectVec.nonEmpty) {
      val survivor = expectVec.min
      val copy = spark.read.parquet(s"$out/delta_vec")
        .filter(col("t_id") === survivor)
        .select((col("t_id") + 30000000L).as("t_id"), col("t_v"))
      val hits = AnnSearch.semanticDupsAgainstIndex(spark, s"$out/ivf", copy,
        eps = 1e-9, nprobe = 1).collect()
      assert(hits.exists(r => r.getLong(0) == survivor + 30000000L &&
        r.getLong(1) == survivor),
        "a copy of an appended vector must hit the updated IVF index")
    }
  }
}
