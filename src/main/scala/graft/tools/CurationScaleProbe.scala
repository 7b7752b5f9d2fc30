package graft.tools

import org.apache.spark.sql.functions._

import graft.llm.Curation

/** Scale experiment for the Curation family: decontamination gram join,
  * sequence packing window, repetition signals, and chunking over an
  * N-doc synthetic corpus (same hash-seeded generator family as
  * PipelineScaleProbe: 80-token docs, 10k vocab, 8 sources).
  *
  * usage: tools/run.sh graft.tools.CurationScaleProbe [nDocs]
  */
object CurationScaleProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 200000
    val spark = graft.Session()
    val tally = Tally.on(spark)

    val docPath = s"/tmp/scale_cur_$nDocs"
    spark.range(nDocs)
      .select(col("id").as("doc_id"), expr(
        """array_join(transform(sequence(1, 80), j ->
          |  concat('w', cast(abs(hash(concat(cast(id AS string), ':', cast(j AS string)))) % 10000 AS string))), ' ')"""
          .stripMargin).as("text"),
        concat(lit("src"), col("id") % 8).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(docPath)
    val docs = spark.read.parquet(docPath)

    // shuffle-write accounting (TsScaleProbe precedent): local in-memory
    // shuffles barely move wall time, so the number that predicts cluster
    // behavior is BYTES SHUFFLED — summed per leg by the tally
    def legMb(name: String)(body: => Long): (Double, Double) = {
      tally.take()
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      val mb = tally.take().shuffleMb
      println(f"[scale] $name nDocs=$nDocs rows=$rows wall=$wall%.1f s " +
        f"(${nDocs / wall}%.0f docs/s) shuffleMB=$mb%.1f")
      (wall, mb)
    }
    def leg(name: String)(body: => Long): Unit = { legMb(name)(body); () }

    // eval slice = 10% of the corpus; grams ≈ 78 per doc → the join
    // probes ~nDocs*78 gram rows against a ~nDocs/10*78-gram eval table
    leg("decontaminate")(Curation.decontaminateDocs(docs).count())
    // the published 13-gram shingle, text vs xxhash64 join key: ~70-char
    // gram strings vs 8 bytes on both shuffled sides
    val (_, d13TextMb) = legMb("decontaminate_13_textkey")(
      Curation.decontaminateDocs(docs, gram = 13).count())
    val (_, d13HashMb) = legMb("decontaminate_13_hashkey")(
      Curation.decontaminateDocs(docs, gram = 13, hashKey = true).count())
    println(f"[scale] decontaminate_13 key-shuffle ratio text/hash = ${d13TextMb / d13HashMb}%.1f x")
    assert(d13HashMb < d13TextMb,
      f"hash key must shuffle fewer bytes: $d13HashMb%.1f MB vs $d13TextMb%.1f MB")
    // seq_pack: the O(1)-cardinality window key vs the two-pass prefix
    // sum (round 8). 8 sources means the window form funnels the WHOLE
    // corpus through 8 sort partitions — a parallelism ceiling no
    // executor count lifts; the two-pass form range-partitions into
    // shuffle-width slices regardless of source cardinality. Forced through an
    // agg over both outputs (count() lets ColumnPruning drop unused
    // window exprs — the forceDup lesson below).
    def forcePack(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("seq_id") + col("pack_off"))).collect()(0).getLong(0)
    val (wWin, _) = legMb("seq_pack_window_8src")(
      forcePack(Curation.seqPackDocsWindow(docs)))
    val (wTp, _) = legMb("seq_pack_twopass_8src")(
      forcePack(Curation.seqPackDocs(docs)))
    // the ceiling is STRUCTURAL, not (local) wall: count the partitions
    // that actually hold rows in each plan's packing stage — the window
    // form can never use more than |sources| tasks however many
    // executors exist; local in-memory shuffles hide that in wall time
    // (the TsScaleProbe lesson, again)
    // the pack columns must ride along or ColumnPruning drops the very
    // window/join being measured (the forceDup trap, partition-id form)
    // ...and the agg value must be COLLECTED, not count()ed — counting
    // groups prunes sum(x), then x, then the window (found live: both
    // forms read 32 = the scan's partitioning)
    def busyParts(df: org.apache.spark.sql.DataFrame): Long =
      df.select(spark_partition_id().as("p"), (col("seq_id") + col("pack_off")).as("x"))
        .groupBy("p").agg(sum("x")).collect().length.toLong
    // AQE's partition coalescing hides the structure at probe sizes
    // (3 MB of shuffle collapses BOTH forms to 2 partitions); at 100 TB
    // partitions are advisory-size and no coalescing occurs — audit
    // with coalescing off so the count reflects the plan, not the
    // small-data rescue
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val bWin = busyParts(Curation.seqPackDocsWindow(docs))
    val bTp = busyParts(Curation.seqPackDocs(docs))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    println(f"[scale] seq_pack window/two-pass wall ratio = ${wWin / wTp}%.2f x; " +
      s"busy packing partitions: window=$bWin (≤ |sources|=8 forever) " +
      s"two-pass=$bTp (scales with cluster)")
    assert(bWin <= 8 && bTp > bWin,
      s"expected window form capped at 8 busy partitions, two-pass above it: $bWin vs $bTp")
    leg("quality_repetition")(Curation.qualityRepetitionDocs(docs).count())
    leg("doc_chunk")(Curation.docChunkDocs(docs).count())
    // stride-1 windows: the heaviest fan-out in the family — 73 windows
    // per 80-token doc, all materialized once through the checkpoint;
    // this corpus plants no cross-doc 8-gram dups, so the count-distinct
    // and semi-join sides are exercised at full width with ~0 survivors.
    // Text-keyed vs xxhash64-keyed: the window key is the shuffle key on
    // the fan-out frame, so the 8-byte hash cuts the bytes that key
    // carries across the wire (~47 window chars vs 8 bytes; LZ4 narrows
    // the raw ratio — report what's actually written). The legs consume
    // n_win AND n_dup: a bare count() lets Catalyst drop the left join
    // against the unique-keyed dup aggregate and the whole window
    // shuffle with it (found when this leg's first cut read 0.3 MB).
    def forceDup(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("n_win") + col("n_dup"))).collect()(0).getLong(0)
    val (_, textMb) = legMb("dedup_substring_textkey")(
      forceDup(graft.llm.Dedup.substringDupDocs(docs)))
    val (_, hashMb) = legMb("dedup_substring_hashkey")(
      forceDup(graft.llm.Dedup.substringDupDocs(docs, hashKey = true)))
    println(f"[scale] dedup_substring key-shuffle ratio text/hash = ${textMb / hashMb}%.1f x")
    assert(hashMb < textMb,
      f"hash key must shuffle fewer bytes: $hashMb%.1f MB vs $textMb%.1f MB")
    // BPE training: corpus-scale work is the one word-count pass; the 4
    // merge rounds then iterate on the ~10k-word vocab table — wall
    // should track the word count, not the rounds
    val (bpe4, _) = legMb("tokenizer_bpe")(graft.llm.TextAnalysis.bpeMerges(docs).count())
    // merge-loop DEPTH: production tokenizers train tens of thousands of
    // rounds; per-round cost must stay flat (vocab-sized state, constant
    // plan via Ckpt.truncate) as rounds grow 16x. Marginal per-round wall
    // at depth 64->256 vs 4->64 should be ~equal; assert within 3x to
    // leave harness-noise room while still catching anything that grows
    // with round index (lineage, state, vocab blowup)
    val (bpe64, _) = legMb("tokenizer_bpe_r64")(
      graft.llm.TextAnalysis.bpeMerges(docs, rounds = 64).count())
    val (bpe256, _) = legMb("tokenizer_bpe_r256")(
      graft.llm.TextAnalysis.bpeMerges(docs, rounds = 256).count())
    val early = (bpe64 - bpe4) / 60.0
    val late = (bpe256 - bpe64) / 192.0
    println(f"[scale] bpe per-round wall: rounds 5-64 $early%.3f s/round, " +
      f"rounds 65-256 $late%.3f s/round")
    // floored denominator: if merges exhaust early or walls are
    // scheduling-noise-dominated, `early` → 0 and a raw ratio assert
    // would fire spuriously despite flat per-round cost
    assert(late < math.max(early, 0.05) * 3.0,
      f"per-round BPE wall grew with depth: $late%.3f vs $early%.3f s/round")
    spark.stop()
  }
}
