package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Ckpt.TruncateSyntax
import graft.rel.Queries.rnd

/** Corpus-curation operators beyond dedup/quality: the steps a training
  * run executes between "raw documents" and "token stream" —
  * benchmark decontamination, sequence packing, repetition-based
  * quality signals, and retrieval-style chunking.
  *
  * Scale design: decontamination is an equi-join on gram keys (work
  * scales with collisions, never doc pairs); packing is a per-source
  * running sum (windows parallelize across sources — global packing
  * would range-partition by a sort key and offset per-partition sums,
  * same two-pass shape as `Metrics.aucBinaryBucketed`); repetition and
  * chunking are map + keyed-agg / pure map, shuffle-free or one
  * partial-agg shuffle.
  */
object Curation {

  /** Shard count shared by `corpusShuffle` and its oracle twin. */
  private[graft] val DefaultShards = 8

  /** Word n-grams per doc, distinct — the shingle unit for
    * decontamination overlap. Docs under `gram` tokens are guarded out
    * (Spark's `sequence(1, 0)` runs DESCENDING; DuckDB's range is
    * empty — same guard in the oracle keeps the doc sets identical).
    */
  private def docGrams(docs: DataFrame, gram: Int = 3,
      hashKey: Boolean = false): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= gram)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(a) - ${gram - 1}), i -> " +
          s"array_join(slice(a, i, $gram), ' '))")).as("gtext"))
      // hash BEFORE the distinct — the per-doc dedup is the first and
      // largest shuffle of the gram stream, and it must already ride
      // the 8-byte key for hashKey to pay
      .select(col("doc_id"),
        (if (hashKey) xxhash64(col("gtext")) else col("gtext")).as("g"))
      .distinct()

  /** decontaminate — benchmark/eval-set leakage check: flag every
    * training doc sharing at least one word `gram`-gram with the eval
    * slice (here `doc_id % 10 == 0`), with the count of shared distinct
    * grams. The join is keyed on the gram itself, so cost scales with
    * actual overlap; a genuinely-small eval set's gram table broadcasts
    * (left to AQE's size gate rather than a hint — eval sets grow too).
    *
    * The declared `decontaminate` row keeps 3-grams (dense overlap at
    * harness corpus sizes exercises the full join); `decontaminate_13`
    * declares the PUBLISHED production shingle — 13-gram overlap is the
    * GPT-3/PaLM-lineage decontamination standard (long enough that a
    * match means real leakage, not phrase coincidence) — through the
    * same plan at the width real curation runs.
    *
    * `hashKey` keys the leakage join on `xxhash64(g)` instead of the
    * literal gram text — 8 bytes vs ~70 chars at gram = 13 on BOTH
    * shuffled sides (the `substringDupDocs(hashKey)` economics; a
    * collision can only merge two grams, inflating n_hits by at most
    * one at 2⁻⁶⁴ probability). CurationSpec pins hash-keyed ≡
    * text-keyed; the declared rows keep the text key for the oracle.
    */
  def decontaminateDocs(docs: DataFrame, gram: Int = 3,
      hashKey: Boolean = false): DataFrame = {
    val grams = docGrams(docs, gram, hashKey)
    val evalGrams = grams.filter(col("doc_id") % 10 === 0)
      .select(col("g")).distinct()
    grams.filter(col("doc_id") % 10 =!= 0)
      .join(evalGrams, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  def decontaminate(s: SparkSession, d: String): DataFrame =
    decontaminateDocs(Tables.documents(s, d))

  /** Overlap decontamination against an EXPLICIT eval frame (round-11
    * review fix): `decontaminateDocs` encodes the eval slice as
    * `doc_id % 10 == 0` OF ITS INPUT — fine for the declared rows
    * (their slices are residue-safe by construction), a silent trap
    * for a runner fed arbitrary batches (a batch whose ids happen to
    * be ≡ 0 mod 10 would be TREATED AS the eval set and never flagged).
    * This form takes the eval docs as their own frame, so no id
    * convention exists to violate; `RunIngest` uses it. Same gram
    * chain, same equi-join shape.
    */
  def decontaminateAgainst(docs: DataFrame, evalDocs: DataFrame,
      gram: Int = 3, hashKey: Boolean = false): DataFrame = {
    val evalGrams = docGrams(evalDocs, gram, hashKey)
      .select(col("g")).distinct()
    docGrams(docs, gram, hashKey)
      .join(evalGrams, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** seq_pack — fixed-budget sequence packing (2048-char budget):
    * concatenate each source's docs in doc_id order and assign every
    * doc the sequence its first character lands in, plus its offset
    * within the running stream modulo the budget. One running sum per
    * source — the standard "concat then split at budget boundaries"
    * packing a trainer's data loader performs, made deterministic.
    */
  /** Generic two-pass KEYED prefix-sum packer: the running sum of
    * `size` within each `key` group ordered by `ord`, computed WITHOUT
    * a per-key ordered window. A `Window.partitionBy(key)` serializes
    * each key's whole history through one task — fatal when key
    * cardinality is O(1) (source, modality) while the corpus is 100 TB.
    * Here: range-repartition on (key, ord) → per-Spark-partition local
    * running sums → per-(key, partition) totals (a ≤ parts×|keys| frame,
    * where the ordered window is free) → broadcast the cross-partition
    * base offsets back. Emits (key, ord, size, pack_id, pack_off);
    * `CurationSpec`/`MultimodalSpec` assert ≡ the window twins.
    */
  def prefixPackBy(df: DataFrame, key: String, ord: String, size: String,
                   budget: Int, partitions: Int = 0): DataFrame = {
    val parts =
      if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, col(key), col(ord))
      .select(col(key), col(ord), col(size), spark_partition_id().as("pid"))
    val inPart = Window.partitionBy(col("pid"), col(key)).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // materialized before the offsets/join fan-out — the two subtrees
    // otherwise re-evaluate the range exchange independently, and the
    // boundary sample is only deterministic off stable input order
    // (the Rank.globalRank lesson: re-evaluated upstream shuffles
    // fetch in varying order)
    val local = ranged.withColumn("cum_in", sum(col(size)).over(inPart))
      .truncated()
    val offsets = local.groupBy(col(key), col("pid"))
      .agg(max(col("cum_in")).as("tot"))
      .withColumn("base",
        coalesce(sum(col("tot")).over(
          Window.partitionBy(col(key)).orderBy(col("pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(key), col("pid"), col("base"))
    local.join(broadcast(offsets), Seq(key, "pid"))
      .select(col(key), col(ord), col(size),
        floor((col("base") + col("cum_in") - col(size)) / budget)
          .cast("long").as("pack_id"),
        ((col("base") + col("cum_in") - col(size)) % budget).as("pack_off"))
  }

  /** seq_pack — the declared query ships the two-pass keyed prefix sum
    * (`prefixPackBy`); `seqPackDocsWindow` is the oracle-literal window
    * twin (spec-asserted ≡). Source cardinality does not grow with the
    * corpus, so the window form is NOT the 100-TB plan.
    */
  def seqPackDocs(docs: DataFrame, budget: Int = 2048): DataFrame =
    prefixPackBy(docs.select(col("source"), col("doc_id"), col("n_chars")),
      "source", "doc_id", "n_chars", budget)
      .select(col("source"), col("doc_id"),
        col("pack_id").as("seq_id"), col("pack_off"))

  /** Window twin of `seqPackDocs` — oracle semantics, O(1)-cardinality
    * window key; kept only to pin the two-pass form in CurationSpec.
    */
  def seqPackDocsWindow(docs: DataFrame, budget: Int = 2048): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("source"), col("doc_id"), col("n_chars"),
        sum(col("n_chars")).over(w).as("cum"))
      .select(col("source"), col("doc_id"),
        floor((col("cum") - col("n_chars")) / budget).cast("long").as("seq_id"),
        ((col("cum") - col("n_chars")) % budget).as("pack_off"))
  }

  def seqPack(s: SparkSession, d: String): DataFrame =
    seqPackDocs(Tables.documents(s, d))

  /** Global (cross-source) packing WITHOUT a one-partition window: the
    * two-pass distributed prefix sum. Pass 1 range-partitions by the
    * pack order and takes per-partition running sums; pass 2 computes
    * each partition's starting offset from the (num-partitions-sized)
    * totals table — tiny, so its one-partition window is free — and
    * broadcast-joins it back. Output is identical to a global-order
    * running sum, but no task ever sees more than its own range slice.
    * Same shape as `Metrics.aucBinaryBucketed`'s rank statistic.
    */
  def seqPackGlobal(docs: DataFrame, budget: Int = 2048, partitions: Int = 0): DataFrame = {
    val parts =
      if (partitions > 0) partitions
      else docs.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = docs.repartitionByRange(parts, col("doc_id"))
      .select(col("doc_id"), col("n_chars"), spark_partition_id().as("pid"))
    val inPart = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("cum_in", sum(col("n_chars")).over(inPart))
    // per-partition totals: numShufflePartitions rows — the one global
    // ordered window in the plan runs over THIS frame only
    val offsets = local.groupBy(col("pid")).agg(max(col("cum_in")).as("tot"))
      .withColumn("base",
        coalesce(sum(col("tot")).over(
          Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("base"))
    local.join(broadcast(offsets), "pid")
      .select(col("doc_id"),
        floor((col("base") + col("cum_in") - col("n_chars")) / budget).cast("long").as("seq_id"),
        ((col("base") + col("cum_in") - col("n_chars")) % budget).as("pack_off"))
  }

  /** quality_repetition — Gopher-style repetition signals: token count,
    * unique-token count, duplicate-token fraction, and top-token
    * frequency share. Two keyed aggregations, both with map-side
    * partials; nothing leaves the (doc, token) key space.
    */
  def qualityRepetitionDocs(docs: DataFrame): DataFrame = {
    val tokCounts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n"))
    tokCounts.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tok"), count(lit(1)).as("n_unique"), max(col("n")).as("top_n"))
      .select(col("doc_id"), col("n_tok"), col("n_unique"),
        rnd(lit(1.0) - col("n_unique") / col("n_tok"), 6).as("rep_ratio"),
        rnd(col("top_n") / col("n_tok"), 6).as("top_ratio"))
  }

  def qualityRepetition(s: SparkSession, d: String): DataFrame =
    qualityRepetitionDocs(Tables.documents(s, d))

  /** doc_chunk — fixed-width character chunking with overlap (width 64,
    * stride 48): the retrieval/embedding-ingest split. Pure per-row
    * map — chunk index math stays in-engine (`sequence` + `substring`),
    * no shuffle, scans stream through.
    */
  def docChunkDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, (greatest(length(text) - 64, 0) + 47) div 48)")).as("i"))
      .select(col("doc_id"), col("i").cast("int").as("chunk_id"),
        expr("substring(text, cast(i * 48 + 1 as int), 64)").as("chunk"))

  def docChunk(s: SparkSession, d: String): DataFrame =
    docChunkDocs(Tables.documents(s, d))

  /** doc_chunk_tokens — TOKEN-budget chunking with overlap (32 tokens,
    * stride 24): the RAG/embedding-ingest split as embedding models
    * actually bound it — by token count, not characters (`doc_chunk` is
    * the byte-oriented sibling). Whitespace tokens (the repo-wide
    * `split(text, ' ')` convention), chunks rejoined with a single
    * space; the last chunk may be short, and the chunk count formula is
    * the `doc_chunk` ceiling: (max(n−32, 0) + 23) div 24 + 1, so every
    * token lands in ≥ 1 chunk and consecutive chunks share 8 tokens of
    * context. Pure per-row map — the token array, index sequence, and
    * slice stay in-engine; no shuffle, scans stream through.
    */
  def docChunkTokensDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, (greatest(size(toks) - 32, 0) + 23) div 24)")).as("i"))
      .select(col("doc_id"), col("i").cast("int").as("chunk_id"),
        expr("array_join(slice(toks, cast(i * 24 + 1 as int), 32), ' ')").as("chunk"),
        expr("cast(least(32, size(toks) - i * 24) as int)").as("n_toks"))

  def docChunkTokens(s: SparkSession, d: String): DataFrame =
    docChunkTokensDocs(Tables.documents(s, d))

  /** pii_redact — pattern-based PII scrubbing (the pre-training privacy
    * pass): email-shaped tokens then digit runs masked, with a count of
    * masked spans per record. Pure map — codegen'd regexp over each
    * partition, zero shuffle, scales linearly. Runs on `events.props`
    * (the one column of this synthetic corpus with digit content — the
    * documents table is letters-only, which would make the redaction
    * path vacuous); both patterns are RE2-and-Java-regex-compatible so
    * the DuckDB twin applies the identical expressions.
    */
  def piiRedactProps(events: DataFrame): DataFrame = {
    val emailPat = "[A-Za-z0-9.%+-]+@[A-Za-z0-9.-]+"
    val deEmailed = regexp_replace(col("props"), emailPat, "<EMAIL>")
    events.select(
      col("event_id"),
      regexp_replace(deEmailed, "[0-9]+", "<NUM>").as("redacted"),
      (regexp_count(col("props"), lit(emailPat)) +
        regexp_count(deEmailed, lit("[0-9]+"))).as("n_masked"))
  }

  def piiRedact(s: SparkSession, d: String): DataFrame =
    piiRedactProps(Tables.events(s, d))

  /** pii_stats — the audit row next to `pii_redact`: per event type,
    * how many email-shaped tokens and digit runs the redaction pass
    * WOULD mask, and how many records carry any. This is the report a
    * privacy review reads before approving a corpus release — same
    * patterns as `piiRedactProps` (one definition of "PII-shaped"
    * repo-wide), one map + one keyed aggregate, zero extra scans.
    */
  def piiStatsProps(events: DataFrame): DataFrame = {
    val emailPat = "[A-Za-z0-9.%+-]+@[A-Za-z0-9.-]+"
    val de = regexp_replace(col("props"), emailPat, "<EMAIL>")
    events.select(col("event_type"),
        regexp_count(col("props"), lit(emailPat)).as("em"),
        regexp_count(de, lit("[0-9]+")).as("nm"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("em").cast("long")).as("emails"),
        sum(col("nm").cast("long")).as("digit_runs"),
        sum(when(col("em") + col("nm") > 0, 1L).otherwise(0L)).as("affected"))
  }

  def piiStats(s: SparkSession, d: String): DataFrame =
    piiStatsProps(Tables.events(s, d))

  /** corpus_split — deterministic train/val/test holdout (98/1/1 by
    * md5 hex-prefix uniform of doc_id — the `sample_hash` trick, so
    * membership is a pure function of the document id: reshuffling,
    * re-partitioning or re-running the pipeline can never leak a
    * holdout doc into train, the property row-number splits lack).
    * The library function is the ASSIGNMENT (`corpusSplitAssign`);
    * the declared row aggregates it into the split manifest a
    * training run records (counts, char mass, share). One map + one
    * keyed aggregate.
    */
  def corpusSplitAssign(docs: DataFrame): DataFrame = {
    val u16 = conv(substring(md5(concat(lit("split_"),
      col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
    docs.withColumn("split",
      when(u16 < 64225, "train")        // floor(0.98 · 65536)
        .when(u16 < 64880, "val")       // floor(0.99 · 65536)
        .otherwise("test"))
  }

  def corpusSplit(s: SparkSession, d: String): DataFrame =
    corpusSplitAssign(Tables.documents(s, d))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("share", rnd(col("n_docs").cast("double") /
        sum(col("n_docs")).over(Window.partitionBy()), 6))

  /** pii_pseudonymize — keyed deterministic pseudonymization of the
    * customer table (the release form `anon_kanon`/`anon_ldiversity`/
    * `anon_tcloseness` audit): the join key and the direct identifier
    * are replaced by salted md5 surrogates (SAME input → SAME
    * surrogate, so joinability across released tables survives —
    * that's the property pseudonymization has and redaction lacks),
    * the account balance generalizes to a 100-unit band, and the
    * quasi-identifiers ride through for the downstream k-anon check.
    * Pure map, zero shuffle. A production run swaps the fixed salt for
    * a vaulted secret; plumbing is identical.
    */
  def piiPseudonymize(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      md5(concat(lit("k1_"), col("c_custkey").cast("string"))).as("sur_key"),
      md5(concat(lit("n1_"), col("c_name"))).as("sur_name"),
      col("c_nationkey"), col("c_mktsegment"),
      (floor(col("c_acctbal") / 100) * 100).cast("long").as("acctbal_band"))

  /** corpus_line_dedup — C4/RefinedWeb-style repeated-line removal:
    * drop every "line" whose exact text occurs in ≥ `minDocs` distinct
    * documents (navigation chrome, licence boilerplate, cookie
    * banners), then reassemble each document from its surviving lines
    * in order. This corpus has no newlines, so the line unit is a
    * deterministic `width`-token segment — the PIPELINE (explode →
    * corpus-wide count → anti-join → ordered reassembly) is the real
    * operator and is segmentation-agnostic.
    *
    * Scale shape: segmentation is a pure map (split + sequence +
    * slice, no per-token explode); the boilerplate set is one keyed
    * count-distinct with map-side partials; removal is an anti-join on
    * the segment text (work scales with actual repetition — the
    * boilerplate side is output-bounded and AQE broadcasts it when
    * genuinely small); reassembly and the per-doc totals are two
    * keyed aggs sharing the doc_id shuffle key. Per-doc state in the
    * reassembly collect is the doc's own segments — document-bounded,
    * same bound as the source row. Documents whose every segment is
    * boilerplate drop out entirely (C4 behavior; `n_kept` ≥ 1 on
    * every emitted row).
    */
  def lineDedupDocs(docs: DataFrame, width: Int = 4, minDocs: Int = 3): DataFrame = {
    // the segment frame feeds THREE consumers (boilerplate counts, the
    // anti-join probe side, per-doc totals) — materialize the
    // segmentation once instead of re-running the corpus scan + explode
    // per consumer (`checkpoint()`/persist on a cluster; same
    // materialize-the-fan-out discipline as pageRank's edge table)
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .select(col("doc_id"), col("a"),
        explode(expr(s"sequence(0, (size(a) - 1) div $width)")).as("seg_id"))
      .select(col("doc_id"), col("seg_id"),
        array_join(slice(col("a"), col("seg_id") * width + 1, lit(width)), " ").as("stext"))
      .truncated()
    val boiler = segs.groupBy("stext")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("stext")
    val kept = segs.join(boiler, Seq("stext"), "left_anti")
    val tot = segs.groupBy("doc_id").agg(count(lit(1)).as("n_seg"))
    kept.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg_id"), col("stext")))),
            x => x.getField("stext")), " ").as("text_clean"))
      .join(tot, "doc_id")
      .select(col("doc_id"), col("n_kept"),
        (col("n_seg") - col("n_kept")).as("n_dropped"), col("text_clean"))
  }

  /** corpus_shuffle — deterministic training-order shuffle + sharding:
    * every doc gets a seeded permutation key (md5 over a salted id — a
    * different salt is a different epoch's order), a shard from the
    * key's leading byte, and a position within its shard by key order.
    * rand()-free on purpose: the order is reproducible across engines,
    * runs, and partitionings (same property as `sample_hash`), which is
    * what makes a training run resumable and auditable.
    *
    * Scale shape: exactly the sharded-training-data write pattern —
    * hash-shuffle by shard, sort WITHIN each shard (per-shard windows
    * parallelize across the shard count; production shard counts are
    * thousands, so no window sees more than corpus/shards rows), then
    * each shard streams to its own file in final training order. No
    * global sort anywhere.
    */
  def corpusShuffle(s: SparkSession, d: String, nShards: Int = DefaultShards): DataFrame = {
    val key = md5(concat(lit("shuf:"), col("doc_id").cast("string")))
    val shard = pmod(conv(substring(col("skey"), 1, 2), 16, 10).cast("int"), lit(nShards))
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), key.as("skey"))
      .select(col("doc_id"), col("skey"), shard.as("shard"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  def lineDedup(s: SparkSession, d: String): DataFrame =
    lineDedupDocs(Tables.documents(s, d))

  /** The `corpus_shuffle` oracle derived from the SAME shard count as
    * the Scala default (the bpeRoundSql discipline: one constant, both
    * engines) — a caller re-declaring the row at another `nShards` gets
    * a matching twin instead of a silently-divergent hardcoded `% 8`.
    * Leading byte = 16·d1 + d2 (the instr-based hex-digit decode
    * `sample_stratified` already uses).
    */
  private[graft] def corpusShuffleSql(nShards: Int = DefaultShards): String =
    "WITH k AS (SELECT doc_id, md5('shuf:' || doc_id::VARCHAR) AS skey FROM documents), " +
      "sh AS (SELECT doc_id, skey, (((instr('0123456789abcdef', substr(skey, 1, 1)) - 1) * 16 " +
      s"+ (instr('0123456789abcdef', substr(skey, 2, 1)) - 1)) % $nShards)::INT AS shard FROM k) " +
      "SELECT doc_id, shard, " +
      "row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)::INT AS pos FROM sh"

  /** corpus_curate — the END-TO-END keep/drop decision a curation
    * pipeline produces per training doc, composing three independently
    * oracle-gated families into one verdict row: the published Gopher
    * quality rules (`TextAnalysis.qualityGopherDocs`), the 8-token
    * repeated-window boilerplate ratio (`Dedup.substringDupDocs`,
    * dropped above 0.2 — the threshold drops ~9 % of this corpus), and
    * 13-gram eval-set decontamination (`decontaminateDocs(gram = 13)`,
    * the published shingle). keep = quality ∧ ¬boilerplate ∧
    * ¬contaminated; eval docs (doc_id % 10 = 0) are not training docs
    * and are excluded from the verdict.
    *
    * Scale: three independent passes over documents — each already the
    * validated at-scale shape (shuffle-free map / window-count join /
    * gram equi-join) — composed by doc_id equi-joins whose inputs are
    * one row per doc. Nothing here adds a new scaling dimension; the
    * row exists so the COMPOSITION (the thing a real pipeline actually
    * ships) is driver-visible and oracle-gated, not just its parts.
    */
  def corpusCurate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val gopher = TextAnalysis.qualityGopherDocs(docs)
      .select(col("doc_id"), col("keep").as("gopher_keep"))
    val boiler = Dedup.substringDupDocs(docs)
      .select(col("doc_id"), col("dup_ratio"))
    val contam = decontaminateDocs(docs, gram = 13)
      .select(col("doc_id"), lit(true).as("contaminated"))
    docs.filter(col("doc_id") % 10 =!= 0).select("doc_id")
      .join(gopher, "doc_id")
      .join(boiler, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("gopher_keep"),
        // docs too short for an 8-token window have no windows → ratio 0
        coalesce(col("dup_ratio"), lit(0.0)).as("dup_ratio"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .withColumn("keep",
        col("gopher_keep") && col("dup_ratio") <= 0.2 && !col("contaminated"))
  }

  /** corpus_domain_cap — per-domain contribution cap: keep at most
    * `cap` documents per source, preferring the longest (tie → lowest
    * doc_id) — the C4/RefinedWeb-lineage guard against any single
    * domain dominating the training mix (a crawl where one boilerplate
    * site contributes 10⁸ pages would otherwise swamp every
    * temperature-mixed ratio `corpus_mix_temperature` computes).
    * One per-source window top-k; at scale the window input can be
    * pre-pruned with a per-partition local top-cap (the grouped-top-k
    * kernel `GroupedTopKRewrite` rewrites to), so the sort never sees
    * more than cap × partitions rows per source.
    */
  /** The one source of truth for the declared row's cap — interpolated
    * into the oracle string below so Spark and DuckDB cannot drift.
    */
  private[graft] val DomainCapN = 5

  def domainCap(s: SparkSession, d: String, cap: Int = DomainCapN): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rn"))
  }

  /** corpus_dedup_report — per-source duplication audit: the summary a
    * curation run publishes BEFORE committing to a dedup pass (how much
    * would exact dedup reclaim? how much more does normalization
    * expose?). Per source: doc count, exact-distinct texts (md5), and
    * normalized-distinct (the SAME canonical form `text_normalize`
    * derives and `dedup_norm_keep_best` groups by — one shared
    * definition, so the report's numbers predict exactly what those
    * operators would do), plus the two dup-rate ratios derived from
    * exact BIGINTs at the edge.
    *
    * Scale: two count-distincts per source over 16-byte digests — the
    * digest rides the exchange, never the payload (`multimodal_dedup`
    * discipline); one partial-agg shuffle at source cardinality.
    */
  def dedupReportDocs(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))
    docs
      .select(col("source"), md5(col("text")).as("eh"), md5(norm).as("nh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("eh")).as("n_exact"),
        countDistinct(col("nh")).as("n_norm"))
      .select(col("source"), col("n_docs"), col("n_exact"), col("n_norm"),
        rnd(lit(1.0) - col("n_exact") / col("n_docs").cast("double"), 6).as("exact_dup_rate"),
        rnd(lit(1.0) - col("n_norm") / col("n_docs").cast("double"), 6).as("norm_dup_rate"))
  }

  def dedupReport(s: SparkSession, d: String): DataFrame =
    dedupReportDocs(Tables.documents(s, d))

  /** corpus_overlap_matrix — cross-source contamination matrix: for
    * every source pair, how many distinct word 3-grams they share, each
    * side's distinct-gram total, and the Jaccard of the two gram sets —
    * the "is source B a mirror of source A" triage that decides which
    * pairs deserve a full doc-level dedup pass. Shape: one distinct
    * (source, gram) projection (the only corpus-cardinality pass), then
    * a gram-keyed self-join — per-gram fan-out is bounded by SOURCE
    * cardinality (the gram list is already distinct per source), never
    * by corpus size, so a shared boilerplate gram costs |sources|²
    * pairs, not docs². Counts exact; Jaccard is the one closing double.
    *
    * Eager: the call materializes the result as a `Ckpt.truncate`
    * checkpoint before it returns, and that checkpoint stays pinned
    * (`clearCache()` does not drop it). Inside a `Ckpt.scoped` build it
    * is released with the scope's other intermediates; a caller outside
    * a scope owns it and must `Ckpt.release` the returned frame when
    * done, or it stays resident until the ContextCleaner reclaims the
    * unreferenced frame.
    */
  def sourceOverlapMatrix(docs: DataFrame, gram: Int = 3): DataFrame = {
    // the distinct (source, gram) projection is truncated ONCE (round
    // 17 — the `noveltyDocs` rule): it feeds THREE consumers (both
    // self-join legs and the per-source totals), and lazy it re-ran the
    // corpus-cardinality gram explode per consumer — 2-3 repeated
    // single-task explode stages per run at sf0.1 (OPTIMIZATION_r17.md
    // change 5). Values
    // unchanged; the corpus-sized checkpoint is released once the
    // result is materialized (eager-fold + release, the family
    // discipline).
    val sg = graft.core.Ckpt.truncate(
      docs.select(col("source"), split(col("text"), " ").as("a"))
        .filter(size(col("a")) >= gram)
        .select(col("source"), explode(expr(
          s"transform(sequence(1, size(a) - ${gram - 1}), i -> " +
            s"array_join(slice(a, i, $gram), ' '))")).as("g"))
        .distinct())
    val totals = sg.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val out = graft.core.Ckpt.truncate(
      sg.select(col("g"), col("source").as("src_a"))
        .join(sg.select(col("g"), col("source").as("src_b")), "g")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("shared"))
        .join(totals.select(col("source").as("src_a"), col("n_grams").as("grams_a")), "src_a")
        .join(totals.select(col("source").as("src_b"), col("n_grams").as("grams_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("shared"), col("grams_a"), col("grams_b"),
          rnd(col("shared") / (col("grams_a") + col("grams_b") - col("shared")).cast("double"), 6)
            .as("jaccard")))
    graft.core.Ckpt.release(sg)
    out
  }

  def overlapMatrix(s: SparkSession, d: String): DataFrame =
    sourceOverlapMatrix(Tables.documents(s, d))

  /** corpus_snapshot_diff — keyed diff between two corpus SNAPSHOTS
    * (round 9): per doc_id, added / removed / changed / unchanged,
    * rolled up to per-status doc and char counts — the crawl-refresh
    * read-out every recurring ingestion runs before reprocessing ("2 %
    * changed, 0.5 % new → incremental curation, not a full rerun").
    * Change detection is md5(text) equality — digests ride the one
    * full-outer shuffle join on doc_id, never payload-vs-payload
    * comparison (the `dedup_exact` digest discipline), so the join
    * carries two hashes + a length per row regardless of document
    * size. Counts are map-side-combining aggregates over the ≤ 4-row
    * status key.
    */
  def snapshotDiff(prev: DataFrame, curr: DataFrame): DataFrame = {
    val p = prev.select(col("doc_id"), md5(col("text")).as("h_prev"),
      length(col("text")).cast("long").as("len_prev"))
    val c = curr.select(col("doc_id"), md5(col("text")).as("h_curr"),
      length(col("text")).cast("long").as("len_curr"))
    p.join(c, Seq("doc_id"), "full_outer")
      .select(
        when(col("h_prev").isNull, "added")
          .when(col("h_curr").isNull, "removed")
          .when(col("h_prev") =!= col("h_curr"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("len_curr"), col("len_prev")).as("len"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
  }

  /** Declared-row derivation: both snapshots from the one documents
    * table — prev drops doc_id ≡ 0 (mod 7), curr drops ≡ 0 (mod 5)
    * (adds + removes), and curr upper-cases doc_id ≡ 0 (mod 11)
    * (changes) — deterministic in both engines.
    */
  def snapshotDiffQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val prev = docs.filter(col("doc_id") % 7 =!= 0)
    val curr = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, upper(col("text"))).otherwise(col("text")).as("text"))
    snapshotDiff(prev, curr)
  }

  // ---- ingest_manifest: the incremental-recuration funnel --------------

  /** Memoized J ≥ 0.95 near-dup pair set over the 500-doc dedup slice —
    * the standing "signature table" all three ingest rows
    * (`ingest_manifest`, `ingest_manifest2`, `ingest_retract`) consume,
    * built once per (session, dir) like `Graph.walksShared` /
    * `Dedup.minhashClusters` (round 13, VERDICT r12 #5: the pair chain
    * was ~2.4 s of each row's ~5 s — three rows × two bench samples
    * re-verified the same pairs six times). RESTRICTED to pairs
    * touching a batch residue (doc_id ≡ 1 or 3 mod 5 — the union of
    * the three consumers' drop-stage needs; corp×corp pairs are verify
    * waste no consumer reads): a new consumer needing corp-internal
    * pairs must widen the predicate. `Bench` charges the cold build as
    * its own `build_ingest_pairs` line.
    */
  private[graft] def slicePairs(s: SparkSession, d: String): DataFrame =
    graft.core.SharedFrames(s, d, "ingest_pairs") {
      val isB = (c: org.apache.spark.sql.Column) => c % 5 === 1 || c % 5 === 3
      graft.core.Ckpt.truncate(
        Dedup.minhashLshPairs(s,
            Tables.documents(s, d).filter(col("doc_id") < 500)
              .select(col("doc_id"), col("text")),
            candPredicate = isB(col("d1")) || isB(col("d2")))
          .filter(col("jaccard") >= 0.95))
    }

  def releaseShared(): Unit = graft.core.SharedFrames.release("ingest_pairs")

  /** ingest_manifest — the per-stage delta funnel a RECURRING crawl's
    * ingest run publishes (round 11, VERDICT r10 #1): a new batch
    * (doc_id ≡ 3 mod 5 of the 500-doc dedup slice — the `docSlice`
    * bound that keeps the LSH oracle tractable) flows through the
    * incremental pipeline against the standing corpus (the other ~400
    * docs):
    *
    *   batch_in → digest_new (drop exact refreshes of indexed docs —
    *   the `corpus_snapshot_diff` digest discipline, batch×corpus
    *   anti-join on md5(text)) → quality_gopher (the published rules)
    *   → dedup_exact (intra-batch keep-min per digest) →
    *   near_dup_vs_index (drop batch docs with an LSH-verified J ≥ 0.95
    *   CROSS pair against any corpus doc — 0.95, not the house 0.8,
    *   because the dedup slice's planted near-dup density at 0.8 empties
    *   the funnel (66/100 batch docs pair across the split; see
    *   dedup_minhash_lsh's own 30 k pairs) and a degenerate all-zero
    *   tail would gate nothing — `minhashLshPairs` over the
    *   slice, pairs with exactly one batch side; the declared twin of
    *   `nearDupsAgainstIndex`'s persisted-index path, RunIngestSpec
    *   reconciles the two) → decontam_13 (drop survivors sharing a
    *   13-gram with the corpus eval slice, doc_id ≡ 0 mod 10).
    *
    * Every stage reuses the declared operators' own builders; the
    * oracle splices their SQL (gopher CTE, the shared minhash pair
    * chain, the 13-gram chain), so the funnel cannot drift from the
    * rows it composes. `run.RunIngest` is the path-based production
    * composition of the same stages (persisted index, append, report).
    */
  def ingestManifest(s: SparkSession, d: String): DataFrame = {
    import graft.core.Ckpt
    val slice = Tables.documents(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    val isBatch = (c: org.apache.spark.sql.Column) => c % 5 === 3
    val batch = slice.filter(isBatch(col("doc_id")))
    val corp = slice.filter(!isBatch(col("doc_id")))
    // pairs come from the memoized slice pair set (slicePairs — built
    // once per (session, dir), shared with ingest_manifest2/_retract)
    val drops = slicePairs(s, d)
      .filter(isBatch(col("doc_id1")) =!= isBatch(col("doc_id2")))
      .select(when(isBatch(col("doc_id1")), col("doc_id1"))
        .otherwise(col("doc_id2")).as("doc_id")).distinct()
    // single-pass stage flags (the ingestStages round-13 shape — see
    // its scaladoc; this row keeps its own decontaminateDocs eval-slice
    // convention, so the chains stay separate)
    val gKeep = TextAnalysis.qualityGopherDocs(batch)
      .filter(col("keep")).select(col("doc_id"), lit(1).as("g"))
    val corpH = corp.select(md5(col("text")).as("h")).distinct()
      .withColumn("sh", lit(1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val fMat = Ckpt.truncate(
      batch.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
        .join(corpH, Seq("h"), "left")
        .join(gKeep, Seq("doc_id"), "left")
        .join(drops.withColumn("dr", lit(1)), Seq("doc_id"), "left")
        .withColumn("f2", col("sh").isNull)
        .withColumn("f3", col("sh").isNull && col("g").isNotNull)
        .withColumn("f4", col("f3") &&
          col("doc_id") === min(when(col("f3"), col("doc_id"))).over(w))
        .withColumn("f5", col("f4") && col("dr").isNull)
        .select(col("doc_id"), col("text"),
          col("f2"), col("f3"), col("f4"), col("f5")))
    val evalDocs = slice.filter(col("doc_id") % 10 === 0)
    val cont = decontaminateDocs(
      fMat.filter(col("f5")).select(col("doc_id"), col("text"))
        .unionAll(evalDocs), gram = 13).select("doc_id")
    val ann = Ckpt.truncate(
      fMat.join(cont.withColumn("ct", lit(1)), Seq("doc_id"), "left")
        .withColumn("f6", col("f5") && col("ct").isNull))
    Ckpt.release(fMat)
    val folded = stageStack(ann, Seq("1_batch_in", "2_digest_new",
      "3_quality_gopher", "4_dedup_exact", "5_near_dup_vs_index",
      "6_decontam_13"))
    val out = Ckpt.truncate(folded)
    Ckpt.release(ann)
    out
  }

  /** Shared stage chain for `ingest_manifest2` / `ingest_retract`: one
    * batch through digest-diff / gopher / exact keep-min /
    * near-dup-vs-standing / 13-gram decontam against an EXPLICIT
    * standing frame. `pairs` is the (already thresholded) near-dup pair
    * set over the whole slice — computed once and shared by both runs,
    * exactly like the persisted index's signature table is in
    * `run.RunIngest`.
    *
    * SINGLE-PASS fold (round 13, VERDICT r12 #5): the original shape
    * returned six lazily-chained frames, and the callers' 6-branch
    * count union re-evaluated the chain TRIANGULARLY (~21 subchain
    * evaluations for 6 counts — stage counting, not stage semantics,
    * was the cost). Here every per-doc stage verdict is a FLAG COLUMN
    * on one annotated batch frame — digest-match / gopher-keep /
    * drop-hit as left-join markers, the exact keep-min as a
    * min-over-digest window among gopher survivors — materialized once
    * (a ≤ batch-sized checkpoint; the decontam flag joins on after,
    * since its gram scan is DEFINED on stage-5 survivors). Each
    * returned frame is a filter over the one materialized block, so
    * counting all six stages costs one chain evaluation. Set semantics
    * are unchanged stage for stage (gopher is per-doc, so flagging the
    * whole batch ≡ flagging the digest survivors); the oracle keeps
    * its NOT-IN-chained shape.
    */
  private def ingestStages(batch: DataFrame, standing: DataFrame,
      pairs: DataFrame, evalDocs: DataFrame): DataFrame = {
    import graft.core.Ckpt
    val drops = pairs.select(col("doc_id1").as("b"), col("doc_id2").as("o"))
      .unionAll(pairs.select(col("doc_id2").as("b"), col("doc_id1").as("o")))
      .join(batch.select(col("doc_id").as("b")), "b")
      .join(standing.select(col("doc_id").as("o")), "o")
      .select(col("b").as("doc_id")).distinct()
    val gKeep = TextAnalysis.qualityGopherDocs(batch)
      .filter(col("keep")).select(col("doc_id"), lit(1).as("g"))
    val standH = standing.select(md5(col("text")).as("h")).distinct()
      .withColumn("sh", lit(1))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val flags = batch.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
      .join(standH, Seq("h"), "left")
      .join(gKeep, Seq("doc_id"), "left")
      .join(drops.withColumn("dr", lit(1)), Seq("doc_id"), "left")
      .withColumn("f2", col("sh").isNull)
      .withColumn("f3", col("sh").isNull && col("g").isNotNull)
    val fMat = Ckpt.truncate(flags
      .withColumn("f4", col("f3") &&
        col("doc_id") === min(when(col("f3"), col("doc_id"))).over(w))
      .withColumn("f5", col("f4") && col("dr").isNull)
      .select(col("doc_id"), col("text"), col("f2"), col("f3"), col("f4"), col("f5")))
    val cont = decontaminateAgainst(
      fMat.filter(col("f5")).select(col("doc_id"), col("text")),
      evalDocs.select(col("doc_id"), col("text")), gram = 13).select("doc_id")
    val ann = Ckpt.truncate(
      fMat.join(cont.withColumn("ct", lit(1)), Seq("doc_id"), "left")
        .withColumn("f6", col("f5") && col("ct").isNull)
        .drop("ct"))
    Ckpt.release(fMat)
    // the CALLER releases `ann` once its fold has materialized (the
    // graph_harmonic release discipline — every consumer reads this one
    // block)
    ann
  }

  /** The six stage counts as one `stack` over ONE aggregate of the
    * annotated frame — the fold's previous shape union'd six
    * single-row aggregates, and under AQE each branch scheduled its own
    * stage chain (~60 jobs per ingest row on a 500-doc slice whose cost
    * is ALL scheduling). One aggregate + a generator emits the same
    * (stage, survivors) rows in one branch.
    */
  private def stageStack(ann: DataFrame, names: Seq[String]): DataFrame = {
    require(names.length == 6, s"six stage names expected, got $names")
    def c(f: String) = coalesce(sum(col(f).cast("long")), lit(0L))
    ann.agg(count(lit(1)).as("c1"), c("f2").as("c2"), c("f3").as("c3"),
      c("f4").as("c4"), c("f5").as("c5"), c("f6").as("c6"))
      .selectExpr("stack(6, " +
        names.zipWithIndex.map { case (n, i) => s"'$n', c${i + 1}" }.mkString(", ") +
        ") AS (stage, survivors)")
  }

  /** ingest_manifest2 — the RECURRING-ingest semantics as a declared,
    * oracle-gated row (round 12, VERDICT r11 #4): `ingest_manifest`
    * gates the FIRST run's funnel; this row gates run 2 AGAINST RUN 1'S
    * APPENDED STATE — the actual loop `run.RunIngest`'s reuse mode
    * executes. Deterministic two-batch split of the 500-doc slice:
    * batch₁ ≡ 1 (mod 5), batch₂ ≡ 3 (mod 5), standing corpus the other
    * three residues. Run 1 funnels batch₁ against the standing corpus;
    * its survivors APPEND (standing₁ = corpus ∪ survivors₁); run 2
    * funnels batch₂ against standing₁ — so batch₂'s digest diff and
    * near-dedup see run 1's survivors, which is exactly what the
    * persisted-index append buys a recurring crawl. Emitted rows: run
    * 1's appended count (gating the reuse state itself) + run 2's six
    * stage counts. Both runs share ONE near-dup pair set over the slice
    * (J ≥ 0.95 — the `ingest_manifest` density rationale), Ckpt-
    * truncated because both runs' drop stages consume it; the eval
    * slice (doc_id ≡ 0 mod 10) is standing₁-derived but equals the
    * corpus's (survivors₁ ≡ 1 mod 5 can never be ≡ 0 mod 10). The
    * oracle splices the same chains twice with run 1's survivor CTE
    * MATERIALIZED into run 2's standing set.
    */
  def ingestManifest2(s: SparkSession, d: String): DataFrame = {
    import graft.core.Ckpt
    val slice = Tables.documents(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    val b1 = slice.filter(col("doc_id") % 5 === 1)
    val b2 = slice.filter(col("doc_id") % 5 === 3)
    val corp0 = slice.filter(col("doc_id") % 5 =!= 1 && col("doc_id") % 5 =!= 3)
    // pairs: the memoized slice pair set (round 13, VERDICT r12 #5 —
    // the ~2.4 s pair chain was rebuilt by every ingest row and bench
    // sample; slicePairs builds it once per (session, dir) and Bench
    // charges the cold build as build_ingest_pairs)
    val pairs = slicePairs(s, d)
    val evalDocs = slice.filter(col("doc_id") % 10 === 0)
    val ann1 = ingestStages(b1, corp0, pairs, evalDocs)
    val surv1 = Ckpt.truncate(
      ann1.filter(col("f6")).select(col("doc_id"), col("text")))
    val standing1 = corp0.unionAll(surv1)
    val ann2 = ingestStages(b2, standing1, pairs, evalDocs)
    val folded = surv1.agg(count(lit(1)).as("survivors"))
      .select(lit("0_run1_appended").as("stage"), col("survivors"))
      .unionAll(stageStack(ann2, Seq("1_batch_in", "2_digest_new",
        "3_quality_gopher", "4_dedup_exact", "5_near_dup_vs_index",
        "6_decontam_13")))
    // eager-fold + release (the graph_harmonic round-12 discipline at a
    // smaller scale): the 7-row result must not pin the survivor/
    // annotation checkpoints across bench runs (the pair memo's
    // lifetime is the registry's, not this row's)
    val out = Ckpt.truncate(folded)
    Ckpt.release(surv1)
    Ckpt.release(ann1)
    Ckpt.release(ann2)
    out
  }

  /** ingest_retract — the DELETION path's semantics as a declared,
    * oracle-gated row (round 13, VERDICT r12 "What's missing #1"):
    * takedowns / license revocations / opt-outs remove docs from the
    * standing state, and the next batch must ingest against the state
    * that FORGOT them — in particular, a re-crawled near-copy of a
    * retracted doc must be APPENDED, not near-dup-dropped. Deterministic
    * split of the 500-doc slice: batch ≡ 3 (mod 5), standing₀ the other
    * residues, retract set = standing₀ ∩ (doc_id ≡ 0 mod 4) — a quarter
    * of the standing corpus, dense enough that some batch docs' ONLY
    * near-dup partners are retracted. Emitted rows: standing-before /
    * retracted counts, the six-stage funnel against the LIVE standing
    * (digest diff, near-dedup, and the eval slice all see
    * standing₀ ∖ retracted), and `8_revived` — exact-stage survivors
    * dropped by the FULL standing's pairs but not by the live one's:
    * docs that exist in the kept corpus ONLY because the index forgot
    * their retracted partners, the behavioral proof of deletion.
    * `Dedup.removeFromLshIndex`/`compactLshIndex` +
    * `run.RunIngest --retract` are the path-based production
    * composition (tombstones + physical rewrite); RunIngestSpec
    * reconciles the two.
    */
  def ingestRetract(s: SparkSession, d: String): DataFrame = {
    import graft.core.Ckpt
    val slice = Tables.documents(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    val batch = slice.filter(col("doc_id") % 5 === 3)
    val corp0 = slice.filter(col("doc_id") % 5 =!= 3)
    val retracted = corp0.filter(col("doc_id") % 4 === 0)
    val standing = corp0.filter(col("doc_id") % 4 =!= 0)
    // pairs: the memoized slice pair set (the ingest_manifest2 note)
    val pairs = slicePairs(s, d)
    val evalDocs = standing.filter(col("doc_id") % 10 === 0)
    val ann = ingestStages(batch, standing, pairs, evalDocs)
    def dropsAgainst(st: DataFrame) =
      pairs.select(col("doc_id1").as("b"), col("doc_id2").as("o"))
        .unionAll(pairs.select(col("doc_id2").as("b"), col("doc_id1").as("o")))
        .join(batch.select(col("doc_id").as("b")), "b")
        .join(st.select(col("doc_id").as("o")), "o")
        .select(col("b").as("doc_id")).distinct()
    val revived = ann.filter(col("f4")).select(col("doc_id"))
      .join(dropsAgainst(corp0), Seq("doc_id"), "left_semi")
      .join(dropsAgainst(standing), Seq("doc_id"), "left_anti")
    val folded = corp0
      .agg(count(lit(1)).as("c1"),
        coalesce(sum((col("doc_id") % 4 === 0).cast("long")), lit(0L)).as("c2"))
      .selectExpr("stack(2, '1_standing_before', c1, '2_retracted', c2) " +
        "AS (stage, survivors)")
      .unionAll(stageStack(ann, Seq("3_batch_in", "4_digest_new",
        "5_quality_gopher", "6_dedup_exact", "7_near_dup_vs_index",
        "9_decontam_13")))
      .unionAll(revived.agg(count(lit(1)).as("survivors"))
        .select(lit("8_revived").as("stage"), col("survivors")))
    // eager-fold + release (the ingest_manifest2 discipline): the 9-row
    // result must not pin the annotation checkpoint across bench runs
    val out = Ckpt.truncate(folded)
    Ckpt.release(ann)
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_manifest" -> ingestManifest,
    "ingest_manifest2" -> ingestManifest2,
    "ingest_retract" -> ingestRetract,
    "corpus_snapshot_diff" -> snapshotDiffQuery,
    "corpus_dedup_report" -> dedupReport,
    "corpus_domain_cap" -> ((s, d) => domainCap(s, d)),
    "corpus_curate" -> corpusCurate,
    "decontaminate" -> decontaminate,
    "decontaminate_13" -> ((ss, d) => decontaminateDocs(graft.Tables.documents(ss, d), gram = 13)),
    "seq_pack" -> seqPack,
    "quality_repetition" -> qualityRepetition,
    "doc_chunk" -> docChunk,
    "doc_chunk_tokens" -> docChunkTokens,
    "pii_redact" -> piiRedact,
    "pii_stats" -> piiStats,
    "pii_pseudonymize" -> piiPseudonymize,
    "corpus_split" -> corpusSplit,
    "corpus_line_dedup" -> graft.core.Ckpt.scopedQ(lineDedup),
    "corpus_shuffle" -> ((s, d) => corpusShuffle(s, d)),
    "corpus_overlap_matrix" -> overlapMatrix,
  )

  /** DuckDB twins (rnd() rewritten by `Queries.duckify`). */
  /** Shared CTE chain for the retraction twins (`ingest_retract` and
    * `retract_stream` — one SQL source of truth): the ingest_manifest
    * splice with the standing corpus REDUCED by the retract set
    * (doc_id ≡ 0 mod 4). Digest diff, the near-dup drop, and the eval
    * slice all see the LIVE standing (`cps`); `drops_full` (vs the
    * pre-retraction standing) exists only for the batch twin's
    * revived-rows proof.
    */
  private def retractCtes: String = {
    val sw = TextAnalysis.GopherStopwords.map("'" + _ + "'").mkString("(", ", ", ")")
    s"WITH ${Dedup.minhashPairsCtes}, " +
      "base AS (SELECT doc_id, text, md5(text) AS h FROM documents WHERE doc_id < 500), " +
      "b1 AS (SELECT * FROM base WHERE doc_id % 5 = 3), " +
      "cp0 AS (SELECT * FROM base WHERE doc_id % 5 <> 3), " +
      "cps AS MATERIALIZED (SELECT * FROM cp0 WHERE doc_id % 4 <> 0), " +
      "s2 AS (SELECT * FROM b1 WHERE h NOT IN (SELECT h FROM cps)), " +
      "gw AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2), " +
      "gq AS (SELECT doc_id FROM gw WHERE len(w)::INT >= 50 " +
      "AND rnd(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 6) BETWEEN 3e0 AND 10e0 " +
      s"AND len(list_filter(w, x -> x IN $sw))::INT >= 2), " +
      "s3 AS (SELECT s2.* FROM s2 JOIN gq USING (doc_id)), " +
      "s4 AS MATERIALIZED (SELECT * FROM s3 WHERE doc_id IN " +
      "(SELECT min(doc_id) FROM s3 GROUP BY h)), " +
      "drops_live AS (SELECT DISTINCT CASE WHEN d1 % 5 = 3 THEN d1 ELSE d2 END AS doc_id " +
      "FROM jj WHERE j >= 0.95e0 AND (" +
      "(d1 % 5 = 3 AND d2 IN (SELECT doc_id FROM cps)) OR " +
      "(d2 % 5 = 3 AND d1 IN (SELECT doc_id FROM cps)))), " +
      "drops_full AS (SELECT DISTINCT CASE WHEN d1 % 5 = 3 THEN d1 ELSE d2 END AS doc_id " +
      "FROM jj WHERE j >= 0.95e0 AND (" +
      "(d1 % 5 = 3 AND d2 IN (SELECT doc_id FROM cp0)) OR " +
      "(d2 % 5 = 3 AND d1 IN (SELECT doc_id FROM cp0)))), " +
      "s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM drops_live)), " +
      "t13 AS (SELECT doc_id, string_split(text, ' ') AS a FROM base " +
      "WHERE (doc_id % 10 = 0 AND doc_id % 4 <> 0) OR doc_id IN (SELECT doc_id FROM s5)), " +
      "g13 AS (SELECT DISTINCT doc_id, array_to_string(a[i::INT:(i + 12)::INT], ' ') AS g " +
      "FROM (SELECT doc_id, a, unnest(range(1, len(a) - 11)) AS i FROM t13 WHERE len(a) >= 13)), " +
      "ev AS (SELECT DISTINCT g FROM g13 WHERE doc_id % 10 = 0), " +
      "cont AS (SELECT DISTINCT doc_id FROM g13 WHERE doc_id % 10 <> 0 " +
      "AND g IN (SELECT g FROM ev)), " +
      "s6 AS (SELECT * FROM s5 WHERE doc_id NOT IN (SELECT doc_id FROM cont)) "
  }

  val rawOracles: Map[String, String] = Map(
    "ingest_manifest" -> {
      val sw = TextAnalysis.GopherStopwords.map("'" + _ + "'").mkString("(", ", ", ")")
      // the composed funnel: shared minhash pair chain (Dedup's own
      // CTEs), the corpus_curate gopher expression, the decontaminate_13
      // gram chain — each stage NOT-IN/IN-chained exactly as the builder
      s"WITH ${Dedup.minhashPairsCtes}, " +
        "base AS (SELECT doc_id, text, md5(text) AS h FROM documents WHERE doc_id < 500), " +
        "b1 AS (SELECT * FROM base WHERE doc_id % 5 = 3), " +
        "cp AS (SELECT * FROM base WHERE doc_id % 5 <> 3), " +
        "s2 AS (SELECT * FROM b1 WHERE h NOT IN (SELECT h FROM cp)), " +
        "gw AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2), " +
        "gq AS (SELECT doc_id FROM gw WHERE len(w)::INT >= 50 " +
        "AND rnd(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 6) BETWEEN 3e0 AND 10e0 " +
        s"AND len(list_filter(w, x -> x IN $sw))::INT >= 2), " +
        "s3 AS (SELECT s2.* FROM s2 JOIN gq USING (doc_id)), " +
        "s4 AS (SELECT * FROM s3 WHERE doc_id IN (SELECT min(doc_id) FROM s3 GROUP BY h)), " +
        "drops AS (SELECT DISTINCT CASE WHEN d1 % 5 = 3 THEN d1 ELSE d2 END AS doc_id " +
        "FROM jj WHERE j >= 0.95e0 AND ((d1 % 5 = 3) <> (d2 % 5 = 3))), " +
        "s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM drops)), " +
        "t13 AS (SELECT doc_id, string_split(text, ' ') AS a FROM base " +
        "WHERE doc_id % 10 = 0 OR doc_id IN (SELECT doc_id FROM s5)), " +
        "g13 AS (SELECT DISTINCT doc_id, array_to_string(a[i::INT:(i + 12)::INT], ' ') AS g " +
        "FROM (SELECT doc_id, a, unnest(range(1, len(a) - 11)) AS i FROM t13 WHERE len(a) >= 13)), " +
        "ev AS (SELECT DISTINCT g FROM g13 WHERE doc_id % 10 = 0), " +
        "cont AS (SELECT DISTINCT doc_id FROM g13 WHERE doc_id % 10 <> 0 " +
        "AND g IN (SELECT g FROM ev)), " +
        "s6 AS (SELECT * FROM s5 WHERE doc_id NOT IN (SELECT doc_id FROM cont)) " +
        "SELECT '1_batch_in' AS stage, count(*) AS survivors FROM b1 " +
        "UNION ALL SELECT '2_digest_new', count(*) FROM s2 " +
        "UNION ALL SELECT '3_quality_gopher', count(*) FROM s3 " +
        "UNION ALL SELECT '4_dedup_exact', count(*) FROM s4 " +
        "UNION ALL SELECT '5_near_dup_vs_index', count(*) FROM s5 " +
        "UNION ALL SELECT '6_decontam_13', count(*) FROM s6"
    },

    "ingest_retract" -> (retractCtes +
        "SELECT '1_standing_before' AS stage, count(*) AS survivors FROM cp0 " +
        "UNION ALL SELECT '2_retracted', count(*) FROM cp0 WHERE doc_id % 4 = 0 " +
        "UNION ALL SELECT '3_batch_in', count(*) FROM b1 " +
        "UNION ALL SELECT '4_digest_new', count(*) FROM s2 " +
        "UNION ALL SELECT '5_quality_gopher', count(*) FROM s3 " +
        "UNION ALL SELECT '6_dedup_exact', count(*) FROM s4 " +
        "UNION ALL SELECT '7_near_dup_vs_index', count(*) FROM s5 " +
        "UNION ALL SELECT '8_revived', count(*) FROM s4 " +
        "WHERE doc_id IN (SELECT doc_id FROM drops_full) " +
        "AND doc_id NOT IN (SELECT doc_id FROM drops_live) " +
        "UNION ALL SELECT '9_decontam_13', count(*) FROM s6"),

    // retract_stream (round 14): the STREAMED retract-then-ingest state
    // machine gated on the same CTE chain — no revived row (that
    // per-doc provenance is the batch twin's), plus the standing-state
    // closure: corpus_after = live standing + decontam survivors
    "retract_stream" -> (retractCtes +
        "SELECT '1_standing_before' AS stage, count(*) AS survivors FROM cp0 " +
        "UNION ALL SELECT '2_retracted', count(*) FROM cp0 WHERE doc_id % 4 = 0 " +
        "UNION ALL SELECT '3_batch_in', count(*) FROM b1 " +
        "UNION ALL SELECT '4_digest_new', count(*) FROM s2 " +
        "UNION ALL SELECT '5_quality_gopher', count(*) FROM s3 " +
        "UNION ALL SELECT '6_dedup_exact', count(*) FROM s4 " +
        "UNION ALL SELECT '7_near_dup_vs_index', count(*) FROM s5 " +
        "UNION ALL SELECT '8_decontam_13', count(*) FROM s6 " +
        "UNION ALL SELECT '9_corpus_after', " +
        "(SELECT count(*) FROM cps) + (SELECT count(*) FROM s6)"),

    "ingest_manifest2" -> {
      val sw = TextAnalysis.GopherStopwords.map("'" + _ + "'").mkString("(", ", ", ")")
      // run 1's funnel (batch ≡ 1 mod 5 vs the two-batch-free corpus),
      // survivors MATERIALIZED into run 2's standing set, then run 2's
      // funnel (batch ≡ 3 mod 5) — each stage the same spliced chains
      // as ingest_manifest, instantiated twice
      def funnel(p: String, bRem: Int, standIds: String, standH: String) =
        s"${p}s2 AS (SELECT * FROM base WHERE doc_id % 5 = $bRem " +
          s"AND h NOT IN (SELECT h FROM $standH)), " +
          s"${p}gw AS (SELECT doc_id, string_split(text, ' ') AS w FROM ${p}s2), " +
          s"${p}gq AS (SELECT doc_id FROM ${p}gw WHERE len(w)::INT >= 50 " +
          "AND rnd(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 6) BETWEEN 3e0 AND 10e0 " +
          s"AND len(list_filter(w, x -> x IN $sw))::INT >= 2), " +
          s"${p}s3 AS (SELECT ${p}s2.* FROM ${p}s2 JOIN ${p}gq USING (doc_id)), " +
          s"${p}s4 AS (SELECT * FROM ${p}s3 WHERE doc_id IN " +
          s"(SELECT min(doc_id) FROM ${p}s3 GROUP BY h)), " +
          s"${p}drops AS (SELECT DISTINCT CASE WHEN d1 % 5 = $bRem THEN d1 ELSE d2 END AS doc_id " +
          s"FROM jj WHERE j >= 0.95e0 AND (" +
          s"(d1 % 5 = $bRem AND d2 IN (SELECT doc_id FROM $standIds)) OR " +
          s"(d2 % 5 = $bRem AND d1 IN (SELECT doc_id FROM $standIds)))), " +
          s"${p}s5 AS (SELECT * FROM ${p}s4 WHERE doc_id NOT IN (SELECT doc_id FROM ${p}drops)), " +
          s"${p}t13 AS (SELECT doc_id, string_split(text, ' ') AS a FROM base " +
          s"WHERE doc_id % 10 = 0 OR doc_id IN (SELECT doc_id FROM ${p}s5)), " +
          s"${p}g13 AS (SELECT DISTINCT doc_id, array_to_string(a[i::INT:(i + 12)::INT], ' ') AS g " +
          s"FROM (SELECT doc_id, a, unnest(range(1, len(a) - 11)) AS i FROM ${p}t13 WHERE len(a) >= 13)), " +
          s"${p}ev AS (SELECT DISTINCT g FROM ${p}g13 WHERE doc_id % 10 = 0), " +
          s"${p}cont AS (SELECT DISTINCT doc_id FROM ${p}g13 WHERE doc_id % 10 <> 0 " +
          s"AND g IN (SELECT g FROM ${p}ev)), " +
          s"${p}s6 AS MATERIALIZED (SELECT * FROM ${p}s5 WHERE doc_id NOT IN " +
          s"(SELECT doc_id FROM ${p}cont))"
      s"WITH ${Dedup.minhashPairsCtes}, " +
        "base AS (SELECT doc_id, text, md5(text) AS h FROM documents WHERE doc_id < 500), " +
        "cp0 AS MATERIALIZED (SELECT * FROM base WHERE doc_id % 5 <> 1 AND doc_id % 5 <> 3), " +
        funnel("r1", 1, "cp0", "cp0") + ", " +
        "stand AS MATERIALIZED (SELECT doc_id, h FROM cp0 " +
        "UNION ALL SELECT doc_id, h FROM r1s6), " +
        funnel("r2", 3, "stand", "stand") + " " +
        "SELECT '0_run1_appended' AS stage, count(*) AS survivors FROM r1s6 " +
        "UNION ALL SELECT '1_batch_in', count(*) FROM base WHERE doc_id % 5 = 3 " +
        "UNION ALL SELECT '2_digest_new', count(*) FROM r2s2 " +
        "UNION ALL SELECT '3_quality_gopher', count(*) FROM r2s3 " +
        "UNION ALL SELECT '4_dedup_exact', count(*) FROM r2s4 " +
        "UNION ALL SELECT '5_near_dup_vs_index', count(*) FROM r2s5 " +
        "UNION ALL SELECT '6_decontam_13', count(*) FROM r2s6"
    },

    "corpus_snapshot_diff" ->
      ("WITH p AS (SELECT doc_id, md5(text) AS h_prev, length(text)::BIGINT AS len_prev " +
        "FROM documents WHERE doc_id % 7 <> 0), " +
        "c AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS h_curr, " +
        "length(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END)::BIGINT AS len_curr " +
        "FROM documents WHERE doc_id % 5 <> 0), " +
        "j AS (SELECT CASE WHEN h_prev IS NULL THEN 'added' " +
        "WHEN h_curr IS NULL THEN 'removed' " +
        "WHEN h_prev <> h_curr THEN 'changed' ELSE 'unchanged' END AS status, " +
        "coalesce(len_curr, len_prev) AS len " +
        "FROM p FULL OUTER JOIN c USING (doc_id)) " +
        "SELECT status, count(*) AS n_docs, sum(len)::BIGINT AS n_chars " +
        "FROM j GROUP BY 1"),

    "corpus_split" ->
      ("WITH a AS (SELECT doc_id, n_chars, (((" +
        "(instr('0123456789abcdef', substr(md5('split_' || doc_id::VARCHAR), 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substr(md5('split_' || doc_id::VARCHAR), 2, 1)) - 1)) * 16 + " +
        "(instr('0123456789abcdef', substr(md5('split_' || doc_id::VARCHAR), 3, 1)) - 1)) * 16 + " +
        "(instr('0123456789abcdef', substr(md5('split_' || doc_id::VARCHAR), 4, 1)) - 1)) AS u16 " +
        "FROM documents), " +
        "s AS (SELECT CASE WHEN u16 < 64225 THEN 'train' " +
        "WHEN u16 < 64880 THEN 'val' ELSE 'test' END AS split, n_chars FROM a), " +
        "g AS (SELECT split, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars " +
        "FROM s GROUP BY 1) " +
        "SELECT split, n_docs, n_chars, " +
        "rnd(n_docs::DOUBLE / (SELECT sum(n_docs) FROM g), 6) AS share FROM g"),

    "pii_pseudonymize" ->
      ("SELECT md5('k1_' || c_custkey::VARCHAR) AS sur_key, " +
        "md5('n1_' || c_name) AS sur_name, c_nationkey, c_mktsegment, " +
        "(floor(c_acctbal / 100) * 100)::BIGINT AS acctbal_band FROM customer"),

    "pii_stats" ->
      // same two patterns as pii_redact; counts all exact integers
      ("WITH de AS (SELECT event_type, " +
        "len(regexp_extract_all(props, '[A-Za-z0-9.%+-]+@[A-Za-z0-9.-]+'))::INT AS em, " +
        "len(regexp_extract_all(regexp_replace(props, " +
        "'[A-Za-z0-9.%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), '[0-9]+'))::INT AS nm " +
        "FROM events) " +
        "SELECT event_type, count(*) AS n, sum(em)::BIGINT AS emails, " +
        "sum(nm)::BIGINT AS digit_runs, " +
        "sum(CASE WHEN em + nm > 0 THEN 1 ELSE 0 END)::BIGINT AS affected " +
        "FROM de GROUP BY 1"),
    "corpus_dedup_report" ->
      // same md5 digests; the normalized key is text_normalize's exact
      // regex pipeline (the 'g' flag = Spark's replace-all)
      ("WITH k AS (SELECT source, md5(text) AS eh, " +
        "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
        "'  +', ' ', 'g'))) AS nh FROM documents), " +
        "g AS (SELECT source, count(*) AS n_docs, count(DISTINCT eh) AS n_exact, " +
        "count(DISTINCT nh) AS n_norm FROM k GROUP BY 1) " +
        "SELECT source, n_docs, n_exact, n_norm, " +
        "rnd(1e0 - n_exact / n_docs::DOUBLE, 6) AS exact_dup_rate, " +
        "rnd(1e0 - n_norm / n_docs::DOUBLE, 6) AS norm_dup_rate FROM g"),
    "corpus_domain_cap" ->
      ("SELECT source, doc_id, n_chars, rn::INT AS rn FROM (" +
        "SELECT source, doc_id, n_chars, row_number() OVER (PARTITION BY source " +
        s"ORDER BY n_chars DESC, doc_id) AS rn FROM documents) WHERE rn <= $DomainCapN"),

    "corpus_curate" -> {
      val sw = TextAnalysis.GopherStopwords.map("'" + _ + "'").mkString("(", ", ", ")")
      // the three families' own oracle CTEs (gopher signals, 8-token
      // window dup ratio, 13-gram eval overlap) joined on doc_id
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "gq AS (SELECT doc_id, (len(w)::INT >= 50 " +
        "AND rnd(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 6) BETWEEN 3e0 AND 10e0 " +
        s"AND len(list_filter(w, x -> x IN $sw))::INT >= 2) AS gopher_keep FROM t), " +
        "wn AS (SELECT doc_id, array_to_string(w[(i + 1)::INT:(i + 8)::INT], ' ') AS wtext " +
        "FROM (SELECT doc_id, w, unnest(range(0, len(w) - 7)) AS i FROM t WHERE len(w) >= 8)), " +
        "dup AS (SELECT wtext FROM (SELECT wtext, count(DISTINCT doc_id) AS nd " +
        "FROM wn GROUP BY 1) WHERE nd >= 2), " +
        "tot AS (SELECT doc_id, count(*) AS n_win FROM wn GROUP BY 1), " +
        "dd AS (SELECT doc_id, count(*) AS n_dup FROM wn " +
        "WHERE wtext IN (SELECT wtext FROM dup) GROUP BY 1), " +
        "br AS (SELECT tot.doc_id, rnd(coalesce(n_dup, 0) / n_win, 6) AS dup_ratio " +
        "FROM tot LEFT JOIN dd USING (doc_id)), " +
        "g13 AS (SELECT DISTINCT doc_id, array_to_string(w[i::INT:(i + 12)::INT], ' ') AS g " +
        "FROM (SELECT doc_id, w, unnest(range(1, len(w) - 11)) AS i FROM t WHERE len(w) >= 13)), " +
        "ev AS (SELECT DISTINCT g FROM g13 WHERE doc_id % 10 = 0), " +
        "ct AS (SELECT DISTINCT doc_id FROM g13 JOIN ev USING (g) WHERE doc_id % 10 <> 0) " +
        "SELECT b.doc_id, gq.gopher_keep, " +
        "coalesce(br.dup_ratio, 0e0) AS dup_ratio, " +
        "(ct.doc_id IS NOT NULL) AS contaminated, " +
        "(gq.gopher_keep AND coalesce(br.dup_ratio, 0e0) <= 0.2e0 AND ct.doc_id IS NULL) AS keep " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) b " +
        "JOIN gq ON gq.doc_id = b.doc_id " +
        "LEFT JOIN br ON br.doc_id = b.doc_id " +
        "LEFT JOIN ct ON ct.doc_id = b.doc_id"
    },

    "corpus_shuffle" -> corpusShuffleSql(),

    "corpus_overlap_matrix" ->
      // same distinct (source, 3-gram) projection and gram-keyed
      // self-join; Jaccard is the one closing double
      ("WITH t AS (SELECT source, string_split(text, ' ') AS a FROM documents), " +
        "g AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(a) - 1), " +
        "i -> a[i::INT] || ' ' || a[(i + 1)::INT] || ' ' || a[(i + 2)::INT])) AS g " +
        "FROM t WHERE len(a) >= 3), " +
        "tot AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1), " +
        "p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared " +
        "FROM g a JOIN g b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT src_a, src_b, shared, ta.n_grams AS grams_a, tb.n_grams AS grams_b, " +
        "rnd(shared / (ta.n_grams + tb.n_grams - shared)::DOUBLE, 6) AS jaccard " +
        "FROM p JOIN tot ta ON src_a = ta.source JOIN tot tb ON src_b = tb.source"),

    "decontaminate" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(a) - 1), " +
        "i -> a[i::INT] || ' ' || a[(i + 1)::INT] || ' ' || a[(i + 2)::INT])) AS g " +
        "FROM t WHERE len(a) >= 3), " +
        "e AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0) " +
        "SELECT doc_id, count(*) AS n_hits FROM g JOIN e USING (g) " +
        "WHERE doc_id % 10 <> 0 GROUP BY 1"),

    // the same leakage check at the published 13-gram shingle
    "decontaminate_13" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
        "g AS (SELECT DISTINCT doc_id, array_to_string(a[i::INT:(i + 12)::INT], ' ') AS g " +
        "FROM (SELECT doc_id, a, unnest(range(1, len(a) - 11)) AS i FROM t WHERE len(a) >= 13)), " +
        "e AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0) " +
        "SELECT doc_id, count(*) AS n_hits FROM g JOIN e USING (g) " +
        "WHERE doc_id % 10 <> 0 GROUP BY 1"),

    "seq_pack" ->
      ("WITH c AS (SELECT source, doc_id, n_chars, " +
        "(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING))::BIGINT AS cum FROM documents) " +
        "SELECT source, doc_id, floor((cum - n_chars) / 2048)::BIGINT AS seq_id, " +
        "(cum - n_chars) % 2048 AS pack_off FROM c"),

    "quality_repetition" ->
      ("WITH tc AS (SELECT doc_id, tok, count(*) AS n FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, sum(n)::BIGINT AS n_tok, count(*) AS n_unique, " +
        "max(n) AS top_n FROM tc GROUP BY 1) " +
        "SELECT doc_id, n_tok, n_unique, rnd(1e0 - n_unique / n_tok, 6) AS rep_ratio, " +
        "rnd(top_n / n_tok, 6) AS top_ratio FROM agg"),

    "doc_chunk" ->
      ("WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents), " +
        "i AS (SELECT doc_id, text, unnest(range(0, (greatest(len - 64, 0) + 47) // 48 + 1)) AS i " +
        "FROM d) " +
        "SELECT doc_id, i::INT AS chunk_id, substr(text, (i * 48 + 1)::INT, 64) AS chunk FROM i"),

    "doc_chunk_tokens" ->
      // same 32/24 token budget; list_slice end is inclusive, so the
      // window [i·24+1, i·24+32] matches Spark's slice(toks, i·24+1, 32)
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
        "len(string_split(text, ' ')) AS n FROM documents), " +
        "i AS (SELECT doc_id, toks, n, " +
        "unnest(range(0, (greatest(n - 32, 0) + 23) // 24 + 1)) AS i FROM d) " +
        "SELECT doc_id, i::INT AS chunk_id, " +
        "array_to_string(list_slice(toks, (i * 24 + 1)::INT, (i * 24 + 32)::INT), ' ') AS chunk, " +
        "least(32, n - i * 24)::INT AS n_toks FROM i"),

    "pii_redact" ->
      ("WITH de AS (SELECT event_id, props, " +
        "regexp_replace(props, '[A-Za-z0-9.%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g') AS t " +
        "FROM events) " +
        "SELECT event_id, regexp_replace(t, '[0-9]+', '<NUM>', 'g') AS redacted, " +
        "(len(regexp_extract_all(props, '[A-Za-z0-9.%+-]+@[A-Za-z0-9.-]+')) + " +
        "len(regexp_extract_all(t, '[0-9]+')))::INT AS n_masked FROM de"),

    "corpus_line_dedup" ->
      // identical segmentation (DuckDB list slices are 1-based inclusive
      // and clamp at the list end, same as Spark's slice), identical
      // boilerplate threshold, identical ordered reassembly
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
        "seg0 AS (SELECT doc_id, a, unnest(range(0, (len(a) + 3) // 4)) AS seg_id FROM d), " +
        "seg AS (SELECT doc_id, seg_id, " +
        "array_to_string(a[(seg_id * 4 + 1)::INT:((seg_id + 1) * 4)::INT], ' ') AS stext " +
        "FROM seg0), " +
        "boiler AS (SELECT stext FROM (SELECT stext, count(DISTINCT doc_id) AS nd " +
        "FROM seg GROUP BY 1) WHERE nd >= 3), " +
        "kept AS (SELECT * FROM seg WHERE stext NOT IN (SELECT stext FROM boiler)), " +
        "tot AS (SELECT doc_id, count(*) AS n_seg FROM seg GROUP BY 1) " +
        "SELECT k.doc_id, count(*) AS n_kept, t.n_seg - count(*) AS n_dropped, " +
        "string_agg(k.stext, ' ' ORDER BY k.seg_id) AS text_clean " +
        "FROM kept k JOIN tot t USING (doc_id) GROUP BY k.doc_id, t.n_seg"),
  )
}
