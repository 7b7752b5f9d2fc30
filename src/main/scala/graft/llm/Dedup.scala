package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Ckpt
import graft.core.Ckpt.TruncateSyntax
import graft.rel.Queries.rnd

/** Near-duplicate detection for training-data pipelines — the four
  * standard signatures beyond exact hashing (TextOps.dedupExact):
  * MinHash+LSH banding, SimHash, character-n-gram Jaccard, and
  * embedding-cosine near-dup (AnnSearch.dedupEmbedding).
  *
  * Scale design (100 TB): every method here turns the quadratic all-pairs
  * comparison into (a) per-doc signature computation — embarrassingly
  * parallel map + one keyed aggregation — and (b) an EQUI-join on
  * signature/band/bucket keys, which Spark shuffles by key instead of
  * cross-joining. Exact Jaccard verification then runs only on the
  * candidate pairs a band collision produced. The declared queries run on
  * the doc_id < 500 slice so the oracle's all-pairs CTEs stay bounded —
  * the operators themselves are slice-independent.
  *
  * Cross-engine hashing: both engines get md5 over identical strings
  * (lexicographic MIN over hex digests is a valid min-wise hash family
  * member per seed), so every signature is reproducible in DuckDB SQL —
  * no engine-specific hash function leaks into results.
  */
object Dedup {

  private val NumHashes = 8 // 4 bands × 2 rows
  private val RowsPerBand = 2
  private val SimBits = 16
  private val SimBands = 4 // pigeonhole: Hamming ≤ SimBands-1 ⇒ one band equal

  private def docSlice(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < 500)

  /** Per-doc MinHash signature ROW: m<i> = lexicographic min over the
    * doc's tokens of md5("i:token"), all `numHashes` mins in ONE
    * aggregate pass.
    *
    * Hashes are computed once per VOCABULARY entry (distinct token),
    * not per corpus occurrence: under a Zipfian corpus the vocab is
    * orders of magnitude smaller than the (doc, token) stream, so at
    * 100 TB this trades |corpus|·seeds md5 calls for |vocab|·seeds
    * calls plus one equi-join on `tok`.
    *
    * TRANSPOSED on purpose (round 6): each vocab row carries the ARRAY
    * of all `numHashes` hashes, and the per-doc reduction is numHashes
    * element-wise `min` aggregators over one corpus-row stream — NOT an
    * exploded (doc, tok) × seeds stream into a (doc, seed)-keyed agg.
    * The seed-exploded form multiplies the join output and the partial
    * aggregation's input by the signature width: at 64 hashes × 20 k
    * docs it ran 203 s where this shape runs the same math in one
    * corpus-width pass (PipelineScaleProbe minhash_lsh64 leg — the
    * production width is exactly where the explode hurt most). Same
    * md5 strings, same mins, bit-identical signatures — the oracle CTE
    * keeps its seed-unrolled shape.
    */
  private[graft] def minHashRow(toks: DataFrame, numHashes: Int): DataFrame = {
    val vocab = toks.select(col("tok")).distinct()
      .select(col("tok"), expr(
        s"transform(sequence(0, ${numHashes - 1}), s -> md5(concat(cast(s AS string), ':', tok)))")
        .as("hs"))
    val minCols = (0 until numHashes)
      .map(i => min(element_at(col("hs"), i + 1)).as(s"m$i"))
    toks.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
  }

  /** MinHash-LSH near-dup pairs: docs sharing any band signature become
    * candidates; exact Jaccard ≥ 0.8 verifies. Candidate generation is the
    * scale path — band equi-join instead of all-pairs.
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshPairs(s, docSlice(s, d))

  /** The full MinHash-LSH pipeline over an arbitrary (doc_id, text)
    * frame — `tools.PipelineScaleProbe` drives this at 100-500× the
    * bench corpus.
    *
    * `numHashes`/`rowsPerBand` size the signature: b = numHashes /
    * rowsPerBand bands of r = rowsPerBand rows give candidate recall
    * 1-(1-J^r)^b at Jaccard J. The declared query keeps 8 / 2 (the
    * oracle's constants, ~98 % at J = 0.8); production corpora run
    * 64-128 hashes — same plan shape, only the broadcast seed range and
    * the per-band concat width change.
    *
    * `maxBandBucket` (round-5 opt-in; DEFAULT-ON since round 9,
    * VERDICT r8 #7): a band signature shared by B docs yields B²
    * candidate pairs, and real corpora have degenerate buckets (empty
    * docs, boilerplate templates) where B is huge — the classic LSH
    * hot-bucket blowup, and the one failure mode that stops a 100 TB
    * run cold. Band buckets larger than the cap are EXCLUDED from
    * candidate generation — cap-then-continue, never a crash: a bucket
    * that size means near-identical members, which belong to exact
    * dedup (`dedupExact` collapses them for free), and pairs genuinely
    * at J ≥ threshold still surface through their other, less-
    * degenerate bands. Recall loss is confined to pairs ALL of whose
    * matching bands are oversized — measured ZERO on the
    * boilerplate-corpus probe's genuine near-dups (SCALE.md round-9
    * hot-bucket table: the 2 000-doc degenerate bucket's identical
    * members drop, every mutated near-dup pair survives through its
    * clean bands). The default (`DefaultMaxBandBucket` = 1000) is
    * output-invisible on the declared row at every harness SF — the
    * doc slice is 500 docs, so no bucket can reach the cap; pass 0 to
    * run uncapped (the audit-everything mode).
    */
  private[graft] val DefaultMaxBandBucket = 1000

  /** (doc_id, sig) banded signature rows: band b's signature =
    * band|m(b·r)…m(b·r+r−1), a PURE MAP over the one-row-per-doc
    * signature frame (the old (doc, seed) long form needed a second
    * (doc, band)-keyed shuffle to regroup rows the transposed aggregate
    * keeps side by side). Shared by the batch pair path and the
    * persisted-index path — one signature definition repo-wide.
    */
  /** Banded signatures for `docs` at the library-default banding — the
    * exact frame `nearDupsAgainstIndex(newSigs = ...)` and
    * `appendToLshIndex(sigs = ...)` accept (round 16: the streamed
    * ingest funnel builds the batch's signatures ONCE, checkpoints
    * them, and feeds both legs instead of re-running tokenize+minhash
    * per consumer).
    */
  def defaultBandSigs(docs: DataFrame): DataFrame =
    bandSigs(TextOps.docTokens(docs), NumHashes, RowsPerBand)

  private[graft] def bandSigs(toks: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val sigCols = (0 until numHashes / rowsPerBand).map { b =>
      concat(lit(b.toString) +: lit("|") +:
        (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    }
    minHashRow(toks, numHashes)
      .select(col("doc_id"), explode(array(sigCols: _*)).as("sig"))
  }

  /** `candPredicate` (round 13, VERDICT r12 #5): an optional filter on
    * the candidate pair columns (`d1`, `d2`) applied BEFORE the exact-
    * Jaccard verify — callers that consume only a pair subclass (the
    * ingest funnels need pairs touching a batch residue; corp×corp
    * pairs are ~36-64 % of the candidates and pure verify waste there)
    * prune the expensive leg without changing any returned pair they
    * read. The default `lit(true)` constant-folds away.
    */
  def minhashLshPairs(s: SparkSession, docs: DataFrame,
      numHashes: Int = NumHashes, rowsPerBand: Int = RowsPerBand,
      maxBandBucket: Int = DefaultMaxBandBucket,
      candPredicate: Column = lit(true)): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must be a multiple of rowsPerBand")
    // The (doc, tok) stream feeds the signature build, the vocabulary,
    // and the exact verify. Deliberately NOT persisted: measured slower
    // at every size tried (bench slice 1.3 s → 2.2 s; 50 k-doc probe
    // 32 s → 39-48 s) because caching materializes the full stream once
    // while recomputation lets each consumer push its own filters and
    // column pruning into the scan (the verify leg reads only candidate
    // docs' tokens). Contrast classifyPipeline, where the shared subtree
    // is O(N²) and persist wins 8× — persist the EXPENSIVE subtree, not
    // every shared one.
    val toks = TextOps.docTokens(docs)
    val sigsAll = bandSigs(toks, numHashes, rowsPerBand)
    // round 10 (VERDICT r9 #2): the bucket-size test rides the ONE
    // sig-keyed shuffle the candidate self-join pays anyway — a count
    // window over sig instead of the round-9 separate aggregate +
    // anti-join, which re-ran the whole signature pipeline a second time
    // (sigsAll is deliberately unpersisted, see the toks comment above).
    // The windowed frame is hash-partitioned on sig, so both legs of the
    // self-join below reuse this exchange — below the cap threshold the
    // guard costs only the in-partition count. `observe` publishes how
    // many (doc, band) rows the cap excluded (ADVICE r9: capped runs must
    // be distinguishable from uncapped — the no-silent-caps discipline);
    // the metric reaches any QueryExecutionListener when the query runs.
    val sigs =
      if (maxBandBucket <= 0) sigsAll
      else sigsAll
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("sig"))))
        .observe("minhash_lsh_cap",
          sum(when(col("bsz") > maxBandBucket, 1L).otherwise(0L)).as("capped_sig_rows"))
        .filter(col("bsz") <= maxBandBucket)
        .drop("bsz")
    val cand = sigs.select(col("doc_id").as("d1"), col("sig"))
      .join(sigs.select(col("doc_id").as("d2"), col("sig")), "sig")
      .filter(col("d1") < col("d2"))
      .filter(candPredicate)
      .select(col("d1"), col("d2")).distinct()

    // exact-Jaccard verification DRIVEN BY the candidate pairs — the
    // shared candidate-driven pipeline (TextOps.jaccardVerify scaladoc
    // has the scale argument and the probe-found co-occurrence trap)
    TextOps.jaccardVerify(cand, toks, 0.8)
      .select(col("doc_id1"), col("doc_id2"), rnd(col("j"), 6).as("jaccard"))
  }

  /** PERSISTED near-dup index (round 10) — build once, dedup each NEW
    * batch against it: the incremental-recuration shape a daily crawl
    * runs. `corpus_snapshot_diff` answers the digest-level question
    * (byte-identical refreshes); this answers the near-dup one WITHOUT
    * re-pairing the whole corpus — per batch the cost is
    * O(batch signatures + cross collisions), never index × index. The
    * index stores (a) the banded MinHash signature table and (b) the
    * raw docs — the verify leg's token source, re-tokenized ONLY for
    * candidate docs (the `minhashLshPairs` deliberate-non-persist
    * discipline: filters push into the stored-docs scan). The
    * `saveIvfIndex`/`FknnModel` persistence precedent applied to dedup.
    */
  def saveLshIndex(docs: DataFrame, path: String,
      numHashes: Int = NumHashes, rowsPerBand: Int = RowsPerBand): Unit = {
    bandSigs(TextOps.docTokens(docs), numHashes, rowsPerBand)
      .write.mode("overwrite").parquet(s"$path/sigs")
    docs.select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$path/docs")
    // persist the banding parameters next to the signatures (round-12
    // ADVICE): an append or search with a DIFFERENT banding would
    // silently corrupt/miss — `assertLshParams` fails fast instead
    val s = docs.sparkSession
    import s.implicits._
    Seq((numHashes, rowsPerBand)).toDF("num_hashes", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
    invalidateLshParams(s, path)
  }

  /** Fail fast when `numHashes`/`rowsPerBand` differ from the banding a
    * persisted index was built with — a mismatched append corrupts the
    * signature table so future `nearDupsAgainstIndex` calls silently
    * miss cross pairs. Indexes written before the params file existed
    * are rejected too (re-save them): an unverifiable contract is a
    * broken one at 100 TB.
    */
  /** Per-(session, path) memo of the banding-params read (round 16):
    * the streamed ingest funnel calls `assertLshParams` 2-3× per
    * micro-batch and each was a one-row parquet job (~60-100 ms of pure
    * scheduling at slice scale). The params are immutable except
    * through `saveLshIndex`/`rebandLshIndex`, which both invalidate the
    * entry; an out-of-process rewrite mid-session is outside the
    * library's crash contract (same assumption the tombstone FS probes
    * already make).
    */
  private val lshParamsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Int, Int)]

  private[graft] def invalidateLshParams(s: SparkSession, path: String): Unit =
    lshParamsCache.remove((s, path))

  private def assertLshParams(s: SparkSession, path: String,
      numHashes: Int, rowsPerBand: Int): Unit = {
    val (nh, rb) = lshParamsCache.getOrElseUpdate((s, path), {
      val p = s.read.parquet(s"$path/params").head()
      // by NAME, not position (round-12 ADVICE): a writer that reorders
      // the two columns must not silently swap the guard's operands
      (p.getAs[Int]("num_hashes"), p.getAs[Int]("rows_per_band"))
    })
    require(nh == numHashes && rb == rowsPerBand,
      s"LSH index at $path was built with numHashes=$nh rowsPerBand=$rb; " +
        s"got numHashes=$numHashes rowsPerBand=$rowsPerBand")
  }

  /** APPEND a new batch to a persisted LSH index (round 11): the
    * signature table and stored docs grow by the batch's rows — the
    * index-update leg of the recurring-crawl loop (`run.RunIngest`
    * appends each ingest's survivors so the NEXT batch near-dedups
    * against them). Parameters must match the build
    * (`saveLshIndex`); doc_ids must be new (the `nearDupsAgainstIndex`
    * disjointness precondition keeps appends idempotent per crawl).
    */
  def appendToLshIndex(docs: DataFrame, path: String,
      numHashes: Int = NumHashes, rowsPerBand: Int = RowsPerBand,
      sigs: Option[DataFrame] = None): Unit = {
    assertLshParams(docs.sparkSession, path, numHashes, rowsPerBand)
    // `sigs` (round 16): the streamed ingest funnel already built the
    // batch's banded signatures for its near-dup pass — a caller may
    // hand the (doc_id, sig) rows for EXACTLY `docs` at THIS banding
    // instead of paying a second tokenize+minhash chain per micro-batch.
    // The caller must pass a materialized (checkpointed) frame: a lazy
    // one whose lineage reads the index would recompute through state
    // this append is changing.
    sigs.getOrElse(bandSigs(TextOps.docTokens(docs), numHashes, rowsPerBand))
      .write.mode("append").parquet(s"$path/sigs")
    docs.select(col("doc_id"), col("text"))
      .write.mode("append").parquet(s"$path/docs")
  }

  /** The retracted-ids frame of a persisted LSH index, if any — the
    * tombstone table `removeFromLshIndex` appends and `compactLshIndex`
    * applies/clears. Readers anti-join it (it is takedown-sized, so the
    * anti-join broadcasts); a tombstone-free index pays one FS
    * existence probe.
    */
  private def lshTombstones(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(p.toString).select(col("doc_id")).distinct())
    else None
  }

  /** Logical view of a stored index table with tombstoned doc_ids
    * filtered out — every reader goes through this so retraction takes
    * effect IMMEDIATELY (the next search/ingest no longer sees the
    * retracted docs) while the physical rows wait for `compactLshIndex`.
    */
  private def liveIndexTable(s: SparkSession, path: String, table: String): DataFrame = {
    val t = s.read.parquet(s"$path/$table")
    lshTombstones(s, path).fold(t)(tomb => t.join(tomb, Seq("doc_id"), "left_anti"))
  }

  /** RETRACT docs from a persisted LSH index (round 13, VERDICT r12
    * "What's missing #1" — takedowns / license revocations / opt-outs):
    * appends the ids to the index's tombstone table. O(|ids|) — no
    * index pass; every reader (`nearDupsAgainstIndex`,
    * `reconcileLshIndex`) filters through the tombstones from the next
    * query on, so a re-crawled near-copy of a retracted doc is APPENDED
    * rather than near-dup-dropped — the index has forgotten it.
    * PHYSICAL deletion (the compliance half) is `compactLshIndex`'s
    * job; retracted doc_ids are RETIRED — do not re-append a tombstoned
    * id before compaction has cleared it (the appended rows would be
    * filtered as retracted).
    */
  def removeFromLshIndex(ids: DataFrame, path: String): Unit = {
    // fail fast on a non-index path — same contract as append/search
    assertLshParams(ids.sparkSession, path, NumHashes, RowsPerBand)
    ids.select(col("doc_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** Live (tombstone-filtered) stored docs of a persisted LSH index —
    * the maintenance legs' rebuild input (materialize before any
    * in-place rebuild: never overwrite a directory a lazy frame reads).
    */
  def loadLshDocs(s: SparkSession, path: String): DataFrame =
    liveIndexTable(s, path, "docs")

  /** BANDED-COLLISION RECALL of a persisted LSH index — the drift
    * observable that completes LSH's six-leg lifecycle parity with its
    * two siblings (round 16, VERDICT r15 #4: IVF has the cell-balance
    * ratio, the kNN graph has sampled adjacency recall; LSH had
    * compaction and the cap metric but no measurement that would
    * TRIGGER re-banding under token-distribution drift).
    *
    * For a deterministic hash-stride sample of live docs (1/sampleMod):
    *
    *  - TRUTH pairs: exact Jaccard ≥ `jThreshold` between sample docs
    *    and any live doc, candidates from SINGLE-HASH collisions
    *    (rows-per-band = 1 over the same `numHashes` MinHash row — the
    *    highest-recall banding the signature supports: a J ≥ 0.8 pair
    *    misses all 8 hashes with p ≈ (1−J)⁸ ≈ 3·10⁻⁶). The truth leg
    *    is deliberately UNCAPPED — a capped truth would bias the
    *    measurement optimistic exactly when drift makes buckets hot;
    *    its cost is the price of the observable, 1/sampleMod of a
    *    single-hash self-join, scheduled on the maintain cadence;
    *  - BANDED pairs: the STORED signature table's collisions for the
    *    same sample, with the deployment's hot-bucket cap applied the
    *    way `nearDupsAgainstIndex` applies it — so the measurement
    *    prices BOTH loss mechanisms a live deployment has: banding
    *    misses on the current content's J distribution AND cap
    *    exclusions on drift-flooded buckets;
    *  - recall = |truth ∩ banded| / |truth| (1.0 on an empty truth set).
    *
    * Returns (recall, truthPairs, bandedHits).
    */
  def lshBandedRecall(s: SparkSession, path: String, sampleMod: Int = 8,
      maxBandBucket: Int = DefaultMaxBandBucket,
      jThreshold: Double = 0.8): (Double, Long, Long) = {
    val p = s.read.parquet(s"$path/params").head()
    val (nh, rb) = (p.getAs[Int]("num_hashes"), p.getAs[Int]("rows_per_band"))
    val docs = liveIndexTable(s, path, "docs")
    val toks = TextOps.docTokens(docs)
    val sample = docs
      .filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
      .select(col("doc_id"))
    def samplePairs(sigs: DataFrame): DataFrame = sigs
      .join(sample, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("q_id"), col("sig"))
      .join(sigs.select(col("doc_id").as("t_id"), col("sig")), "sig")
      .filter(col("q_id") =!= col("t_id"))
      .select(least(col("q_id"), col("t_id")).as("d1"),
        greatest(col("q_id"), col("t_id")).as("d2"))
      .distinct()
    val truth = TextOps.jaccardVerify(samplePairs(bandSigs(toks, nh, 1)), toks, jThreshold)
      .select(col("doc_id1"), col("doc_id2")).persist()
    val nTruth = truth.count()
    val storedSigs = liveIndexTable(s, path, "sigs")
    val capped =
      if (maxBandBucket <= 0) storedSigs
      else storedSigs
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("sig"))))
        .filter(col("bsz") <= maxBandBucket).drop("bsz")
    val hits = truth.join(
      samplePairs(capped).select(col("d1").as("doc_id1"), col("d2").as("doc_id2")),
      Seq("doc_id1", "doc_id2"), "left_semi").count()
    truth.unpersist(blocking = false)
    (if (nTruth == 0) 1.0 else hits.toDouble / nTruth, nTruth, hits)
  }

  /** HOT-BUCKET CLIQUE COLLAPSE — the maintenance ACTION behind
    * `RunIngest.maintainLsh` (round 16): when banded recall drops, the
    * cause this library can measure is cap-hot buckets — a flood of
    * near-identical template content whose band signatures collapse
    * into buckets past `maxBandBucket`, where the deployed search's cap
    * excludes them and their true pairs go unfound. Re-banding cannot
    * fix that (SCALE.md round 16 measured it: a mutual near-dup
    * clique shares its signatures at ANY banding — 8×2 → 16×2 moved
    * recall 0.1037 → 0.1042), because the hot bucket IS a duplicate
    * cluster. The fix is what the index exists for: DEDUP the flood —
    *
    *   1. candidate pairs WITHIN hot buckets only (the quadratic is
    *      confined to Σ|hot|² and priced by the maintain cadence; every
    *      sub-cap bucket is untouched);
    *   2. exact-Jaccard verify at the index's operating threshold, then
    *      min-label connected components — the `dedup_cluster` policy;
    *   3. RETRACT every non-representative member (tombstones +
    *      physical compaction — the existing retraction legs), leaving
    *      one doc per clique.
    *
    * After the collapse the former clique's redundant members are no
    * longer index content (they were duplicates — removing them is the
    * index's verdict on them), buckets shrink under the cap, and
    * banded recall over the LIVE content recovers. Returns
    * (docs dropped, hot buckets found).
    */
  def collapseHotBuckets(s: SparkSession, path: String,
      maxBandBucket: Int = DefaultMaxBandBucket,
      jThreshold: Double = 0.8): (Long, Long) = {
    val sigs = liveIndexTable(s, path, "sigs")
    val hot = sigs.groupBy(col("sig")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBandBucket).select(col("sig"))
    val nHot = hot.count()
    if (nHot == 0) return (0L, 0L)
    val hotRows = sigs.join(hot, Seq("sig"), "left_semi")
    val cand = hotRows.select(col("doc_id").as("d1"), col("sig"))
      .join(hotRows.select(col("doc_id").as("d2"), col("sig")), "sig")
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val toks = TextOps.docTokens(liveIndexTable(s, path, "docs"))
    val pairs = TextOps.jaccardVerify(cand, toks, jThreshold)
      .select(col("doc_id1"), col("doc_id2"))
    val drop = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
    val n = drop.count()
    if (n > 0) {
      removeFromLshIndex(drop, path)
      compactLshIndex(s, path)
    }
    (n, nHot)
  }

  /** Crash-safe RE-BAND of a persisted LSH index in place (the
    * `rebuildKnnGraph` discipline): signatures, docs, and params are
    * written to `.compact_` siblings from the given (already
    * materialized) doc frame and swapped in with checked renames — a
    * crash mid-rebuild leaves the old index, never nothing. Tombstones
    * are cleared last: the rebuild input is the live doc set, so after
    * the swap they are applied and meaningless. This is the
    * re-PARAMETERIZATION leg (a deployment that lowers its verify
    * threshold re-bands for the new J operating point: more bands =
    * higher recall at lower J); for drift-induced recall loss it is the
    * WRONG tool — see `collapseHotBuckets` for why, with the probe
    * numbers.
    */
  def rebandLshIndex(docs: DataFrame, path: String,
      numHashes: Int, rowsPerBand: Int): Unit = {
    val s = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("sigs", "docs", "params").foreach(t =>
      graft.sources.Sinks.recoverSwap(fs, path, t))
    bandSigs(TextOps.docTokens(docs), numHashes, rowsPerBand)
      .write.mode("overwrite").parquet(s"$path/.compact_sigs")
    docs.select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$path/.compact_docs")
    import s.implicits._
    Seq((numHashes, rowsPerBand)).toDF("num_hashes", "rows_per_band")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/.compact_params")
    Seq("sigs", "docs", "params").foreach(t =>
      graft.sources.Sinks.swapIn(fs, path, t))
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
    invalidateLshParams(s, path)
  }

  /** Physically apply tombstones and merge append-accumulated small
    * files: rewrites `sigs` and `docs` without the retracted rows
    * (sized to `targetBytes` output files — a year of hourly appends is
    * otherwise a small-file problem, VERDICT r12 "What's missing #2"),
    * then clears the tombstone table. Swap discipline: each table is
    * written to a sibling `.compact_*` dir, the live dir is renamed to
    * `.old_*`, the sibling renamed in, and `.old_*` deleted — the
    * narrow crash window leaves a recoverable `.old_*`, never a
    * half-written live table (a production deployment would point a
    * manifest at immutable generation dirs instead; this keeps the
    * same no-overwrite-while-reading rule as `Sinks.compact`).
    */
  def compactLshIndex(s: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    Seq("sigs", "docs").foreach { t =>
      // repair a crashed previous swap BEFORE reading the live dir —
      // and swap with CHECKED renames (graft.sources.Sinks.swapIn;
      // round-13 review: the unchecked-rename form could leave the old
      // table live yet still clear the tombstones below, silently
      // resurrecting retracted docs)
      graft.sources.Sinks.recoverSwap(fs, path, t)
      val live = liveIndexTable(s, path, t)
      val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$path/$t")).getLength
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      live.coalesce(nOut).write.mode("overwrite").parquet(s"$path/.compact_$t")
      graft.sources.Sinks.swapIn(fs, path, t)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
  }

  /** Crash-repair for a persisted LSH index (round 13, round-12 ADVICE):
    * re-append exactly the `delta` rows MISSING from the index. The
    * ingest loop appends delta-file → corpus → index; a crash between
    * the two appends (or between the index's own sigs and docs writes)
    * leaves the index behind the corpus, and the skip-writes replay
    * guard means a later replay performs no writes — so the gap would
    * persist silently. Detection is an anti-join of the delta's doc_ids
    * against the stored sig / doc ids (column-pruned scans of just the
    * id columns); repair re-appends exactly the missing piece per
    * table, so it is idempotent and a no-op (two pruned scans) on a
    * healthy index. Returns the number of repaired doc_ids.
    */
  def reconcileLshIndex(delta: DataFrame, path: String,
      numHashes: Int = NumHashes, rowsPerBand: Int = RowsPerBand): Long = {
    assertLshParams(delta.sparkSession, path, numHashes, rowsPerBand)
    val s = delta.sparkSession
    // comparisons are against the PHYSICAL tables, and delta ids that
    // were retracted since the crash are excluded — repairing them
    // would re-append rows a takedown just removed (they'd be filtered
    // as tombstoned anyway, but the physical copies must not come back)
    val ids = lshTombstones(s, path).fold(delta.select(col("doc_id")))(tomb =>
      delta.select(col("doc_id")).join(tomb, Seq("doc_id"), "left_anti"))
    // ONE detection pass (round 17, guide §1.2 step 1): the two
    // per-table anti-join counts ran as two jobs per ingest delta —
    // pure overhead on the healthy path, where both are empty, and the
    // streamed funnel pays this entry check every micro-batch. Both
    // presence tests now ride one frame (left joins against the
    // DISTINCT pruned id scans — null-match ≡ anti-join survivor, the
    // `ingestDelta` flag-funnel equivalence) and one aggregate reads
    // both missing counts. Repair legs are unchanged and still
    // per-table.
    val missing = ids
      .join(s.read.parquet(s"$path/sigs").select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(1).as("in_sig")), Seq("doc_id"), "left")
      .join(s.read.parquet(s"$path/docs").select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(1).as("in_doc")), Seq("doc_id"), "left")
      .filter(col("in_sig").isNull || col("in_doc").isNull)
      .select(col("doc_id"),
        col("in_sig").isNull.as("miss_sig"), col("in_doc").isNull.as("miss_doc"))
      .persist()
    val cnts = missing.agg(
      count(when(col("miss_sig"), 1)).as("n_sig"),
      count(when(col("miss_doc"), 1)).as("n_doc")).head()
    val nSig = cnts.getAs[Long]("n_sig")
    val nDoc = cnts.getAs[Long]("n_doc")
    if (nSig > 0)
      bandSigs(TextOps.docTokens(delta.join(
        missing.filter(col("miss_sig")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")), numHashes, rowsPerBand)
        .write.mode("append").parquet(s"$path/sigs")
    if (nDoc > 0)
      delta.join(missing.filter(col("miss_doc")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
        .write.mode("append").parquet(s"$path/docs")
    missing.unpersist(blocking = false)
    math.max(nSig, nDoc)
  }

  /** Near-dup pairs between a NEW batch and the persisted index:
    * (new_id, indexed_id, jaccard) for every cross pair at
    * J ≥ `threshold`. New-batch signatures equi-join the STORED
    * signature table on the band signature — cross pairs only; pairs
    * WITHIN the new batch are `minhashLshPairs`' job (run it on the
    * batch first), and index-internal pairs were resolved when the
    * index was built. The hot-bucket cap applies to the COMBINED
    * (stored + new) bucket, same default and `observe` metric as the
    * batch path. PRECONDITION: new-batch doc_ids are disjoint from
    * indexed ones (crawl ids are; the verify-leg token union keys on
    * doc_id). Output ≡ the batch pipeline over the union restricted to
    * (new × indexed) — DedupSpec pins it; signature parameters must
    * match the ones the index was built with.
    */
  def nearDupsAgainstIndex(s: SparkSession, path: String, newDocs: DataFrame,
      numHashes: Int = NumHashes, rowsPerBand: Int = RowsPerBand,
      threshold: Double = 0.8,
      maxBandBucket: Int = DefaultMaxBandBucket,
      newSigs: Option[DataFrame] = None): DataFrame = {
    assertLshParams(s, path, numHashes, rowsPerBand)
    val newToks = TextOps.docTokens(newDocs)
    // stored side reads the LIVE view (tombstones filtered): a
    // retracted doc must not near-dup-drop its own re-crawled copy.
    // `newSigs` (round 16): a caller that also appends the survivors
    // builds the batch signatures ONCE (materialized) and hands them to
    // both legs — must be the (doc_id, sig) rows for exactly `newDocs`
    // at this banding.
    val tagged = liveIndexTable(s, path, "sigs").withColumn("is_new", lit(false))
      .unionAll(newSigs.getOrElse(bandSigs(newToks, numHashes, rowsPerBand))
        .withColumn("is_new", lit(true)))
    val sigs =
      if (maxBandBucket <= 0) tagged
      else tagged
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("sig"))))
        .observe("lsh_index_cap",
          sum(when(col("bsz") > maxBandBucket, 1L).otherwise(0L)).as("capped_sig_rows"))
        .filter(col("bsz") <= maxBandBucket)
        .drop("bsz")
    // candidates TRUNCATED: the pair set feeds BOTH the stored-docs
    // filter and the verify join — lazy, the whole signature + window
    // pass would re-run per consumer (measured 5.5 → 3.0 s/batch at the
    // 20 k probe); checkpointed it is collision-count rows read twice
    val cand = Ckpt.truncate(
      sigs.filter(col("is_new")).select(col("doc_id").as("d1"), col("sig"))
        .join(sigs.filter(!col("is_new")).select(col("doc_id").as("d2"), col("sig")), "sig")
        .select(col("d1"), col("d2")).distinct())
    // tokens only for docs that actually appear in a candidate pair:
    // the stored-docs scan is filtered by the (small) candidate id set
    val oldToks = TextOps.docTokens(
      liveIndexTable(s, path, "docs")
        .join(cand.select(col("d2").as("doc_id")).distinct(), "doc_id"))
    // eager-fold + release (round 14): the verified
    // pair set is collision-bounded and read repeatedly by the ingest
    // funnel's stage counts; returned lazy it PINNED the candidate
    // checkpoint past the call (one leaked blockset per streamed
    // micro-batch — created on the stream thread, so the builder-side
    // Ckpt.scoped never saw it)
    val out = Ckpt.truncate(
      TextOps.jaccardVerify(cand, newToks.unionAll(oldToks), threshold)
        .select(col("doc_id1").as("new_id"), col("doc_id2").as("indexed_id"),
          rnd(col("j"), 6).as("jaccard")))
    Ckpt.release(cand)
    out
  }

  /** 16-bit SimHash per doc from md5 hex digits of each distinct token:
    * bit j votes +1/-1 by bit (j%4) of hex digit (j div 4); non-negative
    * vote sum ⇒ bit set. Integer-only math, identical in both engines.
    */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashSigs(s, docSlice(s, d))

  /** SimHash signatures over an arbitrary (doc_id, text) frame.
    *
    * `simBits` sizes the signature (≤ 64: bit j votes by bit (j%4) of
    * md5 hex digit (j div 4), and md5 has 32 digits = 128 bits to draw
    * from). The declared query keeps 16 — the oracle's constant, exactly
    * reproducible in DuckDB SQL; production corpora run 64-bit (the
    * standard width — 16-bit collides heavily at corpus scale), same
    * plan shape, only the broadcast bit range widens. Bit accumulation
    * is `shiftleft(1L, j)` (≡ the oracle's pow(2,j) for j ≤ 15, and
    * exact where pow's double→BIGINT round-trip would overflow at
    * j = 63); sums of distinct powers of two are exact bit-sets even
    * when bit 63 lands in the sign position.
    */
  def simhashSigs(s: SparkSession, docs: DataFrame, simBits: Int = SimBits): DataFrame = {
    require(simBits >= 1 && simBits <= 64, s"simBits must be in [1, 64], got $simBits")
    // TRANSPOSED like `minHashRow` (round 6): a token's ±1 contribution
    // to bit j is a pure function of md5(tok), so the per-VOCAB-token
    // contribution vector is computed once and the per-doc reduction is
    // simBits element-wise sums over one corpus-row stream — not a
    // corpus × bits exploded stream into a (doc, bit)-keyed agg. Same
    // integer votes, same signature, bit for bit; the oracle CTE keeps
    // its bit-unrolled shape.
    val toks = TextOps.docTokens(docs)
    val vocab = toks.select(col("tok")).distinct()
      .select(col("tok"), md5(col("tok")).as("h"))
      .select(col("tok"), expr(
        s"""transform(sequence(0, ${simBits - 1}), j ->
           |  2 * (((instr('0123456789abcdef', substring(h, (j div 4) + 1, 1)) - 1)
           |    div (CASE (j % 4) WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2) - 1)"""
          .stripMargin).as("cs"))
    val voteCols = (0 until simBits)
      .map(j => sum(element_at(col("cs"), j + 1)).as(s"v$j"))
    // bit j set iff vote ≥ 0; the literal 1L << j is the same value
    // shiftleft(1L, j) produced (sign position at j = 63 included), and
    // the chained + of distinct powers of two never leaves Long range
    toks.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until simBits)
          .map(j => when(col(s"v$j") >= 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ 3 over the 16-bit sigs.
    * HISTORICAL-ORACLE TWIN: 16 bits is oracle-bracket width, kept for
    * cross-round oracle continuity only — at 16 bits random docs collide
    * in a 4-bit band at p = 1/16, so candidates grow ~N²/4
    * (PipelineScaleProbe's width sweep). Production readers want
    * `dedup_simhash64` (`simhashPairs64`): 64-bit/8-band, candidates
    * ≈ true near-dups, fully oracle-gated since round 6.
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashBandedPairs(s, simhash(s, d))

  /** dedup_simhash64 — the PRODUCTION width as a declared, oracle-gated
    * row: 64-bit signatures in 8 bands, same Hamming ≤ 3 semantics as
    * the 16-bit row. SCALE.md's round-5 probe is the reason this row
    * exists: at 50 k docs the 16-bit signature space (65 536 values)
    * saturates — 291.6 M band-collision candidates and 14.3 M
    * hash-coincidence "pairs" vs 41.4 M / 2 480 at 64-bit. The 16-bit
    * row keeps the historical oracle; this row certifies the width a
    * real corpus needs, end-to-end through the banding path (sign-bit
    * signatures included — bit 63 lands in BIGINT's sign position in
    * both engines, handled by the unsigned band slice here and the
    * signed-complement literal in the oracle CTE).
    */
  def simhashPairs64(s: SparkSession, d: String): DataFrame =
    simhashBandedPairs(s, simhashSigs(s, docSlice(s, d), simBits = 64),
      maxHamming = 3, simBits = 64, simBands = 8)

  /** Banded SimHash candidate generation: split the `simBits`-bit
    * signature into `simBands` bands of simBits/simBands bits.
    * Pigeonhole: a pair at Hamming ≤ maxHamming < simBands differs in
    * at most maxHamming bands, so at least one band matches EXACTLY —
    * the union of the per-band equi-joins (one shuffle keyed on
    * (band, band-bits)) finds every qualifying pair with zero misses,
    * replacing the all-pairs signature cross join (O(N²) candidate rows;
    * at 1 B docs that cross join dies before its filter runs). Exact
    * `bit_count(h1^h2)` then verifies only the collision-driven
    * candidates. Output ≡ the all-pairs form (DedupSpec pins this), so
    * the DuckDB oracle keeps its direct cross-join shape.
    *
    * Defaults are the declared query's 16/4; the production width is
    * 64/8 (SCALE.md round-5 probe row — the 16-bit signature collides
    * heavily as the corpus grows, 64-bit keeps candidates ≈ true pairs).
    * `maxBandBucket` is the same hot-bucket cap as `minhashLshPairs`
    * (identical docs share ALL bands — B² candidates from one degenerate
    * bucket; they belong to exact dedup) — DEFAULT-ON at
    * `DefaultMaxBandBucket` since round 10 (VERDICT r9 #3, the MinHash
    * round-9 precedent): pairs at Hamming ≤ maxHamming still surface
    * through any band NOT shared by > cap docs, so recall loss is
    * confined to pairs whose EVERY matching band is degenerate —
    * near-identical members that exact dedup collapses first. Pass 0 for
    * the uncapped audit mode; the declared rows' 500-doc slice cannot
    * reach the cap, so the flip is output-invisible there
    * (SCALE.md round-10 boilerplate probe row measures the at-scale
    * effect).
    */
  def simhashBandedPairs(s: SparkSession, sigs: DataFrame,
      maxHamming: Int = SimBands - 1, simBits: Int = SimBits,
      simBands: Int = SimBands,
      maxBandBucket: Int = DefaultMaxBandBucket): DataFrame = {
    require(maxHamming < simBands, s"pigeonhole needs maxHamming < $simBands bands")
    simhashBandCandidates(s, sigs, simBits, simBands, maxBandBucket)
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id1"), col("doc_id2"), col("hamming"))
  }

  /** The band-collision candidate pairs (pre-verify) — the row count the
    * banding width controls; PipelineScaleProbe reports it per width.
    */
  private[graft] def simhashBandCandidates(s: SparkSession, sigs: DataFrame,
      simBits: Int, simBands: Int,
      maxBandBucket: Int = DefaultMaxBandBucket): DataFrame = {
    require(simBits % simBands == 0, "simBits must be a multiple of simBands")
    val bandBits = simBits / simBands
    val bands = s.range(simBands).select(col("id").cast("int").as("band"))
    // band key = that band's bit slice; unsigned shift + mask is
    // sign-safe when bit 63 is set (div/% would go negative there) and
    // identical to div/% on narrower non-negative signatures
    val keyedAll = sigs.crossJoin(broadcast(bands))
      .select(col("doc_id"), col("simhash"), col("band"),
        expr(s"shiftrightunsigned(simhash, band * $bandBits) & ${(1L << bandBits) - 1}L")
          .as("bkey"))
    // same window-rides-the-join-shuffle form as minhashLshPairs
    // (round 10, VERDICT r9 #2): hash-partitioned on (band, bkey), the
    // exact key the candidate self-join below shuffles on
    val keyed =
      if (maxBandBucket <= 0) keyedAll
      else keyedAll
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
        .observe("simhash_band_cap",
          sum(when(col("bsz") > maxBandBucket, 1L).otherwise(0L)).as("capped_band_rows"))
        .filter(col("bsz") <= maxBandBucket)
        .drop("bsz")
    keyed.select(col("doc_id").as("doc_id1"), col("simhash").as("h1"),
        col("band"), col("bkey"))
      .join(keyed.select(col("doc_id").as("doc_id2"), col("simhash").as("h2"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("doc_id1") < col("doc_id2"))
      // a pair can collide in multiple bands — dedupe candidates before
      // the (cheap) exact verify so each pair is emitted once
      .select(col("doc_id1"), col("doc_id2"), col("h1"), col("h2")).distinct()
  }

  /** All-pairs reference form of the SimHash pairing — the spec twin
    * that pins `simhashBandedPairs` ≡ cross join; never on a hot path.
    */
  private[graft] def simhashAllPairs(sigs: DataFrame, maxHamming: Int = SimBands - 1): DataFrame =
    sigs.select(col("doc_id").as("doc_id1"), col("simhash").as("h1"))
      .crossJoin(sigs.select(col("doc_id").as("doc_id2"), col("simhash").as("h2")))
      .filter(col("doc_id1") < col("doc_id2"))
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id1"), col("doc_id2"), col("hamming"))

  /** Character-3-gram Jaccard ≥ 0.6 between doc pairs (doc_id < 100 —
    * grams are ~n_chars per doc, an order denser than tokens; threshold
    * sized to the synthetic data's distribution, max J ≈ 0.69).
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // length >= 3 guard: for shorter texts Spark's sequence(1, len-2) is a
    // DESCENDING sequence (e.g. sequence(1,0) = [1,0]) generating spurious
    // grams, while DuckDB's range(1, len-1) is empty — the guard (present
    // in the oracle too) keeps both engines on the same document set.
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < 100 && length(col("text")) >= 3)
    // grams play the token role in the shared all-pairs pipeline
    val grams = docs.select(col("doc_id"),
        explode(expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")).as("tok"))
      .distinct()
    TextOps.jaccardAllPairs(grams, 0.6)
      .select(col("doc_id1"), col("doc_id2"), rnd(col("j"), 6).as("jaccard"))
  }

  /** Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    * graph, labeling every clustered doc with its component's minimum
    * doc_id — the canonical keeper (`keep = doc_id == cluster_id`). This
    * is the step between "find dup pairs" and "drop all but one per
    * group" that a real curation pipeline runs.
    *
    * Memoized per (session, dir) — the `SparkEntry.scoresShared`
    * precedent: `dedup_cluster` emits this frame and
    * `dedup_cluster_hist` aggregates it, and before the memo each row
    * re-ran the whole LSH → checkpointed-CC pipeline from scratch
    * (2 × ~3.3 s driver at sf0.1). `connectedComponents` returns a
    * checkpoint-backed result (lineage already truncated, blocks RDD-
    * level persists `clearCache()` does not evict), so the memo retains
    * only the bounded assignment frame (clustered docs, not pairs);
    * long-lived sessions call `releaseShared()`.
    */
  private val sharedClusters =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def minhashClusters(s: SparkSession, d: String): DataFrame =
    sharedClusters.getOrElseUpdate((s, d), Ckpt.untracked {
      connectedComponents(
        minhashLsh(s, d).select(col("doc_id1"), col("doc_id2")))
    })

  /** Release the memoized cluster assignments (test hygiene / long
    * sessions — the `SparkEntry.releaseShared` contract). */
  def releaseShared(): Unit = {
    sharedClusters.values.foreach(Ckpt.release)
    sharedClusters.clear()
  }

  /** Distributed connected components by iterative min-label propagation:
    * each round every vertex takes the min of its own label and its
    * neighbors' labels — one equi-join + one keyed min-aggregate per
    * round, converging in O(graph diameter) rounds. Near-dup components
    * are dense and tiny (diameter ≲ a handful even for pathological
    * chains), so the loop closes in a few rounds; `maxIters` bounds the
    * worst case. The convergence check rides the SAME job that
    * materializes the round's checkpoint (an `observe` metric — a scalar
    * to the driver, never data, and no separate count job: at sf0.1 the
    * suite's most job-count-heavy query spent ~40 % of its wall on
    * per-job fixed overhead, so one job per round instead of two is the
    * direct constant-factor cut). Deterministic: min-label has a unique
    * fixed point regardless of execution order.
    *
    * Scale: every round shuffles |E| rows by vertex id — the classic
    * large-graph CC shape (label propagation, the simple cousin of
    * two-phase small-star/large-star); no vertex ever holds more state
    * than one label.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
      verbose: Boolean = false): DataFrame = {
    // Materialize the pair derivation ONCE before symmetrizing: the two
    // union branches are separate subtrees to Spark, so un-truncated
    // they each recompute the caller's whole upstream pipeline (the
    // a job trace (SCALE.md round 6) showed the LSH signature+verify chain running
    // 2×32 tasks inside the first CC job — half of dedup_cluster's wall
    // was upstream recompute, not CC)
    val p = pairs.select(col("doc_id1").as("a"), col("doc_id2").as("b")).truncated()
    val edges = p.unionAll(p.select(col("b").as("a"), col("a").as("b")))
      .persist()
    // Each round ends in `Ckpt.truncate` (eager checkpoint) — NOT persist.
    // Persist caches the data but leaves the full logical lineage in the
    // plan; with a self-join per round the analyzed plan DOUBLES every
    // iteration and Catalyst analysis/planning blows up exponentially
    // (measured: round walls 3.6 s → 11.7 s → driver OOM building the
    // plan string at sf0.1). Checkpointing truncates the plan to a
    // LogicalRDD, so every round plans against a constant-size tree.
    // `Ckpt.truncate` picks reliable `checkpoint()` when a checkpoint
    // dir is configured (cluster) else `localCheckpoint()` (local).
    // Initialization FOLDS the first neighbor-min round: every vertex
    // starts at min(v, N(v)) rather than v — one groupBy on the same
    // shuffle key the old `distinct` init already paid for, and the loop
    // below starts one full propagation round ahead (min-label's fixed
    // point is unique, so advancing the start state cannot change the
    // result — only the round count; measured 4 → 3 rounds on the sf0.1
    // near-dup graph where each round is ~0.9 s of fixed overhead).
    var labels = edges.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("lbl"))
      .select(col("a").as("v"), col("lbl")).truncated()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val t0 = System.nanoTime()
      // Step 1 — neighbor min: each vertex takes the min label over its
      // neighborhood (one |E|-shuffle join + one keyed min).
      val nbrMin = edges
        .join(labels.select(col("v").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy(col("a").as("v"))
        .agg(min(col("nlbl")).as("nmin"))
      // persisted: the jump step below reads it twice (self-join)
      val stepped = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"),
          coalesce(col("nmin") < col("lbl"), lit(false)).as("changed"))
        .persist()
      // Step 2 — pointer jumping (path halving): lbl(v) := lbl(lbl(v)).
      // Plain neighbor-min alone needs O(chain length) rounds on a path
      // graph; composing one jump per round collapses chains
      // logarithmically, so the loop closes in O(log diameter) rounds.
      // the changed-count observation is computed DURING the eager
      // checkpoint's materialization job — `Observation.get` blocks only
      // until that already-running action completes, so the round's one
      // job yields both the truncated labels and the convergence scalar.
      // Reliable-path caveat: Ckpt.truncate persists before checkpoint()
      // so the write pass reads cache and the metric fires ONCE; were
      // that persist ever removed, nChanged could double on the write
      // recompute — convergence (== 0) would survive, magnitudes not.
      val obs = org.apache.spark.sql.Observation()
      val next = stepped.alias("s")
        .join(stepped.select(col("v").as("lbl"), col("lbl").as("plbl")).alias("p"),
          Seq("lbl"), "left")
        .select(col("v"), least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"),
          (col("changed") || coalesce(col("plbl") < col("lbl"), lit(false))).as("changed"))
        .observe(obs, count(when(col("changed"), lit(1))).as("nChanged"))
        .truncated()
      val nChanged = obs.get("nChanged").asInstanceOf[Long]
      converged = nChanged == 0
      stepped.unpersist()
      // `next` is materialized — round r−1's checkpoint blocks are dead;
      // release them so storage stays O(1) rounds, not O(rounds)
      Ckpt.release(labels)
      labels = next.select(col("v"), col("lbl"))
      it += 1
      if (verbose)
        println(f"[cc] round $it changed=$nChanged wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (!converged)
      // scalastyle:off println — dev-visible signal; no logger dep in this module
      System.err.println(s"[graft] connectedComponents hit maxIters=$maxIters without " +
        "converging — labels are a refinement of the true components, not the fixed point")
    edges.unpersist()
    labels.select(col("v").as("doc_id"), col("lbl").as("cluster_id"),
      (col("v") === col("lbl")).as("keep"))
  }

  /** Rolling polynomial fingerprint over the document's characters:
    * fold (acc·31 + ascii(c)) mod 1e9+7 — the Rabin-Karp-style content
    * fingerprint, O(n) per doc, shuffle-free.
    */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      aggregate(
        transform(
          // guard the empty string Spark's regex split can append; DuckDB's
          // string_split(text, '') never produces one
          filter(split(col("text"), ""), ch => ch =!= ""),
          ch => ascii(ch).cast("long")),
        lit(0L),
        (acc, x) => (acc * 31 + x) % 1000000007L).as("fp"))

  /** similarity_containment — DIRECTIONAL n-gram overlap,
    * C(A→B) = |g(A) ∩ g(B)| / |g(A)|: the asymmetric near-dup measure
    * decontamination reporting needs (a short test doc fully embedded in
    * a long train doc scores 1.0 where Jaccard dilutes toward
    * |A|/|B|; the Lee-et-al dedup lineage reports exactly this). Same
    * physical shape as every dedup signature here: per-doc DISTINCT
    * token-3-gram shingles, candidate pairs generated BY the shared-gram
    * equi-join (Σ per-gram doc-count², the `decontaminate` shape — never
    * all-pairs), per-pair intersection count, then two gram-count joins
    * turn it into both containment directions. Bounded slice for the
    * oracle's benefit; the operator is slice-independent and the gram
    * key switches to xxhash64 at corpus scale (the `hashKey` precedent).
    */
  def containmentPairs(s: SparkSession, d: String): DataFrame =
    containment(Tables.documents(s, d).filter(col("doc_id") < 300))

  /** The containment pipeline over an arbitrary (doc_id, text) frame —
    * `gram` is the shingle width, `minC` the report threshold on
    * max(C₁₂, C₂₁) (pairs where NEITHER direction reaches it are noise).
    */
  def containment(docs: DataFrame, gram: Int = 3, minC: Double = 0.2): DataFrame = {
    val g = gram
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= g)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(a) - $g), i -> array_join(slice(a, i + 1, $g), ' '))")).as("gram"))
      .distinct()
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = grams.select(col("doc_id").as("doc_id1"), col("gram"))
      .join(grams.select(col("doc_id").as("doc_id2"), col("gram")), "gram")
      .filter(col("doc_id1") < col("doc_id2"))
      .groupBy(col("doc_id1"), col("doc_id2")).agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("doc_id1"), col("n").as("n1")), "doc_id1")
      .join(sizes.select(col("doc_id").as("doc_id2"), col("n").as("n2")), "doc_id2")
      .filter(greatest(col("n_common") / col("n1"), col("n_common") / col("n2")) >= minC)
      .select(col("doc_id1"), col("doc_id2"), col("n_common"),
        rnd(col("n_common") / col("n1"), 6).as("containment_12"),
        rnd(col("n_common") / col("n2"), 6).as("containment_21"))
  }

  /** dedup_substring — exact substring deduplication, the sliding-window
    * form of corpus boilerplate detection (the published training-data
    * pipelines run it at ~50-token spans; `gram` is scaled to this
    * corpus's ~54-token docs): every `gram`-token window (stride 1, so
    * repeated spans are caught at ANY offset — the property the
    * fixed-segment `corpus_line_dedup` trades away), counted corpus-wide
    * by DISTINCT containing docs; a window text held by ≥ `minDocs` docs
    * is duplicated, and each doc reports its duplicated-window count and
    * ratio — the score a curation pass filters or trims on.
    *
    * Scale shape: windowing is a pure map (split + sequence + slice —
    * no per-token explode) fanned out once (`Ckpt.truncate`, the
    * materialize-the-fan-out discipline); the duplicated-window set is
    * one keyed count-distinct with map-side partials, output-bounded by
    * actual repetition; membership is a semi-join on the window key;
    * per-doc totals are two keyed aggs sharing the doc_id shuffle key.
    *
    * `hashKey` picks the window KEY — the corpus-scale form. The default
    * keys on the literal ~`gram`-token window text so the DuckDB oracle
    * can reproduce it; `hashKey = true` keys on `xxhash64(wtext)` (8
    * bytes vs ~50 tokens of text on the highest-fan-out frame in the
    * operator — CurationScaleProbe's substr leg measures the shuffle-byte
    * ratio; collision probability is negligible at any corpus size, and
    * a collision can only merge two windows, never drop one). Counts and
    * ratios are unchanged (DedupSpec pins hash-keyed ≡ text-keyed); only
    * the bytes on the wire shrink.
    */
  def substringDupDocs(docs: DataFrame, gram: Int = 8, minDocs: Int = 2,
      hashKey: Boolean = false): DataFrame = {
    val wtext = array_join(slice(col("a"), col("i") + 1, lit(gram)), " ")
    val wins = docs
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= gram)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, size(a) - $gram)")).as("i"), col("a"))
      .select(col("doc_id"),
        (if (hashKey) xxhash64(wtext) else wtext).as("wkey"))
      .truncated()
    val dup = wins.groupBy("wkey")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("wkey")
    val tot = wins.groupBy("doc_id").agg(count(lit(1)).as("n_win"))
    val dd = wins.join(dup, Seq("wkey"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    tot.join(dd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_win"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        rnd(coalesce(col("n_dup"), lit(0L)) / col("n_win"), 6).as("dup_ratio"))
  }

  def substringDup(s: SparkSession, d: String): DataFrame =
    substringDupDocs(Tables.documents(s, d))

  /** dedup_substring_50 — the PUBLISHED long-span configuration (the
    * `decontaminate_13` precedent): training-data curation removes
    * repeated spans of ~50 tokens, the threshold under which repetition
    * is usually legitimate phrasing and above which it is boilerplate
    * or template text. Same operator, `gram = 50` — stride-1 windows
    * mean a repeated ≥50-token span is caught at EVERY offset it spans,
    * so n_dup/dup_ratio measure span coverage, not just span presence.
    * Non-vacuous at every driver SF (280-2 971 duplicated 50-token
    * windows at sf0.01-0.1 — the corpus plants long shared spans).
    */
  def substringDup50(s: SparkSession, d: String): DataFrame =
    substringDupDocs(Tables.documents(s, d), gram = 50)

  /** dedup_suffix — ARBITRARY-LENGTH repeated-substring detection via
    * suffix ordering (round 16, VERDICT r15 #5): the fixed-gram windows
    * (`dedup_substring`/`_50`) count spans of ONE declared length; the
    * published production approach to variable-length template
    * boilerplate (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — suffix arrays over the corpus) reports
    * the MAXIMAL shared span at whatever length it occurs. This is that
    * formulation reduced to its Spark-native core:
    *
    *  - every character position contributes a DOC-BOUNDED suffix,
    *    truncated at `cap` chars (the detectable-length ceiling; a
    *    longer repeat reports as `cap`);
    *  - suffixes are globally ordered by (suffix, doc_id, pos) —
    *    `Rank.globalRank`, the range-repartition seam, so no
    *    single-partition window touches the char-scale stream;
    *  - ADJACENT suffixes from DIFFERENT docs with a common prefix
    *    ≥ `minLen` chars witness a cross-doc repeat. Adjacency is the
    *    classic suffix-array LCP argument: any cross-doc repeat of
    *    length ≥ minLen produces a rank interval of suffixes sharing
    *    that prefix which spans ≥ 2 docs, and some adjacent pair inside
    *    it is cross-doc with LCP ≥ minLen — so adjacent pairs find
    *    every repeat, at its maximal (cap-clipped) length;
    *  - per doc: the count of witnessing adjacent pairs it touches and
    *    its longest cross-doc repeat.
    *
    * Scale shape — the candidate-space bound: before ranking, positions
    * are PREFILTERED to those whose `minLen`-char seed gram is held by
    * ≥ 2 distinct docs (hash-keyed count-distinct, the
    * `substringDupDocs(hashKey)` seam). The prefilter is
    * SEMANTICS-PRESERVING, not approximate: a qualifying pair's both
    * members keep their seed (it is cross-doc by witness), full-order
    * adjacency is preserved in any subset (nothing lies between them),
    * and no NEW qualifying adjacency can appear — any suffix between
    * two retained suffixes with LCP ≥ minLen shares their ≥ minLen
    * prefix and is therefore retained itself (lexicographic-interval
    * argument; DedupSpec pins filtered ≡ unfiltered). So the sorted
    * stream is bounded by the corpus's actual duplicated-span coverage,
    * not its size — at 100 TB the rank input is the boilerplate, which
    * is the thing being measured (SCALE.md round 16 records the
    * ratio). xxhash64 seed collisions can only RETAIN extra positions
    * (a superset keeps the equivalence), never drop one. The adjacency
    * join is a shuffle equi-join on rank; the LCP evaluation runs only
    * on cross-doc adjacent pairs.
    */
  def suffixDupDocs(docs: DataFrame, cap: Int = 120, minLen: Int = 30): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    // Spark sequence(1, 0) DESCENDS — guard zero-length docs out of the
    // position fan-out (they still appear in the output via the left join)
    val pos = d.filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(expr("sequence(1, length(text))")).as("p"), col("text"))
      .select(col("doc_id"), col("p"),
        col("text").substr(col("p"), lit(cap)).as("s"))
      .withColumn("g", xxhash64(substring(col("s"), 1, minLen)))
      .truncated() // char-scale fan-out materialized once, read 2×
    val dupSeed = pos.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val kept = pos.join(dupSeed, Seq("g"), "left_semi").drop("g")
    val ranked = graft.rel.Rank.globalRank(kept, Seq(col("s"), col("doc_id"), col("p")))
    val right = ranked.select((col("grank") - 1).as("grank"),
      col("doc_id").as("doc_id2"), col("s").as("s2"))
    val minl = least(length(col("s")), length(col("s2")))
    // LCP = first mismatching char position − 1 (or the shorter length
    // when one is a prefix of the other) — evaluated ONLY on cross-doc
    // adjacent pairs
    val mismatch = array_min(filter(sequence(lit(1), minl),
      i => col("s").substr(i, lit(1)) =!= col("s2").substr(i, lit(1))))
    val pairs = ranked.select(col("grank"), col("doc_id"), col("s"))
      .join(right, "grank")
      .filter(col("doc_id") =!= col("doc_id2"))
      .withColumn("lcp", (coalesce(mismatch, minl + lit(1)) - 1).cast("long"))
      .filter(col("lcp") >= minLen)
    val sides = pairs.select(col("doc_id"), col("lcp"))
      .unionByName(pairs.select(col("doc_id2").as("doc_id"), col("lcp")))
    val rep = sides.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rep"), max(col("lcp")).as("max_rep_len"))
    d.select(col("doc_id")).join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_rep"), lit(0L)).as("n_rep"),
        coalesce(col("max_rep_len"), lit(0L)).as("max_rep_len"))
  }

  def suffixDup(s: SparkSession, d: String): DataFrame =
    suffixDupDocs(docSlice(s, d))

  /** dedup_soft — SOFT deduplication (round 13): instead of DROPPING
    * near-duplicates, assign every doc a sampling weight 1/|cluster| so
    * a trainer's data loader sees each duplicated content unit with the
    * same expected mass as a unique doc — the reweight-don't-delete
    * policy recent pretraining pipelines prefer when near-dups carry
    * quality signal (an exact drop of 39 of 40 template variants also
    * drops the 39 variants' unique tails). Composes the SAME memoized
    * cluster assignment as `dedup_cluster` (minhashClusters — LSH pairs
    * at J ≥ 0.8, checkpointed min-label CC), so the weights cannot
    * drift from the clustering the drop policy would use; docs outside
    * every cluster are their own singleton (weight 1.0). One broadcast-
    * sized sizes join — no new shuffle beyond the shared build.
    */
  def softDedup(s: SparkSession, d: String): DataFrame = {
    val cl = minhashClusters(s, d).select(col("doc_id"), col("cluster_id"))
    val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("k"))
    docSlice(s, d).select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("k"), lit(1L)).as("cluster_size"),
        rnd(lit(1.0) / coalesce(col("k"), lit(1L)), 6).as("weight"))
  }

  /** doc_novelty — per-document MARGINAL-contribution score (round 13):
    * the fraction of a doc's distinct token-5-grams whose FIRST
    * occurrence (minimum doc_id — the deterministic stand-in for crawl
    * order) is the doc itself. The metric curation uses to rank "what
    * does this doc add that the corpus doesn't already have" — near-dup
    * tails score ≈ 0, fresh content 1.0; unlike `dedup_substring`'s
    * dup_ratio (symmetric: BOTH copies score as duplicated), novelty is
    * ORDER-aware — the first copy keeps its mass, later copies lose
    * theirs, which is exactly the keep-first dedup policy expressed as
    * a score. Shape: one gram explode + distinct, one keyed min, one
    * join-back + keyed count — no window, no pairs; the gram frame is
    * truncated once and read by both consumers (the `rakeDocs` rule).
    * At corpus scale the gram join key switches to xxhash64 exactly as
    * `substringDupDocs(hashKey = true)` does.
    */
  def noveltyDocs(docs: DataFrame, gram: Int = 5): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= gram)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(a) - $gram), i -> array_join(slice(a, i + 1, $gram), ' '))")).as("gram"))
      .distinct()
      .truncated()
    val first = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    // eager-fold + release (the round-13 family discipline): the per-doc
    // result is materialized, then the corpus-sized gram checkpoint is
    // released — it must not stay resident across bench runs
    val out = Ckpt.truncate(grams.join(first, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        rnd(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty")))
    Ckpt.release(grams)
    out
  }

  def novelty(s: SparkSession, d: String): DataFrame =
    noveltyDocs(Tables.documents(s, d))

  /** dedup_norm_keep_best — normalized-key exact dedup with
    * quality-aware retention: docs are grouped by the md5 of the SAME
    * canonical form `text_normalize` derives (lowercase, strip
    * non-alphanumerics, collapse whitespace), and each group keeps the
    * LONGEST raw variant (tie → lowest doc_id) — the curation policy
    * that prefers the least-mangled copy of case/punctuation-variant
    * duplicates, where `dedup_exact`'s min-id keeper is
    * content-agnostic. Normalized groups are a superset of exact
    * groups, so the row is non-vacuous wherever `dedup_exact` is.
    * Shape: one pure-projection key derivation + one keyed argmax
    * aggregate (min-struct, map-side combinable) — no window sort,
    * no shuffle beyond the group key.
    */
  def normKeepBestDocs(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))
    docs
      .select(col("doc_id"), md5(norm).as("nh"), length(col("text")).as("len"))
      .groupBy(col("nh"))
      .agg(count(lit(1)).as("n_dups"),
        min(struct((-col("len")).as("nl"), col("doc_id").as("id"))).as("m"))
      .select(col("nh").as("norm_hash"), col("m.id").as("keeper_id"),
        (-col("m.nl")).as("keeper_len"), col("n_dups"))
  }

  /** Declared row: the full retention map — singleton groups keep
    * themselves (n_dups = 1), so the row is non-vacuous at every SF;
    * the harness corpus only carries multi-doc normalized groups at
    * sf0.1 (8 there, 0 below — checked, the `decontaminate`
    * non-vacuity discipline), and the spec pins the argmax choice on a
    * hand fixture. */
  def normKeepBest(s: SparkSession, d: String): DataFrame =
    normKeepBestDocs(Tables.documents(s, d))

  /** similarity_minhash_est — the ESTIMATOR read-out of the MinHash
    * machinery: for each LSH candidate pair, the fraction of agreeing
    * signature rows (the unbiased Jaccard estimate the sketch exists to
    * provide) next to the exact Jaccard — the self-checking row that
    * makes signature quality measurable (`sketch_countmin`/`sketch_kmv`
    * discipline: deterministic hash family ⇒ fully oracle-gated, unlike
    * engine-internal sketches). Same signature build (`minHashRow`),
    * same band candidates as `dedup_minhash_lsh`; agreement is an
    * integer sum over the NumHashes fixed columns; exact J from the one
    * shared candidate-driven verify. At corpus scale everything rides
    * the band equi-join — the estimator adds one signature-row join.
    */
  /** Estimator slice bound — tighter than `docSlice`'s 500: the fixture
    * corpus is near-duplicate-saturated, and 500 docs yield ~93 k
    * candidate pairs at est ≥ ½; 200 keeps the declared read-out
    * result-set-sized. The operator is slice-independent. */
  private val MinhashEstBound = 200

  def minhashEst(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.docTokens(
      Tables.documents(s, d).filter(col("doc_id") < MinhashEstBound))
    val sigs = minHashRow(toks, NumHashes)
    val nBands = NumHashes / RowsPerBand
    val bands = sigs.select(col("doc_id"), explode(array((0 until nBands).map(b =>
      concat(lit(s"$b|"), col(s"m${RowsPerBand * b}"), col(s"m${RowsPerBand * b + 1}"))): _*))
      .as("sig"))
    val cand = bands.select(col("doc_id").as("d1"), col("sig"))
      .join(bands.select(col("doc_id").as("d2"), col("sig")), "sig")
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val a = sigs.toDF("d1" +: (0 until NumHashes).map(i => s"a$i"): _*)
    val b = sigs.toDF("d2" +: (0 until NumHashes).map(i => s"b$i"): _*)
    val agree = (0 until NumHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand.join(a, "d1").join(b, "d2").withColumn("agree_n", agree)
      .select(col("d1"), col("d2"), col("agree_n"))
    val exact = TextOps.jaccardVerify(cand, toks, 0.0)
      .select(col("doc_id1").as("d1"), col("doc_id2").as("d2"), col("j"))
    // report the est ≥ ½ range: band collision alone (1 band = est ¼)
    // floods the low end with noise pairs the sketch itself would
    // never act on — the read-out is for pairs the bands vote on
    est.filter(col("agree_n") >= NumHashes / 2)
      .join(exact, Seq("d1", "d2"))
      .select(col("d1").as("doc_id1"), col("d2").as("doc_id2"), col("agree_n"),
        rnd(col("agree_n") / lit(NumHashes.toDouble), 6).as("est_jaccard"),
        rnd(col("j"), 6).as("jaccard"))
  }

  /** dedup_cluster_hist — the cluster-SIZE histogram of the near-dup
    * components: the number the dedup POLICY actually reads (a corpus
    * whose dup mass sits in a few giant clusters wants boilerplate
    * removal; one with many pairs wants keep-best) — `dedup_cluster`
    * emits the assignment, this emits its shape. Two keyed counts over
    * the same checkpointed-CC output; histogram cardinality = distinct
    * cluster sizes.
    */
  def clusterHist(s: SparkSession, d: String): DataFrame =
    minhashClusters(s, d)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "similarity_minhash_est" -> minhashEst,
    "dedup_soft" -> softDedup,
    "doc_novelty" -> novelty,
    "dedup_cluster_hist" -> clusterHist,
    "dedup_norm_keep_best" -> normKeepBest,
    "dedup_minhash_lsh" -> minhashLsh,
    "dedup_cluster" -> minhashClusters,
    "dedup_simhash" -> simhashPairs,
    "dedup_simhash64" -> simhashPairs64,
    "dedup_substring" -> (substringDup _),
    "dedup_substring_50" -> (substringDup50 _),
    "dedup_suffix" -> (suffixDup _),
    "similarity_ngram" -> ngramJaccard,
    "similarity_containment" -> containmentPairs,
    "doc_fingerprint" -> fingerprint,
    "dedup_winnowing" -> winnowingQuery,
  )

  /** dedup_winnowing — Schleimer-Wilkerson-Aiken winnowing (the MOSS
    * fingerprinting algorithm): hash every token k-gram, slide a
    * w-wide window over the hash sequence, keep each window's MINIMUM
    * hash — the selected fingerprints are position-robust (an
    * insertion shifts positions but local minima re-select), and every
    * match of length ≥ w+k−1 tokens is GUARANTEED to share a
    * fingerprint (the winnowing theorem). Ties break to the LEFTMOST
    * minimal hash (min over the window — canonical MOSS takes
    * rightmost; either is a valid winnowing, ours is the one a plain
    * min() expresses in both engines). Hashes are md5 HEX STRINGS
    * compared lexicographically — identical total order cross-engine,
    * no integer parse. Candidate pairs come from the fingerprint
    * equi-join (the `decontaminate` shape — never all-pairs); the
    * per-doc window partitions on doc_id and holds one doc's grams
    * (document-length-bounded, the `ts_mad` class).
    */
  def winnowingPairs(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val g = docs
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= k + w - 1)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(a) - ${k - 1}), i -> " +
          s"struct(i as i, md5(array_join(slice(a, i, $k), ' ')) as h))")).as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.h").as("h"))
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(-(w - 1), 0)
    val fp = g.withColumn("mh", min(col("h")).over(win))
      .filter(col("i") >= w)
      .select(col("doc_id"), col("mh")).distinct()
    fp.join(fp.select(col("doc_id").as("doc_id2"), col("mh")), "mh")
      .filter(col("doc_id") < col("doc_id2"))
      .groupBy(col("doc_id").as("doc_id1"), col("doc_id2"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def winnowingQuery(s: SparkSession, d: String): DataFrame =
    winnowingPairs(Tables.documents(s, d).filter(col("doc_id") < 300))

  private def toksCteFor(bound: Int): String =
    "toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok " +
      s"FROM documents WHERE doc_id < $bound)"

  private val toksCte = toksCteFor(500)

  private def jaccardCtes(candWhere: String): String =
    "sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i " +
      s"FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id $candWhere GROUP BY 1, 2), " +
      "jj AS (SELECT d1, d2, i / (sa.sz + sb.sz - i) AS j FROM inter " +
      "JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2)"

  private def jaccardTailSql(candWhere: String): String =
    jaccardCtes(candWhere) +
      " SELECT d1 AS doc_id1, d2 AS doc_id2, rnd(j, 6) AS jaccard FROM jj WHERE j >= 0.8e0"

  /** The MinHash signature + candidate CTE chain (toks → cand), shared by
    * the pair oracle and the cluster oracle. */
  private def minhashCtesFor(bound: Int): String =
    s"${toksCteFor(bound)}, " +
      s"seeds AS (SELECT unnest(range($NumHashes))::INT AS seed), " +
      "mh AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || tok)) AS mh " +
      "FROM toks CROSS JOIN seeds GROUP BY 1, 2), " +
      s"sig AS (SELECT doc_id, (seed // $RowsPerBand)::VARCHAR || '|' || " +
      "min(CASE WHEN seed % 2 = 0 THEN mh END) || min(CASE WHEN seed % 2 = 1 THEN mh END) AS sig " +
      s"FROM mh GROUP BY doc_id, seed // $RowsPerBand), " +
      "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 " +
      "FROM sig a JOIN sig b ON a.sig = b.sig AND a.doc_id < b.doc_id)"

  private val minhashCtes = minhashCtesFor(500)

  private val candExists =
    "WHERE EXISTS (SELECT 1 FROM cand c WHERE c.d1 = a.doc_id AND c.d2 = b.doc_id)"

  /** The full pair chain (toks → … → jj) on the 500-doc slice, exposed
    * for composed oracles (`ingest_manifest` splices it — one minhash
    * definition repo-wide, the `stats_fdr_bh` splicing discipline). */
  private[llm] def minhashPairsCtes: String =
    s"$minhashCtes, ${jaccardCtes(candExists)}"

  /** The recursive connected-components chain through `lbl(doc_id,
    * cluster_id)` — shared by the cluster row and its histogram. */
  private lazy val ClusterCtes: String =
    s"WITH RECURSIVE $minhashCtes, ${jaccardCtes(candExists)}, " +
      "dups AS (SELECT d1, d2 FROM jj WHERE j >= 0.8e0), " +
      "edges AS (SELECT d1 AS a, d2 AS b FROM dups UNION ALL SELECT d2, d1 FROM dups), " +
      "reach(a, b) AS (SELECT a, b FROM edges " +
      "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b), " +
      "lbl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)"

  /** SimHash oracle for an arbitrary width ≤ 64 — identical vote math to
    * `simhashSigs`. Bit accumulation is `1::BIGINT << j` with the signed
    * two's-complement literal at j = 63: DuckDB's sum over BIGINT runs in
    * HUGEINT (no wraparound), so the j = 63 term must enter as −2⁶³ for
    * the total to BE the signed 64-bit value `shiftleft(1L, 63)` sums to
    * on the Spark side; every such total fits BIGINT exactly.
    */
  private def simhashOracleSql(bits: Int, maxHamming: Int): String =
    s"WITH $toksCte, " +
      s"bits AS (SELECT unnest(range($bits))::INT AS j), " +
      "votes AS (SELECT doc_id, j, sum(2 * ((( " +
      "instr('0123456789abcdef', substr(md5(tok), (j // 4) + 1, 1)) - 1) // " +
      "(CASE (j % 4) WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2) - 1)::BIGINT AS vote " +
      "FROM toks CROSS JOIN bits GROUP BY 1, 2), " +
      "sh AS (SELECT doc_id, sum(CASE WHEN vote >= 0 THEN " +
      "(CASE WHEN j = 63 THEN -9223372036854775807 - 1 ELSE (1::BIGINT << j) END) " +
      "ELSE 0 END)::BIGINT AS simhash FROM votes GROUP BY 1) " +
      "SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, " +
      "bit_count(xor(a.simhash, b.simhash))::INT AS hamming " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      s"WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming"

  /** Gram-parameterized substring-dedup oracle: identical sliding
    * windows — 0-based offset i, tokens i+1..i+gram (DuckDB inclusive
    * slice ≡ Spark slice(start, length)); BIGINT / BIGINT is double
    * division in both engines.
    */
  private def substringOracleSql(gram: Int): String =
    "WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
      s"w AS (SELECT doc_id, array_to_string(a[(i + 1)::INT:(i + $gram)::INT], ' ') AS wtext " +
      s"FROM (SELECT doc_id, a, unnest(range(0, len(a) - ${gram - 1})) AS i FROM t WHERE len(a) >= $gram)), " +
      "dup AS (SELECT wtext FROM (SELECT wtext, count(DISTINCT doc_id) AS nd " +
      "FROM w GROUP BY 1) WHERE nd >= 2), " +
      "tot AS (SELECT doc_id, count(*) AS n_win FROM w GROUP BY 1), " +
      "dd AS (SELECT doc_id, count(*) AS n_dup FROM w " +
      "WHERE wtext IN (SELECT wtext FROM dup) GROUP BY 1) " +
      "SELECT t.doc_id, n_win, coalesce(n_dup, 0) AS n_dup, " +
      "rnd(coalesce(n_dup, 0) / n_win, 6) AS dup_ratio " +
      "FROM tot t LEFT JOIN dd USING (doc_id)"

  val rawOracles: Map[String, String] = Map(
    "dedup_winnowing" ->
      // same md5-hex lexicographic minima over the same gram positions;
      // i >= w keeps only FULL windows in both engines
      ("WITH g AS (SELECT doc_id, i::INT AS i, " +
        "md5(array_to_string(a[i::INT:i::INT + 2], ' ')) AS h " +
        "FROM (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents " +
        "WHERE doc_id < 300) WHERE len(a) >= 6)), " +
        "mw AS (SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mh FROM g), " +
        "fp AS (SELECT DISTINCT doc_id, mh FROM mw WHERE i >= 4) " +
        "SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS n_shared " +
        "FROM fp a JOIN fp b ON a.mh = b.mh AND a.doc_id < b.doc_id GROUP BY 1, 2"),

    "similarity_minhash_est" ->
      // the shared minhash/candidate chain + per-seed agreement join +
      // the one jaccard verify, all on the same CTE fragments
      (s"WITH ${minhashCtesFor(MinhashEstBound)}, " +
        "ag AS (SELECT c.d1, c.d2, " +
        "sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)::BIGINT AS agree_n " +
        "FROM cand c JOIN mh ma ON ma.doc_id = c.d1 " +
        "JOIN mh mb ON mb.doc_id = c.d2 AND ma.seed = mb.seed GROUP BY 1, 2), " +
        jaccardCtes(candExists) +
        " SELECT ag.d1 AS doc_id1, ag.d2 AS doc_id2, agree_n, " +
        s"rnd(agree_n / ${NumHashes}e0, 6) AS est_jaccard, rnd(j, 6) AS jaccard " +
        s"FROM ag JOIN jj ON ag.d1 = jj.d1 AND ag.d2 = jj.d2 " +
        s"WHERE agree_n >= ${NumHashes / 2}"),
    "dedup_norm_keep_best" ->
      // same canonical form as text_normalize; keeper via the
      // (len DESC, doc_id) total order ≡ Spark's min(struct(-len, id))
      ("WITH n AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(" +
        "lower(text), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g'))) AS nh, " +
        "length(text)::INT AS len FROM documents), " +
        "g AS (SELECT nh, count(*) AS n_dups FROM n GROUP BY 1), " +
        "k AS (SELECT nh, doc_id, len, row_number() OVER (PARTITION BY nh " +
        "ORDER BY len DESC, doc_id) AS rn FROM n) " +
        "SELECT k.nh AS norm_hash, k.doc_id AS keeper_id, k.len AS keeper_len, " +
        "g.n_dups FROM k JOIN g ON k.nh = g.nh WHERE k.rn = 1"),

    "dedup_minhash_lsh" ->
      s"WITH $minhashCtes, ${jaccardTailSql(candExists)}",

    // connected components as a transitive-closure recursive CTE: tiny
    // components make the closure cheap in the oracle; the Spark side
    // uses min-label propagation (same fixed point, proven unique)
    "dedup_cluster" ->
      (s"$ClusterCtes SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM lbl"),

    // soft-dedup weights over the SAME recursive-CC chain; singletons
    // (docs outside every cluster) weight 1.0 via the left joins
    "dedup_soft" ->
      (s"$ClusterCtes, cs AS (SELECT cluster_id, count(*) AS k FROM lbl GROUP BY 1), " +
        "base AS (SELECT doc_id FROM documents WHERE doc_id < 500) " +
        "SELECT b.doc_id, coalesce(l.cluster_id, b.doc_id) AS cluster_id, " +
        "coalesce(cs.k, 1)::BIGINT AS cluster_size, " +
        "rnd(1e0 / coalesce(cs.k, 1), 6) AS weight " +
        "FROM base b LEFT JOIN lbl l ON b.doc_id = l.doc_id " +
        "LEFT JOIN cs ON l.cluster_id = cs.cluster_id"),

    "doc_novelty" ->
      // identical distinct-5-gram windows (DuckDB inclusive slice ≡
      // Spark slice(start, len)); first occurrence = min doc_id
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
        "w AS (SELECT DISTINCT doc_id, array_to_string(a[(i + 1)::INT:(i + 5)::INT], ' ') AS g " +
        "FROM (SELECT doc_id, a, unnest(range(0, len(a) - 4)) AS i FROM t WHERE len(a) >= 5)), " +
        "f AS (SELECT g, min(doc_id) AS first_doc FROM w GROUP BY 1) " +
        "SELECT w.doc_id, count(*) AS n_grams, " +
        "sum(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel, " +
        "rnd(sum(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS novelty " +
        "FROM w JOIN f ON w.g = f.g GROUP BY 1"),

    "dedup_cluster_hist" ->
      // one rollup over the SAME recursive-CC chain (shared CTE string,
      // so the histogram cannot drift from the clustering it describes)
      (s"$ClusterCtes, cs AS (SELECT cluster_id, count(*) AS cluster_size " +
        "FROM lbl GROUP BY 1) " +
        "SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY 1"),

    "dedup_simhash" -> simhashOracleSql(SimBits, 3),

    // the production width, same semantics — the oracle keeps its direct
    // all-pairs shape (banded ≡ all-pairs, DedupSpec's pigeonhole twin)
    "dedup_simhash64" -> simhashOracleSql(64, 3),

    "dedup_substring" -> substringOracleSql(8),
    "dedup_substring_50" -> substringOracleSql(50),

    "dedup_suffix" ->
      // the UNFILTERED suffix-order formulation: rank every doc-bounded
      // cap-truncated suffix, take adjacent cross-doc pairs with LCP >=
      // minLen. Equivalent to the Spark side's seed-prefiltered build
      // (the prefilter is semantics-preserving — suffixDupDocs scaladoc
      // carries the lexicographic-interval argument; DedupSpec pins it),
      // so the oracle stays the direct textbook form. LCP = first
      // mismatching char position - 1, same clip at the shorter length.
      ("WITH d AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id < 500), " +
        "suf AS MATERIALIZED (SELECT doc_id, i AS p, substring(text, i::INT, 120) AS s " +
        "FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM d)), " +
        "r AS MATERIALIZED (SELECT doc_id, p, s, " +
        "row_number() OVER (ORDER BY s, doc_id, p) AS rn FROM suf), " +
        "pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.s AS s1, b.s AS s2 " +
        "FROM r a JOIN r b ON b.rn = a.rn + 1 WHERE a.doc_id <> b.doc_id), " +
        "lc AS (SELECT d1, d2, " +
        "coalesce(list_min(list_filter(range(1, least(length(s1), length(s2)) + 1), " +
        "i -> substring(s1, i::INT, 1) <> substring(s2, i::INT, 1))), " +
        "least(length(s1), length(s2)) + 1) - 1 AS lcp FROM pr), " +
        "rep AS (SELECT doc_id, count(*) AS n_rep, max(lcp) AS max_rep_len FROM (" +
        "SELECT d1 AS doc_id, lcp FROM lc WHERE lcp >= 30 " +
        "UNION ALL SELECT d2, lcp FROM lc WHERE lcp >= 30) GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(n_rep, 0)::BIGINT AS n_rep, " +
        "coalesce(max_rep_len, 0)::BIGINT AS max_rep_len " +
        "FROM d LEFT JOIN rep USING (doc_id)"),

    "similarity_ngram" ->
      ("WITH toks AS (SELECT DISTINCT doc_id, substr(text, i::INT, 3) AS tok FROM (" +
        "SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i " +
        "FROM documents WHERE doc_id < 100 AND length(text) >= 3)), " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i " +
        "FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "jj AS (SELECT d1, d2, i / (sa.sz + sb.sz - i) AS j FROM inter " +
        "JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2) " +
        "SELECT d1 AS doc_id1, d2 AS doc_id2, rnd(j, 6) AS jaccard FROM jj WHERE j >= 0.6e0"),

    "doc_fingerprint" ->
      ("SELECT doc_id, list_reduce(" +
        "list_transform(string_split(text, ''), c -> ascii(c)::BIGINT), " +
        "(acc, x) -> (acc * 31 + x) % 1000000007)::BIGINT AS fp FROM documents"),

    "similarity_containment" ->
      // same DISTINCT 3-gram shingles, same shared-gram candidate join,
      // both containment directions from the two gram-count joins
      ("WITH g AS (SELECT DISTINCT doc_id, array_to_string(a[i::INT:i::INT + 2], ' ') AS gram " +
        "FROM (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents WHERE doc_id < 300) " +
        "WHERE len(a) >= 3)), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1), " +
        "com AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS n_common " +
        "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_id1, doc_id2, n_common, " +
        "rnd(n_common / s1.n, 6) AS containment_12, " +
        "rnd(n_common / s2.n, 6) AS containment_21 " +
        "FROM com JOIN sz s1 ON s1.doc_id = doc_id1 JOIN sz s2 ON s2.doc_id = doc_id2 " +
        "WHERE greatest(n_common / s1.n, n_common / s2.n) >= 0.2e0"),
  )
}
