package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Ckpt.TruncateSyntax
import graft.rel.Queries.rnd

/** Text-analysis operators for training-data curation (SURVEY.md north
  * star): quality scoring, token counting, and heuristic language ID.
  * All are per-document map + one keyed aggregation — shuffle-light,
  * embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  /** Function-word markers per language. On real corpora these are the
    * standard stopword lists; the mechanism (per-language marker-hit
    * scoring + deterministic argmax) is the production shape. Single
    * definition drives BOTH the Spark side and the generated oracle SQL.
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "los", "que"),
    "fr" -> Seq("le", "est", "et"),
    "zh" -> Seq("de5", "shi4", "le5"))

  private val Stopwords = Seq("the", "a", "of", "and", "in", "to")

  /** The content-word delimiter pair shared by RAKE, TextRank and the
    * token-budget quality score (ONE definition — round-13 review: the
    * pair was declared in three builders and inlined in three oracle
    * strings; a missed edit would silently diverge a row from its
    * twin). Oracles interpolate it via `inList`.
    */
  private[graft] val ContentStopwords = Seq("a", "the")

  // text_quality — the standard curation signals: token counts, type/token
  // ratio, average token length, stopword ratio.
  def quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        countDistinct(col("tok")).as("n_types"),
        rnd(avg(length(col("tok"))), 6).as("avg_len"),
        rnd(avg(when(col("tok").isin(Stopwords: _*), 1.0).otherwise(0.0)), 6).as("stop_ratio"))

  /** text_entropy — per-doc Shannon entropy of the token distribution
    * (nats) and its Pielou evenness H/ln(V): the whole-distribution
    * repetitiveness signal (quality_repetition scores the top-1 token;
    * low entropy flags templated/boilerplate text even when no single
    * token dominates). Single-pass identity H = ln(N) − Σ n·ln(n)/N
    * over the per-(doc, tok) counts — two keyed aggregations sharing
    * the doc_id shuffle, map-side partials on both. ln over identical
    * integers in both engines; the double-sum order difference is
    * absorbed by the shared rnd(6) like every avg/sum output here.
    * Single-type docs (V = 1) define evenness 0 via the shared CASE.
    */
  def entropy(s: SparkSession, d: String): DataFrame = {
    val h = log(sum(col("n"))) - sum(col("n") * log(col("n"))) / sum(col("n"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_tok"),
        count(lit(1)).as("n_types"),
        rnd(h, 6).as("entropy"),
        rnd(when(count(lit(1)) === 1, lit(0.0))
          .otherwise(h / log(count(lit(1)))), 6).as("evenness"))
  }

  // token_count — whitespace tokens, regex word tokens (BPE-ish pre-token
  // split), and characters; the three denominators every pipeline needs.
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_ws"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("n_word"),
      length(col("text")).as("n_chars"))

  // lang_id — marker-hit scoring, argmax with (score DESC, lang ASC)
  // deterministic tie-break.
  def langId(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val aggCols = Markers.map { case (lang, ms) =>
      sum(when(col("tok").isin(ms: _*), 1L).otherwise(0L)).as(s"s_$lang")
    }
    val scores = toks.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    val long = scores.select(col("doc_id"),
      explode(array(Markers.map { case (lang, _) =>
        struct(col(s"s_$lang").as("score"), lit(lang).as("lang"))
      }: _*)).as("sl"))
      .select(col("doc_id"), col("sl.score"), col("sl.lang"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("lang"))
    long.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("predicted_lang"), col("score"))
  }

  // text_normalize — the canonicalization pass every curation pipeline
  // runs before hashing/dedup: lowercase, strip non-alphanumerics,
  // collapse whitespace, trim; emit the canonical hash + length (the text
  // itself stays in place — this is the key-derivation shape). Pure
  // projection, zero shuffle. DuckDB's regexp_replace needs the 'g' flag
  // for Spark's replace-all semantics.
  def normalize(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(norm).as("norm_hash"),
      length(norm).as("norm_len"))
  }

  // sample_hash — deterministic hash sampling: keep ~25% of docs by the
  // first hex digit of md5(doc_id). Unlike rand()-based sampling this is
  // reproducible across engines, runs, and partitionings — the only
  // sampling a verifiable pipeline should use.
  def sampleHash(s: SparkSession, d: String): DataFrame = {
    val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
    Tables.documents(s, d)
      .filter(h1.isin("0", "1", "2", "3"))
      .select(col("doc_id"), h1.as("bucket"), length(col("text")).as("n_chars"))
  }

  // sample_importance — quality-proportional deterministic sampling:
  // keep each doc with probability p = min(1, n_chars/2000) — longer
  // documents are likelier training keeps (the importance-sampling
  // shape every quality-weighted mixture uses) — decided by comparing
  // an md5-derived uniform (first TWO hex digits → 0..255) against
  // floor(p·256). Deterministic across engines, runs, and
  // partitionings like sample_hash; p is the identical double
  // expression on both sides so the floor threshold cannot differ.
  def sampleImportance(s: SparkSession, d: String): DataFrame = {
    val p = least(lit(1.0), col("n_chars") / lit(2000.0))
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), p.as("p"), u.as("u"))
      .filter(col("u") < floor(col("p") * 256))
      .select(col("doc_id"), col("n_chars"), rnd(col("p"), 6).as("p"))
  }

  // sample_stratified — per-stratum deterministic rate sampling: the
  // class-rebalancing sampler every training pipeline runs (downsample
  // dominant strata, keep more of rare ones). Stratum = embedding label;
  // the kept fraction is (2 + label % 3)/16 — a stand-in rate table that
  // exercises per-stratum thresholds (a production run feeds real rates;
  // the mechanism — hash bucket < per-stratum threshold — is the
  // reproducible, engine-independent part, like sample_hash).
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("vec_id").cast("string")), 1, 1), 16, 10).cast("int")
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), bucket.as("bucket"))
      .filter(col("bucket") < lit(2) + pmod(col("label"), lit(3)))
  }

  // corpus_mix — deterministic weighted source mixing: training mixtures
  // draw source A at one rate and source B at another (here: the head
  // slice at 12/16, the tail at 4/16 — a 3:1 up-weighting of the head).
  // Hash-threshold per source keeps the mixture reproducible across
  // engines, runs, and partitionings; at scale each source is a pushed-
  // down scan + filter and the union is free (no shuffle).
  def corpusMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10).cast("int")
    val head = docs.filter(col("doc_id") < 500 && bucket < 12)
      .select(lit("head").as("source"), col("doc_id"))
    val tail = docs.filter(col("doc_id") >= 500 && bucket < 4)
      .select(lit("tail").as("source"), col("doc_id"))
    head.unionAll(tail)
  }

  // corpus_mix_temperature — the published temperature-sampling mixture
  // (mT5/XLM-R lineage): multilingual training corpora sample language l
  // with probability q_l ∝ p_l^(1/T) so low-resource languages are
  // up-weighted without flattening the mixture entirely. T = 2
  // (α = 1/2) makes the re-weight a sqrt — IEEE-exact-rounded in both
  // engines, unlike a general pow() whose last-ulp is libm-dependent —
  // and because p_l = n_l/N shares the denominator N across languages,
  // q_l = √n_l / Σ√n_m: the corpus size cancels and every input to the
  // final division is a correctly-rounded sqrt of an exact integer.
  // Output per language: doc count, natural share p, sampled share q,
  // and the boost factor q/p a pipeline applies as a per-source repeat
  // rate. Scale: one groupBy(lang) over the corpus (map-side partials),
  // then a |langs|-row broadcast-joined normalizer — nothing after the
  // first aggregate scales with corpus size.
  def corpusMixTemperatureDocs(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(sum(col("n_docs")).as("n_tot"),
      sum(sqrt(col("n_docs").cast("double"))).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"),
        rnd(col("n_docs").cast("double") / col("n_tot"), 6).as("p"),
        rnd(sqrt(col("n_docs").cast("double")) / col("z"), 6).as("q"),
        rnd(sqrt(col("n_docs").cast("double")) * col("n_tot") /
          (col("z") * col("n_docs")), 6).as("boost"))
  }

  def corpusMixTemperature(s: SparkSession, d: String): DataFrame =
    corpusMixTemperatureDocs(Tables.documents(s, d))

  // corpus_zipf — rank-frequency power-law fit: token counts ranked
  // desc, then the least-squares slope/intercept of ln(count) on
  // ln(rank) — the Zipf exponent, the one-number summary of corpus
  // "naturalness" (synthetic or template-heavy corpora bend the curve).
  // One token-count shuffle (map-side combine), a vocab-sized rank
  // window, and a scalar regression aggregate; the slope formula is
  // written out as explicit sums so both engines run the IDENTICAL
  // arithmetic rather than their internal covariance algorithms.
  def corpusZipf(s: SparkSession, d: String): DataFrame =
    corpusZipfDocs(Tables.documents(s, d))

  def corpusZipfDocs(docs: DataFrame): DataFrame = {
    val counts = tokenCounts(docs)
    // vocab-sized global window (documented: rank over vocab, not
    // corpus; `corpusZipfScalable` is the distributed-rank twin for
    // vocabularies too big for one sort task)
    val ranked = counts
      .withColumn("r", row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      .select(log(col("n").cast("double")).as("y"), log(col("r").cast("double")).as("x"))
    zipfRegression(ranked)
  }

  /** The at-scale form of `corpusZipfDocs`: the vocab-sized global rank
    * window replaced by the two-pass distributed rank — range-partition
    * by the sort key, per-partition `row_number`, per-partition counts
    * prefix-summed over a partitions-count-sized frame and broadcast
    * back (the `Curation.seqPackGlobal` / `Metrics.aucBinaryBucketed`
    * shape: no task ever sorts more than its range slice). Rank values
    * are identical because the sort key (n DESC, tok) is unique per
    * row; TextAnalysisSpec pins the twin.
    */
  def corpusZipfScalable(docs: DataFrame, partitions: Int = 0): DataFrame = {
    val parts =
      if (partitions > 0) partitions
      else docs.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = tokenCounts(docs)
      .repartitionByRange(parts, col("n").desc, col("tok"))
      .select(col("tok"), col("n"), spark_partition_id().as("pid"))
    val inPart = Window.partitionBy(col("pid")).orderBy(col("n").desc, col("tok"))
    // materialized before the offsets/join fan-out (Rank.globalRank lesson)
    val local = ranged.withColumn("r_in", row_number().over(inPart))
      .truncated()
    val offsets = local.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("base", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("base"))
    val ranked = local.join(broadcast(offsets), "pid")
      .select(log(col("n").cast("double")).as("y"),
        log((col("base") + col("r_in")).cast("double")).as("x"))
    zipfRegression(ranked)
  }

  private def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))

  /** Least-squares fit of y = ln(count) on x = ln(rank), written as
    * explicit sums so both engines (and both rank containers) run the
    * identical arithmetic.
    */
  private def zipfRegression(ranked: DataFrame): DataFrame =
    ranked.agg(
      count(lit(1)).cast("double").as("k"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(
        col("k").cast("long").as("n_vocab"),
        rnd(((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))), 6).as("zipf_slope"),
        rnd((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("k"), 6)
          .as("zipf_intercept"))

  /** quality_perplexity — the CCNet/Gopher-style LM-perplexity quality
    * filter, with the corpus's own add-one-smoothed bigram model as the
    * scoring LM: per doc, the negative mean log-likelihood
    * −mean ln((count(w₁w₂)+1) / (count(w₁)+V)) over its adjacent-token
    * bigrams (lower = more predictable = more "natural" under the
    * corpus distribution; a production run scores against a reference-
    * corpus model, same dataflow). Docs under 2 tokens are guarded out
    * (same rule as `text_bigrams`).
    *
    * Scale shape: bigram construction is a per-row array transform (no
    * positional self-join); the unigram/bigram count tables are
    * vocab-/bigram-vocab-sized keyed aggs with map-side combine; the
    * scoring joins are keyed on the gram itself (the same
    * co-partitioning argument as `tfidf`'s df join — NOT force-
    * broadcast, web-scale bigram vocabs are huge; AQE gates); V enters
    * as a broadcast one-row aggregate. Output is one keyed avg per doc.
    */
  def perplexityProxyDocs(docs: DataFrame): DataFrame = {
    // the bigram stream feeds the model counts AND the scoring join, and
    // the unigram table feeds the scoring join AND the vocab count —
    // materialize each once instead of re-running the corpus explode per
    // consumer (persist/`checkpoint()` on a cluster)
    val bg = docs
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(a) - 1), i -> struct(" +
          "element_at(a, i) as w1, " +
          "concat(element_at(a, i), ' ', element_at(a, i + 1)) as bg))")).as("x"))
      .select(col("doc_id"), col("x.w1").as("w1"), col("x.bg").as("bg"))
      .truncated()
    val uni = docs
      .select(explode(split(col("text"), " ")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("u"))
      .truncated()
    val big = bg.groupBy("bg").agg(count(lit(1)).as("b"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    bg.join(big, "bg").join(uni, "w1").crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        rnd(-avg(log((col("b") + lit(1L)) / (col("u") + col("v")))), 6).as("nll"))
  }

  def perplexityProxy(s: SparkSession, d: String): DataFrame =
    perplexityProxyDocs(Tables.documents(s, d))

  /** tokenizer_bpe — byte-pair-encoding tokenizer TRAINING, the
    * canonical LLM-data job: learn the merge table from the corpus.
    * Classic formulation (Sennrich et al.): work on the WORD-FREQUENCY
    * table (Zipf makes it vocab-sized — corpus-scale work happens
    * exactly once, in the word count; every merge round after that is
    * vocab-bounded and independent of corpus size), each word a
    * character-symbol sequence; per round, count adjacent symbol pairs
    * weighted by word frequency (keyed agg, map-side combine), pick the
    * most frequent (ONE-ROW max(struct) aggregate — no global sort;
    * ties break to the lexicographically larger pair, same rule in both
    * engines), and apply the merge to every word as a greedy
    * left-to-right `aggregate`-HOF fold over the symbol array (array
    * semantics sidestep the substring-ambiguity of string replace; a
    * freshly merged symbol does not immediately re-merge — standard BPE
    * greedy). Per-round `Ckpt.truncate` is the iterative-lineage
    * hygiene every loop here uses (`kmeansCentroids`). Output is the
    * merge-rule table (round, pair, cnt) — the trained tokenizer.
    * Production runs tens of thousands of rounds at this exact
    * per-round cost; the DuckDB twin replays each round's fold as a
    * per-word recursive CTE (depth = word length).
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 4): DataFrame = {
    val (rules, seqs, _) = bpeTrain(docs, rounds)
    // the rule table reads only the per-round one-row `best` blocks;
    // the final merged word table is this caller's to drop (round 13 —
    // bench_detail.json measured the tokenizer rows leaving 12-13
    // resident blocksets)
    graft.core.Ckpt.release(seqs)
    rules
  }

  /** Training loop shared by `bpeMerges` (the rule table) and
    * `bpeEncodeDocs` (which needs the final merged sequences). Also
    * returns the per-round one-row `best` checkpoints so the round-17
    * shared-memo builder can release them once the rule table is
    * folded (query-path callers run under `Ckpt.scoped`, which already
    * collects them).
    */
  private def bpeTrain(docs: DataFrame, rounds: Int):
      (DataFrame, DataFrame, Seq[DataFrame]) = {
    var seqs = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("word"), col("n"),
        expr("filter(split(word, ''), c -> c != '')").as("syms"))
      .truncated()
    val rules = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val bests = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pairs = seqs.filter(size(col("syms")) > 1)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "concat(element_at(syms, i), ' ', element_at(syms, i + 1)))")).as("pr"))
        .groupBy("pr").agg(sum(col("n")).as("cnt"))
      // one-row argmax, then the exhaustion guard: when no pairs remain
      // (every word fully merged) stop emitting rules — the isEmpty is a
      // one-row driver check, same scalar-per-round shape as the CC
      // convergence count
      val best = pairs.agg(max(struct(col("cnt"), col("pr"))).as("b"))
        .select(col("b.pr").as("bp"), col("b.cnt").as("cnt"))
        .filter(col("bp").isNotNull)
        .truncated()
      bests += best
      if (best.isEmpty) exhausted = true
      else {
        val prev = seqs
        seqs = seqs.crossJoin(broadcast(best.select(col("bp"))))
          .select(col("word"), col("n"), expr(
            """aggregate(syms, cast(array() as array<string>),
              |  (acc, x) -> if(size(acc) > 0 and concat(element_at(acc, -1), ' ', x) = bp,
              |    slice(acc, 1, size(acc) - 1) || array(concat(element_at(acc, -1), x)),
              |    acc || array(x)))""".stripMargin).as("syms"))
          .truncated()
        // round r is materialized; round r−1's word-table blocks have
        // no remaining reader (round-13 release discipline — only the
        // one-row `best` checkpoints ride into the rule table)
        graft.core.Ckpt.release(prev)
        rules += best.select(lit(r).as("round"), col("bp").as("pair"), col("cnt"))
        r += 1
      }
    }
    val ruleDf = rules.reduceOption(_ unionAll _).getOrElse(
      docs.sparkSession.range(0)
        .select(lit(0).as("round"), lit("").as("pair"), lit(0L).as("cnt")))
    (ruleDf, seqs, bests.toSeq)
  }

  /** Memoized BPE training per (session, dir) — round 17, the
    * `wordTokensShared` precedent one family over: THREE declared rows
    * consume the same deterministic 4-round training (`tokenizer_bpe`
    * reads the rule table, `tokenizer_encode` and `tokenizer_fertility`
    * read the final merged word table), and each re-ran the whole loop
    * (~12 jobs) per bench sample. The memo trains once per (session,
    * dir); `Bench` charges the cold build as its own `build_bpe_merges`
    * line (the round-11 cold-build accounting rule). The per-round
    * one-row `best` checkpoints are released once the rule table is
    * folded — the memo keeps exactly two frames (rules, merged word
    * table). Values are identical to a fresh training (deterministic
    * corpus, deterministic tie-break; TextAnalysisSpec pins memo ≡ fresh).
    */
  private[graft] def bpeShared(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.core.SharedFrames(s, d, "bpe") {
      val (rules, seqs, bests) = bpeTrain(Tables.documents(s, d), 4)
      val rulesT = graft.core.Ckpt.truncate(rules)
      bests.foreach(graft.core.Ckpt.release)
      (rulesT, seqs)
    }

  def releaseBpeShared(): Unit = graft.core.SharedFrames.release("bpe")

  def bpe(s: SparkSession, d: String): DataFrame =
    bpeShared(s, d)._1

  /** tokenizer_encode — the INFERENCE side of `tokenizer_bpe`: encode
    * every document with the trained merge table and report the tokens
    * it costs. Key scale property: encoding happens on the WORD table
    * (the training loop's final merged sequences — vocab-sized), and
    * documents just JOIN their words to the per-word token count
    * (vocab side is AQE-broadcastable) and sum — the corpus is never
    * re-folded. Output per doc: word count, token count, character
    * count, tokens-per-char (the compression a tokenizer is judged by).
    */
  def bpeEncodeDocs(docs: DataFrame, rounds: Int = 4,
      seqs0: Option[DataFrame] = None): DataFrame = {
    val wtoks = seqs0.getOrElse(bpeTrain(docs, rounds)._2)
      .select(col("word"), size(col("syms")).as("n_tok"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(wtoks, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"), col("n_chars"),
        rnd(col("n_tokens") / col("n_chars"), 6).as("tok_per_char"))
  }

  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeDocs(Tables.documents(s, d), seqs0 = Some(bpeShared(s, d)._2))

  // ---- tokenizer_wordpiece / tokenizer_viterbi: subword segmentation ----

  /** Substring-vocabulary size for the WordPiece/Viterbi segmenters —
    * top `SubwordTopV` multi-char substrings by occurrence mass, plus
    * every corpus character (guaranteed coverage, the WordPiece
    * alphabet rule). One constant, both segmenters, both oracles.
    */
  private[graft] val SubwordTopV = 64
  private[graft] val SubwordMaxLen = 4

  /** The frequency-selected subword vocabulary as a one-row broadcast
    * MAP column (sub → 1): substrings of length 2..SubwordMaxLen of
    * corpus words, mass = Σ word-count over occurrence positions, top
    * SubwordTopV by (mass DESC, sub ASC), UNION all single characters.
    * The vocab-sized rank is a bounded global-order window (the
    * corpus_zipf rule).
    */
  private def subwordVocabMap(docs: DataFrame): DataFrame = {
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
    val subs = words.select(col("n"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), i -> " +
          s"transform(sequence(2, $SubwordMaxLen), l -> " +
          "CASE WHEN i + l - 1 <= length(word) THEN substring(word, i, l) END)))"))
        .as("sub"))
      .filter(col("sub").isNotNull)
      .groupBy("sub").agg(sum(col("n")).as("m"))
    val top = subs
      .withColumn("rn", row_number().over(Window.orderBy(col("m").desc, col("sub"))))
      .filter(col("rn") <= SubwordTopV)
      .select(col("sub"))
    val chars = words.select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")).as("sub"))
      .distinct()
    broadcast(top.unionAll(chars).distinct()
      .agg(map_from_entries(collect_list(struct(col("sub"), lit(1)))).as("vm")))
  }

  /** tokenizer_wordpiece — greedy longest-match-first subword
    * segmentation (the BERT WordPiece inference rule) over the
    * frequency-selected vocab: at each position consume the LONGEST
    * vocab substring (single characters always match — the alphabet is
    * in-vocab, so every word segments without an UNK path). Exact
    * integer semantics end to end — token counts, no float scoring —
    * so the oracle is a per-word recursive walk over the same
    * longest-match table. Completes the tokenizer family next to BPE:
    * BPE segments by TRAINED MERGE ORDER, WordPiece by vocab
    * membership at inference time; fertility differences between the
    * two are the classic tokenizer-selection read-out. Shape: the
    * segmenter folds over DISTINCT WORDS (vocab-cardinality, never the
    * doc stream) with one broadcast map lookup per position; the doc
    * roll-up is the `bpeEncodeDocs` word-keyed equi-join.
    */
  def wordpieceEncodeDocs(docs: DataFrame, wt0: Option[DataFrame] = None): DataFrame = {
    val wt = wt0.getOrElse(wordTokenCounts(docs))
      .select(col("word"), col("n_wp").as("n_tok"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(wt, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"), col("n_chars"),
        rnd(col("n_tokens") / col("n_chars"), 6).as("tok_per_char"))
  }

  /** Per-distinct-word token counts under BOTH segmenters: `n_wp` =
    * greedy longest-match (WordPiece), `n_vit` = the MINIMUM-token
    * segmentation via the Viterbi-shape DP over the same vocab (the
    * optimal-split form of unigram-LM tokenizers with an exact-integer
    * objective — production unigram scores by log-likelihood, same DP
    * lattice; the integer objective keeps both engines bit-identical).
    * Both are one `aggregate` HOF over the word's positions with map
    * lookups — the DP carries best[0..i] as its accumulator array.
    */
  private[graft] def wordTokenCounts(docs: DataFrame,
      vocabOverride: Option[DataFrame] = None): DataFrame = {
    val L = SubwordMaxLen
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
    val matchLen = (1 to L).reverse.map(l =>
      s"WHEN i + ${l - 1} <= length(word) AND (($l = 1) OR " +
        s"map_contains_key(vm, substring(word, i, $l))) THEN $l")
      .mkString("CASE ", " ", " END")
    // vocabOverride: a (sub) frame for specs that need a PLANTED vocab
    // (the corpus-derived top-64 over the harness fixtures covers every
    // substring, where greedy ≡ optimal — the divergence case needs a
    // vocab with a hole)
    val vm = vocabOverride.fold(subwordVocabMap(docs))(v => broadcast(
      v.agg(map_from_entries(collect_list(struct(col("sub"), lit(1)))).as("vm"))))
    words.crossJoin(vm)
      .withColumn("n_wp", expr(
        "aggregate(sequence(1, length(word)), named_struct('p', 1, 'n', 0L), " +
          s"(acc, i) -> IF(i = acc.p, named_struct('p', acc.p + ($matchLen), " +
          "'n', acc.n + 1L), acc)).n"))
      .withColumn("n_vit", expr(
        "element_at(aggregate(sequence(1, length(word)), array(0L), " +
          s"(acc, i) -> concat(acc, array(array_min(transform(sequence(1, least($L, i)), " +
          "l -> CASE WHEN l = 1 OR map_contains_key(vm, substring(word, i - l + 1, l)) " +
          "THEN element_at(acc, i - l + 1) + 1L END))))), -1)"))
      .select(col("word"), col("n_wp"), col("n_vit"))
  }

  /** Memoized per (session, dir) — both tokenizer rows read the SAME
    * vocab + dual-segmenter table (the `minhashClusters` precedent;
    * round-13 review: each row rebuilt it independently). `Bench`
    * charges the cold build as its own `build_subword_vocab` line.
    */
  private def wordTokensShared(s: SparkSession, d: String): DataFrame =
    graft.core.SharedFrames(s, d, "subword_vocab") {
      graft.core.Ckpt.truncate(wordTokenCounts(Tables.documents(s, d)))
    }

  def releaseShared(): Unit = graft.core.SharedFrames.release("subword_vocab")

  def wordpieceEncode(s: SparkSession, d: String): DataFrame =
    wordpieceEncodeDocs(Tables.documents(s, d), Some(wordTokensShared(s, d)))

  /** tokenizer_viterbi — the OPTIMAL (minimum-token) segmentation next
    * to WordPiece's greedy one, per doc: greedy longest-match is not
    * optimal ("abcdef" with vocab {abcd, abc, def} greedily takes
    * abcd+e+f = 3 where abc+def = 2), and the per-doc token delta is
    * the price of greedy inference the tokenizer-selection decision
    * reads. Same vocab, same DP lattice as production unigram-LM
    * Viterbi with the exact-integer objective.
    */
  def viterbiEncodeDocs(docs: DataFrame, wt0: Option[DataFrame] = None): DataFrame = {
    val wt = wt0.getOrElse(wordTokenCounts(docs))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(wt, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_vit")).as("n_tokens_opt"),
        sum(col("n_wp")).as("n_tokens_greedy"))
      .select(col("doc_id"), col("n_words"), col("n_tokens_opt"),
        col("n_tokens_greedy"),
        (col("n_tokens_greedy") - col("n_tokens_opt")).as("greedy_excess"))
  }

  def viterbiEncode(s: SparkSession, d: String): DataFrame =
    viterbiEncodeDocs(Tables.documents(s, d), Some(wordTokensShared(s, d)))

  // ---- tokenizer_unigram_train: unigram-LM vocabulary TRAINING ----

  /** Seed-vocabulary width for the unigram trainer — deliberately wider
    * than the `SubwordTopV` the inference rows consume, so the EM loop
    * genuinely SELECTS the final vocabulary rather than re-ranking a
    * set that is already final (the SentencePiece start-big-then-prune
    * shape).
    */
  private[graft] val UnigramSeedV = 256
  private[graft] val UnigramRounds = 2

  // (tok, mass, len) packed into ONE BIGINT so the segmentation DP
  // compares pure integers: key = tok·2⁴⁸ + (2³¹ − mass)·2⁴ + len.
  // Minimizing the key is lexicographic (fewest tokens, HIGHEST mass,
  // shortest final piece) — every term exact in 64-bit in both engines.
  // Bounds: tok ≤ |word| < 2⁵ ⇒ tok·2⁴⁸ < 2⁵³; per-word mass sums stay
  // under 2³¹ up to ~85 M corpus char occurrences (≥ 50× the driver's
  // largest SF).
  private val UnigramEncBig = 1L << 31
  private val UnigramTokShift = 1L << 48

  /** tokenizer_unigram_train — unigram-LM tokenizer TRAINING (round 16,
    * VERDICT r15 #6 — the EM loop whose ABSENCE left the tokenizer
    * family train/inference-asymmetric: `tokenizer_bpe` trains merges,
    * but `tokenizer_viterbi`/`_wordpiece` consumed a raw-frequency
    * vocab that nothing trained). Hard (Viterbi) EM in the
    * SentencePiece lineage (Kudo 2018: seed big, segment, re-estimate,
    * prune), under the tokenizer family's declared EXACT-INTEGER
    * surrogate objective (`wordTokenCounts` scaladoc: production
    * unigram scores by log-likelihood on the same DP lattice; the
    * integer objective keeps both engines bit-identical):
    *
    *   - seed: top `UnigramSeedV` multi-char substrings (length 2..
    *     `SubwordMaxLen`) by raw occurrence mass, plus every corpus
    *     character (coverage rule), each carrying its mass;
    *   - E-step (per EM round): every DISTINCT word is segmented by the
    *     DP over the current vocab, minimizing the packed integer key
    *     (fewest tokens, then highest total piece mass, then shortest
    *     piece) — the backpointer rides the key's low 4 bits, so one
    *     fold produces both the optimum and the segmentation;
    *   - M-step: piece mass ← Σ word-count × times-chosen (the hard-EM
    *     expected count); multi-char pieces never chosen PRUNE OUT,
    *     characters stay at mass 0 (coverage), and the next round's
    *     tie-breaks follow the re-estimated masses — the rich-get-
    *     richer reinforcement that separates overlapping candidates
    *     ("the"/"th"/"he") the raw-frequency seed cannot;
    *   - after `UnigramRounds`: the trained vocabulary = top
    *     `SubwordTopV` multi-char pieces by final mass — exactly the
    *     shape `wordTokenCounts(vocabOverride)` consumes
    *     (TextAnalysisSpec wires the loop closed).
    *
    * Scale shape: every stage is vocab- or distinct-word-cardinality —
    * the doc stream is touched once for word counts; the DP is one
    * `aggregate` HOF per distinct word against a ≤ (SeedV + alphabet)-
    * entry broadcast map; the M-step is a keyed sum over emitted pieces
    * (≤ |word| per word). The two rank windows run over the substring-
    * count and trained-piece frames (vocab-sized, the corpus_zipf rule
    * — PlanAuditSpec-whitelisted). Inter-round vocab frames (≤ SeedV +
    * alphabet rows) are truncated so round r+1 plans against a constant
    * tree, and the registration is `Ckpt.scopedQ` so only the final
    * vocabulary survives the row.
    */
  def unigramTrainDocs(docs: DataFrame): DataFrame = {
    val L = SubwordMaxLen
    val words = graft.core.Ckpt.truncate(
      docs.select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n")))
    val occ = words.select(col("n"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), i -> " +
          s"transform(sequence(1, $L), l -> " +
          "CASE WHEN i + l - 1 <= length(word) THEN substring(word, i, l) END)))"))
        .as("sub"))
      .filter(col("sub").isNotNull)
      .groupBy("sub").agg(sum(col("n")).as("m"))
    val chars = occ.filter(length(col("sub")) === 1).select(col("sub"))
    val seed = occ.filter(length(col("sub")) >= 2)
      .withColumn("rn", row_number().over(Window.orderBy(col("m").desc, col("sub"))))
      .filter(col("rn") <= UnigramSeedV).drop("rn")
      .unionByName(occ.filter(length(col("sub")) === 1))
    var vocab = graft.core.Ckpt.truncate(seed) // (sub, m) — ≤ SeedV + alphabet rows
    val dpExpr =
      s"""aggregate(sequence(1, length(word)), array(${UnigramEncBig * 16}L),
         |  (acc, q) -> concat(acc, array(array_min(transform(sequence(1, least($L, q)), l ->
         |    CASE WHEN l = 1 OR map_contains_key(vm, substring(word, q - l + 1, l)) THEN
         |      (element_at(acc, q - l + 1) div ${UnigramTokShift}L + 1L) * ${UnigramTokShift}L
         |      + ((element_at(acc, q - l + 1) % ${UnigramTokShift}L) div 16L
         |         - coalesce(element_at(vm, substring(word, q - l + 1, l)), 0L)) * 16L
         |      + l
         |    END)))))""".stripMargin
    val bwExpr =
      """aggregate(sequence(1, length(word)),
        |  named_struct('j', length(word), 'ps', CAST(array() AS ARRAY<STRING>)),
        |  (acc, x) -> IF(acc.j > 0,
        |    named_struct('j', acc.j - CAST(element_at(bests, acc.j + 1) % 16L AS INT),
        |      'ps', concat(acc.ps, array(substring(word,
        |        acc.j - CAST(element_at(bests, acc.j + 1) % 16L AS INT) + 1,
        |        CAST(element_at(bests, acc.j + 1) % 16L AS INT))))),
        |    acc)).ps""".stripMargin
    for (_ <- 1 to UnigramRounds) {
      val vm = broadcast(vocab.agg(
        map_from_entries(collect_list(struct(col("sub"), col("m")))).as("vm")))
      val emitted = words.crossJoin(vm)
        .withColumn("bests", expr(dpExpr))
        .withColumn("ps", expr(bwExpr))
        .select(col("n"), explode(col("ps")).as("sub"))
        .groupBy("sub").agg(sum(col("n")).as("m"))
      // coverage: characters never emitted stay in the vocab at mass 0;
      // multi-char pieces never emitted prune out
      val next = emitted.unionByName(
        chars.join(emitted.select(col("sub")), Seq("sub"), "left_anti")
          .select(col("sub"), lit(0L).as("m")))
      vocab = graft.core.Ckpt.truncate(next)
    }
    vocab.filter(length(col("sub")) >= 2)
      .withColumn("rn", row_number().over(Window.orderBy(col("m").desc, col("sub"))))
      .filter(col("rn") <= SubwordTopV)
      .select(col("rn"), col("sub"), col("m").as("mass"))
  }

  def unigramTrain(s: SparkSession, d: String): DataFrame =
    unigramTrainDocs(Tables.documents(s, d))

  /** tokenizer_fertility — per-SOURCE tokenizer efficiency: mean BPE
    * tokens per word (fertility — the multilingual-tokenizer health
    * metric; a source with fertility ≫ corpus mean is being shredded
    * into characters and will train poorly per byte) plus the share of
    * word occurrences the vocab covers whole (n_tok = 1). Same trained
    * merge table as `tokenizer_encode` (one `bpeTrain`, word-keyed
    * equi-join — the word-cardinality table never rides the doc
    * stream), one source-keyed aggregate on top; counts exact to the
    * two closing divides.
    */
  def bpeFertilityBySource(docs: DataFrame, rounds: Int = 4,
      seqs0: Option[DataFrame] = None): DataFrame = {
    val wtoks = seqs0.getOrElse(bpeTrain(docs, rounds)._2)
      .select(col("word"), size(col("syms")).as("n_tok"))
    docs.select(col("source"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(wtoks, "word")
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok").cast("long")).as("n_tokens"),
        sum(when(col("n_tok") === 1, 1L).otherwise(0L)).as("whole_words"))
      .select(col("source"), col("n_words"), col("n_tokens"), col("whole_words"),
        rnd(col("n_tokens") / col("n_words").cast("double"), 6).as("fertility"),
        rnd(col("whole_words") / col("n_words").cast("double"), 6).as("whole_word_rate"))
  }

  def bpeFertility(s: SparkSession, d: String): DataFrame =
    bpeFertilityBySource(Tables.documents(s, d), seqs0 = Some(bpeShared(s, d)._2))

  /** quality_classifier — hashed-feature linear quality scorer (the
    * fastText-style MODEL-based filter a curation pipeline runs after
    * the heuristic ones; CCNet/RefinedWeb lineage): each token hashes
    * into a 256-bin weight grid, the doc logit is a·mean(weight)+b,
    * score = sigmoid(logit), kept = score ≥ ½. The weights here are a
    * deterministic md5-derived grid — a stand-in for trained
    * coefficients; the MECHANISM (hash features → mean → sigmoid →
    * threshold) is the engine-independent, oracle-checkable part, the
    * `sample_stratified` discipline. One explode + one doc-keyed agg
    * with map-side partials; the weight "table" is pure arithmetic, no
    * join — a production weight vector (2²⁰ bins) rides as one small
    * broadcast array, so the shape is identical at 100 TB. Float note:
    * each weight is a dyadic rational (k−127.5)/256, so the partial
    * sums are EXACT in double at any partitioning — the mean is
    * bit-identical across engines before sigmoid's rnd(6).
    */
  def qualityClassifierDocs(docs: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("double")
    val w = (h - lit(127.5)) / lit(256.0)
    val logit = lit(8.0) * col("mw") + lit(0.2)
    val score = lit(1.0) / (lit(1.0) + exp(-logit))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), w.as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), avg(col("w")).as("mw"))
      .select(col("doc_id"), col("n_tok"),
        rnd(score, 6).as("score"),
        (score >= 0.5).cast("int").as("kept"))
  }

  def qualityClassifier(s: SparkSession, d: String): DataFrame =
    qualityClassifierDocs(Tables.documents(s, d))

  /** quality_gopher — the published Gopher-lineage document-quality rule
    * set (Rae et al. 2021) as a declared filter row: word-count bounds,
    * mean-word-length band, and the "contains ≥ 2 stopwords" requirement,
    * each emitted as a signal plus the composite keep flag. The symbol-
    * ratio and alpha-word rules from the same family are vacuous on this
    * corpus (synthetic all-alphabetic tokens — every doc trivially
    * passes) and are deliberately omitted rather than declared as
    * always-true columns. Thresholds: word_count ≥ 50 (the published
    * lower bound; this corpus's docs are 10-99 tokens so the 100 k upper
    * bound cannot fire), 3 ≤ mean_word_len ≤ 10, stopword_hits ≥ 2 over
    * the published 9-word list. One map over documents — no explode, no
    * shuffle: the signals are array-HOF folds per row, embarrassingly
    * parallel at any corpus size.
    */
  def qualityGopher(s: SparkSession, d: String): DataFrame =
    qualityGopherDocs(Tables.documents(s, d))

  def qualityGopherDocs(docs: DataFrame): DataFrame = {
    val sw = GopherStopwords.map("'" + _ + "'").mkString(", ")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).as("word_count"),
        rnd(expr("aggregate(w, 0L, (acc, x) -> acc + length(x))") / size(col("w")), 6)
          .as("mean_word_len"),
        size(expr(s"filter(w, x -> x IN ($sw))")).as("stopword_hits"))
      .withColumn("keep",
        col("word_count") >= 50 && col("mean_word_len").between(3.0, 10.0) &&
          col("stopword_hits") >= 2)
  }

  private[llm] val GopherStopwords =
    Seq("the", "a", "and", "to", "of", "be", "that", "have", "with")

  // ---- text_bm25: Okapi BM25 retrieval scoring --------------------------

  /** BM25 terms/parameters: shared between the Spark build and the
    * oracle string so there is one source of truth (the ADVICE r7
    * interpolation discipline). */
  private[llm] val Bm25Terms = Seq("join", "merge", "spark")
  private[llm] val Bm25K1 = "1.2e0"
  private[llm] val Bm25B = "0.75e0"

  /** Okapi BM25 scoring of the corpus against a fixed term set — the
    * retrieval ranking every RAG pipeline runs next to its ANN index
    * (`ann_cosine_topk`'s lexical sibling). Lucene's idf variant
    * ln(1 + (N − df + ½)/(df + ½)), k1 = 1.2, b = 0.75.
    *
    * Determinism: per-doc score = Σ over terms, assembled as EXPLICIT
    * per-term conditional sums added in fixed textual order — never a
    * float `sum()` whose partial-merge order the engine owns (the
    * query-term set is fixed, so the pivot is static). Ranking orders on
    * the UNROUNDED score (identical per-doc expression both engines,
    * `ann_range_search` discipline), doc_id tie-break.
    *
    * Scale: tf is one explode + (doc, term)-keyed count with the IN
    * filter pushed below the explode; df and the corpus stats are
    * term-cardinality broadcasts; top-k is TakeOrderedAndProject (no
    * global sort materialization).
    */
  def bm25Docs(docs: DataFrame, topK: Int = 20): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = broadcast(base.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dft = broadcast(tf.groupBy(col("tok")).agg(count(lit(1)).as("df")))
    val contrib = tf.join(dft, "tok").crossJoin(stats)
      .withColumn("c",
        expr(s"ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * " +
          s"(tf * ($Bm25K1 + 1e0)) / " +
          s"(tf + $Bm25K1 * (1e0 - $Bm25B + $Bm25B * dl / avgdl))"))
    val perTerm = Bm25Terms.map(t =>
      sum(when(col("tok") === t, col("c"))).as(s"c_$t"))
    val score = Bm25Terms.map(t => coalesce(col(s"c_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    contrib.groupBy(col("doc_id"), col("dl"))
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score_raw", score)
      .orderBy(col("score_raw").desc, col("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("dl"), rnd(col("score_raw"), 6).as("bm25"))
  }

  def bm25(s: SparkSession, d: String): DataFrame =
    bm25Docs(Tables.documents(s, d))

  // ---- text_collocations: PMI-ranked bigrams ----------------------------

  /** Pointwise mutual information over adjacent-token bigrams —
    * collocation mining (`text_bigrams` counts them; this ranks them by
    * association): PMI = ln(n_ab · T / (n_a · n_b)) with T = total
    * bigram count, unigram marginals counted over the SAME bigram
    * positions (first element) so the probability space is consistent.
    * Min-count floor of 5 drops the noise tail, the standard practice.
    * PMI is one ln over a ratio of exact BIGINTs — both engines evaluate
    * the identical double. Top-20 by (PMI unrounded, bigram) via
    * TakeOrderedAndProject.
    *
    * Scale: bigram construction is the per-row array transform
    * (`text_bigrams` shape, no position self-join); everything after is
    * vocabulary²-bounded counts; marginals broadcast.
    */
  def collocationsDocs(docs: DataFrame, minCount: Long = 5, topK: Int = 20): DataFrame = {
    val pairs = docs
      .select(split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(a) - 1), i -> " +
          "struct(element_at(a, i) AS w1, element_at(a, i + 1) AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val total = broadcast(pairs.agg(count(lit(1)).as("t")))
    val m1 = broadcast(pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_a")))
    val m2 = broadcast(pairs.groupBy(col("w2")).agg(count(lit(1)).as("n_b")))
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .join(m1, "w1").join(m2, "w2").crossJoin(total)
      .withColumn("pmi_raw",
        log(col("n_ab") * col("t") / (col("n_a") * col("n_b")).cast("double")))
      .orderBy(col("pmi_raw").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("n_ab"), rnd(col("pmi_raw"), 6).as("pmi"))
  }

  def collocations(s: SparkSession, d: String): DataFrame =
    collocationsDocs(Tables.documents(s, d))

  // ---- text_hapax: vocabulary growth / lexical-diversity health ---------

  /** Per-source lexical-diversity report: token count, vocabulary size,
    * hapax legomena (frequency-1 types), and type-token ratio — the
    * Heaps'-law corpus-health diagnostic next to `corpus_zipf`'s
    * rank-frequency row: a source whose TTR or hapax share collapses is
    * template/boilerplate spam, one that explodes is mojibake.
    *
    * Scale: one explode + (source, token)-keyed count (partial-agg
    * collapses to vocabulary cardinality map-side), then one
    * source-keyed rollup. TTR division is the only double, derived from
    * exact BIGINTs at the edge.
    */
  def hapaxDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        rnd(col("vocab") / col("n_tokens").cast("double"), 6).as("ttr"))

  def hapax(s: SparkSession, d: String): DataFrame =
    hapaxDocs(Tables.documents(s, d))

  // ---- corpus_apportion: largest-remainder token-budget allocation ------

  /** Shared budget constant — interpolated into the oracle string (the
    * ADVICE r7 single-source discipline). */
  private[llm] val ApportionBudget = 1000000L

  /** Hamilton (largest-remainder) apportionment of a global token
    * budget across sources proportional to their token mass — the step
    * AFTER `corpus_mix`/`corpus_mix_temperature` decide ideal weights:
    * a sampler needs an INTEGER document/token quota per source that
    * sums exactly to the budget, and naive per-source rounding
    * over- or under-shoots. Base quota = ⌊budget·tokᵢ/total⌋ (pure
    * integer — no float ever enters), the leftover seats go to the
    * largest remainders (tie: source asc). Σ alloc ≡ budget exactly
    * (spec-pinned).
    *
    * Scale: one source-keyed aggregate; the ranking window runs on the
    * SOURCE table (vocabulary-sized at any corpus scale); budget·tokᵢ
    * stays in BIGINT up to ~9·10¹² tokens per source at this budget.
    */
  def apportionDocs(docs: DataFrame, budget: Long = ApportionBudget): DataFrame = {
    val bySrc = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy(col("source")).agg(sum(col("ntok")).as("tok_n"))
    val tot = broadcast(bySrc.agg(sum(col("tok_n")).as("total")))
    val base = bySrc.crossJoin(tot)
      .withColumn("base", expr(s"($budget * tok_n) div total"))
      .withColumn("rem", expr(s"($budget * tok_n) % total"))
    val left = broadcast(base.agg((lit(budget) - sum(col("base"))).as("leftover")))
    val w = Window.orderBy(col("rem").desc, col("source"))
    base.crossJoin(left)
      .withColumn("rk", row_number().over(w))
      .select(col("source"), col("tok_n"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
  }

  def apportion(s: SparkSession, d: String): DataFrame =
    apportionDocs(Tables.documents(s, d))

  // ---- quality_ks_drift: exact two-sample KS statistic ------------------

  /** Kolmogorov-Smirnov distance between the doc-length distributions
    * of two corpus slices (even vs odd doc_ids stand in for "reference
    * vs current ingest", the `embedding_drift` convention) — the
    * distribution-drift alarm for ANY numeric quality signal, here on
    * `n_chars`. EXACT-INTEGER formulation: D = max |F₁−F₂| over pooled
    * values ≡ max |c₁·n₂ − c₂·n₁| / (n₁·n₂) where c are cumulative
    * counts — so the max is over BIGINTs and the single division
    * happens once at the edge (no per-point float CDFs whose rounding
    * could reorder the argmax). One full-outer join on distinct
    * values, one cumulative window over VALUE cardinality (bounded by
    * the signal's domain, not corpus rows), one max.
    */
  def ksDriftDocs(docs: DataFrame): DataFrame = {
    def side(mod: Int, cnt: String) = docs
      .filter(pmod(col("doc_id"), lit(2)) === mod)
      .groupBy(col("n_chars").as("x")).agg(count(lit(1)).as(cnt))
    val merged = side(0, "c1x").join(side(1, "c2x"), Seq("x"), "full_outer")
      .select(col("x"), coalesce(col("c1x"), lit(0L)).as("c1x"),
        coalesce(col("c2x"), lit(0L)).as("c2x"))
    val w = Window.orderBy(col("x")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = merged
      .withColumn("c1", sum(col("c1x")).over(w))
      .withColumn("c2", sum(col("c2x")).over(w))
    val tot = broadcast(cum.agg(max(col("c1")).as("n1"), max(col("c2")).as("n2")))
    cum.crossJoin(tot)
      .agg(max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d_num"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .select(col("n1"), col("n2"),
        rnd(col("d_num") / (col("n1") * col("n2")).cast("double"), 6).as("ks_stat"))
  }

  def ksDrift(s: SparkSession, d: String): DataFrame =
    ksDriftDocs(Tables.documents(s, d))

  /** quality_psi_drift — Population Stability Index between the same
    * two corpus halves `quality_ks_drift` compares (doc_id parity; the
    * deterministic stand-in for "last week vs this week"): binned
    * length distributions, PSI = Σ_bins (p−q)·ln(p/q) — THE standard
    * drift scalar risk teams alert on next to KS (PSI < 0.1 stable,
    * 0.1-0.25 shifting, > 0.25 act). Bins are FIXED-WIDTH
    * (`least(n_chars div 200, 9)` — data-independent edges, so both
    * engines bin identically with no min/max pass), and the
    * proportions carry +0.5 Laplace smoothing per bin (an empty bin
    * would make ln(p/q) ±∞; the smoothed form is the standard
    * production guard and keeps the scalar defined on any split).
    * Shape: two 10-key aggregates + one 10-row join + one closing
    * fold — nothing outlives the scan.
    */
  def psiDriftDocs(docs: DataFrame, binWidth: Int = 200, bins: Int = 10): DataFrame = {
    // `div`, not `/` — Spark's `/` on integers is double division
    val bin = expr(s"least(CAST(n_chars AS BIGINT) div $binWidth, ${bins - 1})").cast("int")
    def side(mod: Int, cnt: String) = docs
      .filter(pmod(col("doc_id"), lit(2)) === mod)
      .groupBy(bin.as("b")).agg(count(lit(1)).as(cnt))
    val merged = side(0, "c1").join(side(1, "c2"), Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val tot = broadcast(merged.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2")))
    merged.crossJoin(tot)
      .select(col("n1"), col("n2"),
        (((col("c1") + 0.5) / (col("n1") + 0.5 * bins)) -
          ((col("c2") + 0.5) / (col("n2") + 0.5 * bins))).as("dpq"),
        log(((col("c1") + 0.5) / (col("n1") + 0.5 * bins)) /
          ((col("c2") + 0.5) / (col("n2") + 0.5 * bins))).as("lr"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        rnd(sum(col("dpq") * col("lr")), 6).as("psi"))
  }

  def psiDrift(s: SparkSession, d: String): DataFrame =
    psiDriftDocs(Tables.documents(s, d))

  /** text_readability — Flesch reading-ease per document from three
    * regex counts (word runs, sentence-final punctuation runs, vowel
    * groups as the classic syllable heuristic). Pure map, codegen'd
    * regexp — the same shuffle-free shape as `pii_redact`, and both
    * patterns are RE2-and-Java-regex compatible so the DuckDB twin
    * applies the identical expressions. The synthetic corpus carries no
    * sentence punctuation, so the `greatest(1, …)` floor (which any
    * robust readability scorer needs for fragments anyway) keeps the
    * words-per-sentence term defined. Counts are INTs; the score is one
    * closing float expression over exact integer ratios.
    */
  def readabilityDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        expr("size(regexp_extract_all(lower(text), '[a-z]+', 0))").as("words"),
        expr("greatest(1, size(regexp_extract_all(text, '[.!?]+', 0)))").as("sentences"),
        expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))").as("syllables"))
      .select(col("doc_id"), col("words"), col("sentences"), col("syllables"),
        rnd(lit(206.835) - lit(1.015) * (col("words") / col("sentences")) -
          lit(84.6) * (col("syllables") / greatest(lit(1), col("words"))), 4).as("flesch"))

  def readability(s: SparkSession, d: String): DataFrame =
    readabilityDocs(Tables.documents(s, d))

  // ---- text_rake: RAKE keyword extraction -------------------------------

  /** text_rake — Rapid Automatic Keyword Extraction (Rose et al. 2010):
    * candidate phrases are maximal runs of content tokens between
    * stopword delimiters; word score = deg(w)/freq(w) where deg sums the
    * lengths of every phrase containing w; phrase score sums its words'
    * scores. Top 20 by (rounded score DESC, phrase ASC) — ranking on the
    * ROUNDED score because same-multiset phrases are mathematically
    * tied and an unrounded float cut could order them differently per
    * engine. Scale shape: the island assignment is one window over the
    * doc-partitioned token stream (per-doc frames); word stats and
    * per-phrase sums are keyed aggregates on content-token / phrase-id
    * keys; nothing is all-pairs. The shared island frame is truncated
    * once instead of re-deriving the corpus explode per consumer (the
    * `perplexityProxyDocs` rule).
    */
  def rakeDocs(docs: DataFrame): DataFrame = {
    val stop = ContentStopwords
    val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(!col("tok").isin(stop: _*))
      .withColumn("isl", col("pos") - row_number().over(wIsl))
      .truncated()
    val ph = isl.groupBy(col("doc_id"), col("isl"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok"))).as("phrase"),
        count(lit(1)).as("len"))
      .truncated()
    val wl = isl.join(ph.select(col("doc_id"), col("isl"), col("len")),
      Seq("doc_id", "isl")).truncated()
    val ws = wl.groupBy(col("tok"))
      .agg((sum(col("len")).cast("double") / count(lit(1))).as("wscore"))
    val inst = wl.join(ws, "tok")
      .groupBy(col("doc_id"), col("isl")).agg(sum(col("wscore")).as("score_raw"))
    inst.join(ph.select(col("doc_id"), col("isl"), col("phrase")), Seq("doc_id", "isl"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), rnd(max(col("score_raw")), 6).as("score"))
      .orderBy(col("score").desc, col("phrase")).limit(20)
  }

  def rake(s: SparkSession, d: String): DataFrame =
    rakeDocs(Tables.documents(s, d))

  // ---- text_textrank: graph-based keyword extraction ---------------------

  /** text_textrank — TextRank (Mihalcea & Tarau 2004), the WEIGHTED
    * variant: corpus-global word graph with an edge between content
    * tokens co-occurring within a window of 2 (positions over the
    * stopword-filtered sequence, the `rakeDocs` island convention);
    * edge weight = co-occurrence count; 3 synchronous PageRank rounds
    * at damping 0.85 where a node distributes its rank proportionally
    * to edge weight (r ← 0.15/N + 0.85·Σ w·r/W). Complements RAKE:
    * RAKE scores PHRASES by intra-phrase degree, TextRank scores WORDS
    * by global graph centrality. Scale shape: the co-occurrence build
    * is a per-doc position-banded self-join (equi-join on doc_id, band
    * filter — never all-pairs) and the iteration runs on the VOCAB-
    * sized graph (`graph_pagerank`'s exact skeleton: one equi-join +
    * keyed sum per round, per-round truncate/release); vocabulary
    * grows sublinearly in corpus bytes, so the rounds are cheap at any
    * SF and the one corpus-sized stage is the token explode.
    */
  def textrankDocs(docs: DataFrame, iters: Int = 3): DataFrame = {
    import graft.core.Ckpt
    val stop = ContentStopwords
    val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val ct = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(!col("tok").isin(stop: _*))
      .withColumn("r", row_number().over(wIsl))
      .select(col("doc_id"), col("tok"), col("r"))
      .truncated()
    val co = ct.select(col("doc_id"), col("tok").as("w1"), col("r").as("r1"))
      .join(ct.select(col("doc_id"), col("tok").as("w2"), col("r").as("r2")), "doc_id")
      .filter(col("r2") - col("r1") >= 1 && col("r2") - col("r1") <= 2 &&
        col("w1") =!= col("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("w"))
    // symmetrize and merge the two directions into one weighted edge set
    val eg = Ckpt.truncate(
      co.select(col("w1").as("src"), col("w2").as("dst"), col("w"))
        .unionAll(co.select(col("w2").as("src"), col("w1").as("dst"), col("w")))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
    Ckpt.release(ct)
    // weighted-degree table doubles as the node set (edges symmetrized);
    // node count rides in the state as a broadcast one-row aggregate —
    // the graph_pagerank skeleton, weights swapped in
    val deg = eg.groupBy(col("src")).agg(sum(col("w")).as("wd"))
    val n1 = broadcast(deg.agg(count(lit(1)).cast("double").as("n")))
    var ranks = deg.crossJoin(n1)
      .select(col("src").as("node"), col("wd"), col("n"), (lit(1.0) / col("n")).as("r"))
      .truncated()
    val teleport = (BigDecimal(1) - BigDecimal("0.85")).toDouble
    for (_ <- 1 to iters) {
      val contrib = eg
        .join(ranks, eg("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") * col("w") / col("wd")).as("c"))
      val prev = ranks
      ranks = ranks.select(col("node"), col("wd"), col("n"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("wd"), col("n"),
          (lit(teleport) / col("n") + lit(0.85) * coalesce(col("c"), lit(0.0))).as("r"))
        .truncated()
      Ckpt.release(prev)
    }
    val out = Ckpt.truncate(
      ranks.select(col("node").as("word"), rnd(col("r"), 6).as("rank")))
    Ckpt.release(ranks)
    Ckpt.release(eg)
    out
  }

  def textrank(s: SparkSession, d: String): DataFrame =
    textrankDocs(Tables.documents(s, d))

  // ---- corpus_token_budget: quality-greedy budget selection --------------

  /** corpus_token_budget — fill a fixed token budget with the
    * highest-quality docs: rank the corpus by a quality score
    * (stopword fraction — the C4/fastText-lineage natural-language
    * signal; ties by doc_id), take docs in rank order while the running
    * token total stays within budget = ⌊25 % of corpus tokens⌋, report
    * kept/total docs+tokens per language. This is the selection step a
    * compute-bound pretraining run performs when the cleaned corpus
    * still exceeds the token budget the scaling law asks for.
    *
    * Scale shape: the greedy prefix is a GLOBAL running sum, computed
    * as the two-pass distributed prefix sum (`seqPackGlobal`'s shape —
    * range-repartition on the rank keys, per-partition local cumsum,
    * per-partition totals (≤ #partitions rows, where the one global-
    * order window is free) broadcast back); no task ever holds more
    * than its range slice. The ranked frame is truncated before the
    * offsets/join fan-out (the `prefixPackBy` determinism rule: the
    * range boundary sample must not be re-evaluated per subtree).
    */
  def tokenBudgetDocs(docs: DataFrame, frac: Double = 0.25): DataFrame = {
    import graft.core.Ckpt
    val sc0 = docs.select(col("doc_id"), col("lang"), split(col("text"), " ").as("a"))
      .select(col("doc_id"), col("lang"),
        size(col("a")).cast("long").as("n_tok"),
        size(filter(col("a"), t => t.isin(ContentStopwords: _*))).cast("long").as("n_stop"))
      .filter(col("n_tok") > 0)
      .withColumn("score", col("n_stop").cast("double") / col("n_tok"))
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = Ckpt.truncate(
      sc0.repartitionByRange(parts, col("score").desc, col("doc_id"))
        .withColumn("pid", spark_partition_id()))
    val inPart = Window.partitionBy(col("pid"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = Ckpt.truncate(
      ranged.withColumn("cum_in", sum(col("n_tok")).over(inPart)))
    Ckpt.release(ranged)
    val offsets = local.groupBy(col("pid")).agg(max(col("cum_in")).as("tot"))
      .withColumn("base", coalesce(sum(col("tot")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("base"))
    // budget from the materialized frame — not sc0, whose re-evaluation
    // would be a second corpus scan for one scalar
    val budget = broadcast(local.agg(
      floor(lit(frac) * sum(col("n_tok"))).cast("long").as("budget")))
    val kept = local.join(broadcast(offsets), "pid")
      .crossJoin(budget)
      .filter(col("base") + col("cum_in") <= col("budget"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tok")).as("n_tokens_kept"))
    val tot = local.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_total"), sum(col("n_tok")).as("n_tokens_total"))
    val out = Ckpt.truncate(
      tot.join(kept, Seq("lang"), "left")
        .select(col("lang"),
          coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
          coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
          col("n_docs_total"), col("n_tokens_total"),
          rnd(coalesce(col("n_tokens_kept"), lit(0L)).cast("double") /
            col("n_tokens_total"), 6).as("kept_token_frac")))
    Ckpt.release(local)
    out
  }

  def tokenBudget(s: SparkSession, d: String): DataFrame =
    tokenBudgetDocs(Tables.documents(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_rake" -> graft.core.Ckpt.scopedQ(rake),
    "text_textrank" -> textrank,
    "corpus_token_budget" -> tokenBudget,
    "text_readability" -> readability,
    "quality_ks_drift" -> ksDrift,
    "quality_psi_drift" -> psiDrift,
    "corpus_apportion" -> apportion,
    "tokenizer_bpe" -> graft.core.Ckpt.scopedQ(bpe),
    "tokenizer_encode" -> graft.core.Ckpt.scopedQ(bpeEncode),
    "tokenizer_fertility" -> graft.core.Ckpt.scopedQ(bpeFertility),
    "tokenizer_wordpiece" -> wordpieceEncode,
    "tokenizer_viterbi" -> viterbiEncode,
    "tokenizer_unigram_train" -> graft.core.Ckpt.scopedQ(unigramTrain),
    "text_quality" -> quality,
    "text_entropy" -> entropy,
    "token_count" -> tokenCount,
    "lang_id" -> langId,
    "text_normalize" -> normalize,
    "sample_hash" -> sampleHash,
    "sample_importance" -> sampleImportance,
    "sample_stratified" -> sampleStratified,
    "corpus_mix" -> corpusMix,
    "corpus_mix_temperature" -> corpusMixTemperature,
    "corpus_zipf" -> corpusZipf,
    "quality_perplexity" -> graft.core.Ckpt.scopedQ(perplexityProxy),
    "quality_classifier" -> qualityClassifier,
    "quality_gopher" -> qualityGopher,
    "text_bm25" -> bm25,
    "text_collocations" -> collocations,
    "text_hapax" -> hapax,
  )

  private def inList(items: Seq[String]) = items.map("'" + _ + "'").mkString("(", ", ", ")")

  /** One BPE round in DuckDB: pair counts from s{i-1}, the argmax rule
    * (s CTEs are MATERIALIZED: DuckDB inlines CTEs by default, and an
    * inlined s{i-1} re-evaluates the ENTIRE upstream recursion on every
    * iteration of m{i} — the chain compounds ~(word-length)^rounds
    * corpus scans; measured 200 s → 0.5 s at sf0.1 with the hint)
    * b{i} (ORDER BY cnt DESC, pr DESC ≡ Spark's max(struct)), and the
    * merged sequences s{i} via a per-word recursive fold m{i} (depth =
    * word length) running the IDENTICAL greedy left-to-right semantics
    * as the Spark `aggregate` HOF.
    */
  private def bpeRoundSql(i: Int): String = {
    val prev = s"s${i - 1}"
    s"p$i AS (SELECT pr, sum(n)::BIGINT AS cnt FROM (" +
      s"SELECT n, syms[j::INT] || ' ' || syms[(j + 1)::INT] AS pr " +
      s"FROM (SELECT n, syms, unnest(range(1, len(syms))) AS j FROM $prev WHERE len(syms) >= 2)) GROUP BY 1), " +
      s"b$i AS (SELECT pr, cnt FROM p$i ORDER BY cnt DESC, pr DESC LIMIT 1), " +
      s"m$i(word, n, i, acc) AS (" +
      s"SELECT word, n, 1, [syms[1]] FROM $prev " +
      s"UNION ALL SELECT m.word, m.n, m.i + 1, " +
      s"CASE WHEN m.acc[-1] || ' ' || s.syms[(m.i + 1)::INT] = b.pr " +
      s"THEN m.acc[1:(len(m.acc) - 1)::INT] || [m.acc[-1] || s.syms[(m.i + 1)::INT]] " +
      s"ELSE m.acc || [s.syms[(m.i + 1)::INT]] END " +
      s"FROM m$i m JOIN $prev s ON s.word = m.word CROSS JOIN b$i b WHERE m.i < len(s.syms)), " +
      s"s$i AS MATERIALIZED (SELECT m.word, m.n, m.acc AS syms FROM m$i m JOIN $prev s ON s.word = m.word " +
      s"WHERE m.i = len(s.syms))"
  }

  private val bpeChainSql: String =
    "WITH RECURSIVE s0 AS MATERIALIZED (SELECT word, count(*) AS n, " +
      "list_filter(string_split(word, ''), c -> c != '') AS syms " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE len(word) > 0 GROUP BY 1), " +
      (1 to 4).map(bpeRoundSql).mkString(", ")

  private val bpeSql: String =
    bpeChainSql + " " +
      (1 to 4).map(i => s"SELECT $i AS round, pr AS pair, cnt FROM b$i")
        .mkString(" UNION ALL ")

  private val bpeEncodeSql: String =
    bpeChainSql + ", " +
      "wt AS (SELECT word, len(syms)::INT AS n_tok FROM s4), " +
      "dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) " +
      "SELECT doc_id, count(*) AS n_words, sum(n_tok)::BIGINT AS n_tokens, " +
      "sum(length(word))::BIGINT AS n_chars, " +
      "rnd(sum(n_tok) / sum(length(word)), 6) AS tok_per_char " +
      "FROM dw JOIN wt USING (word) WHERE length(word) > 0 GROUP BY 1"

  /** The WordPiece/Viterbi subword chain in DuckDB: identical
    * frequency-selected vocab (top-64 multi-char substrings by (mass
    * DESC, sub ASC) + all single chars), identical longest-match table,
    * and the greedy walk as a per-word recursive chain (`rw` advances
    * past len exactly once — the terminal row IS the word's count).
    * Needs the WITH RECURSIVE prefix (the ClusterCtes convention).
    */
  private val subwordCtes: String =
    "WITH RECURSIVE wd AS MATERIALIZED (SELECT word, count(*) AS n FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE length(word) > 0 GROUP BY 1), " +
      "sp AS MATERIALIZED (SELECT word, n, i FROM " +
      "(SELECT word, n, unnest(range(1, length(word) + 1)) AS i FROM wd) spx), " +
      "sb AS (SELECT sub, sum(n)::BIGINT AS m FROM " +
      s"(SELECT n, substr(word, i::INT, l::INT) AS sub FROM sp, range(2, ${SubwordMaxLen + 1}) t(l) " +
      "WHERE i + l - 1 <= length(word)) sbx GROUP BY 1), " +
      s"tp AS (SELECT sub FROM (SELECT sub, row_number() OVER (ORDER BY m DESC, sub) AS rn FROM sb) tpx WHERE rn <= $SubwordTopV), " +
      "ch AS (SELECT DISTINCT substr(word, i::INT, 1) AS sub FROM sp), " +
      "vc AS MATERIALIZED (SELECT sub FROM tp UNION SELECT sub FROM ch), " +
      "wp AS (SELECT DISTINCT word, i FROM sp), " +
      s"mx AS (SELECT word, i, l, substr(word, i::INT, l::INT) AS s3 FROM wp, range(2, ${SubwordMaxLen + 1}) t(l) " +
      "WHERE i + l - 1 <= length(word)), " +
      "mv AS MATERIALIZED (SELECT mx.word, mx.i, mx.l FROM mx JOIN vc ON vc.sub = mx.s3), " +
      "ml AS MATERIALIZED (SELECT wp.word, wp.i, coalesce(max(mv.l), 1) AS l " +
      "FROM wp LEFT JOIN mv ON mv.word = wp.word AND mv.i = wp.i GROUP BY 1, 2), " +
      "wdd AS (SELECT word FROM wd), " +
      "rw(word, len, p, n) AS (SELECT word, length(word)::BIGINT, 1::BIGINT, 0::BIGINT FROM wdd " +
      "UNION ALL SELECT rw.word, rw.len, rw.p + ml.l, rw.n + 1 FROM rw " +
      "JOIN ml ON ml.word = rw.word AND ml.i = rw.p WHERE rw.p <= rw.len), " +
      "wt AS MATERIALIZED (SELECT word, n AS n_tok FROM rw WHERE p > len), "

  /** The min-token DP as a per-word recursive fold carrying
    * best[0..i] as a list (`bests[k]` = best cost of the first k−1
    * characters); candidates per END position q are 1 plus every vocab
    * match of length ≤ min(maxLen, q).
    */
  private val viterbiCtes: String =
    "wq AS (SELECT DISTINCT word, i AS q FROM sp), " +
      s"me AS (SELECT word, q, l, substr(word, (q - l + 1)::INT, l::INT) AS s3 " +
      s"FROM wq, range(2, ${SubwordMaxLen + 1}) t(l) WHERE l <= q), " +
      "mve AS (SELECT me.word, me.q, me.l FROM me JOIN vc ON vc.sub = me.s3), " +
      "cl AS MATERIALIZED (SELECT word, q, list(l ORDER BY l) AS ls FROM " +
      "(SELECT word, q, 1::BIGINT AS l FROM wq UNION ALL SELECT word, q, l FROM mve) clx GROUP BY 1, 2), " +
      "rv(word, len, i, bests) AS (SELECT word, length(word)::BIGINT, 0::BIGINT, [0::BIGINT] FROM wdd " +
      "UNION ALL SELECT rv.word, rv.len, rv.i + 1, " +
      "rv.bests || [list_min(list_transform(cl.ls, l -> rv.bests[(rv.i + 2 - l)::INT] + 1))] " +
      "FROM rv JOIN cl ON cl.word = rv.word AND cl.q = rv.i + 1 WHERE rv.i < rv.len), " +
      "vt AS MATERIALIZED (SELECT word, bests[(len + 1)::INT] AS n_vit FROM rv WHERE i = len), "

  /** One hard-EM round of the unigram trainer in DuckDB (round 16 —
    * the `ann_ivf_kmeans` unrolled-iteration precedent): candidate
    * (mass, len) pairs encoded as `m·16 + l` BIGINTs, the segmentation
    * DP as the `viterbiCtes` list-carrying recursion over the packed
    * `tok·2⁴⁸ + (2³¹ − mass)·16 + len` keys, the backwalk as a second
    * recursion reading each step's piece length from the chosen key's
    * low 4 bits, and the M-step as one keyed sum over the emitted
    * pieces. `prev` names the round's input vocab CTE.
    */
  private def unigramRoundSql(r: Int, prev: String): String = {
    val T = UnigramTokShift // 2^48
    s"mc$r AS (SELECT me.word, me.q, (v.m * 16 + me.l)::BIGINT AS enc " +
      s"FROM me JOIN $prev v ON v.sub = me.s3), " +
      s"c1$r AS (SELECT wq.word, wq.q, (coalesce(v.m, 0) * 16 + 1)::BIGINT AS enc " +
      s"FROM wq LEFT JOIN $prev v ON v.sub = substr(wq.word, wq.q::INT, 1)), " +
      s"cl$r AS MATERIALIZED (SELECT word, q, list(enc ORDER BY enc) AS cs FROM " +
      s"(SELECT * FROM mc$r UNION ALL SELECT * FROM c1$r) cx GROUP BY 1, 2), " +
      s"rv$r(word, len, i, bests) AS (" +
      s"SELECT word, length(word)::BIGINT, 0::BIGINT, [${UnigramEncBig * 16}::BIGINT] FROM wdd " +
      s"UNION ALL SELECT rv$r.word, rv$r.len, rv$r.i + 1, " +
      s"rv$r.bests || [list_min(list_transform(cl$r.cs, c -> " +
      s"(rv$r.bests[(rv$r.i + 2 - (c % 16))::INT] // $T + 1) * $T " +
      s"+ ((rv$r.bests[(rv$r.i + 2 - (c % 16))::INT] % $T) // 16 - c // 16) * 16 " +
      s"+ c % 16))] " +
      s"FROM rv$r JOIN cl$r ON cl$r.word = rv$r.word AND cl$r.q = rv$r.i + 1 " +
      s"WHERE rv$r.i < rv$r.len), " +
      s"vt$r AS MATERIALIZED (SELECT word, len, bests FROM rv$r WHERE i = len), " +
      s"bw$r(word, j, ps) AS (SELECT word, len, CAST([] AS VARCHAR[]) FROM vt$r " +
      s"UNION ALL SELECT bw$r.word, bw$r.j - (vt$r.bests[(bw$r.j + 1)::INT] % 16), " +
      s"bw$r.ps || [substr(bw$r.word, " +
      s"(bw$r.j - (vt$r.bests[(bw$r.j + 1)::INT] % 16) + 1)::INT, " +
      s"(vt$r.bests[(bw$r.j + 1)::INT] % 16)::INT)] " +
      s"FROM bw$r JOIN vt$r USING (word) WHERE bw$r.j > 0), " +
      s"m$r AS MATERIALIZED (SELECT sub, sum(n)::BIGINT AS m FROM " +
      s"(SELECT wd.n, unnest(b.ps) AS sub FROM " +
      s"(SELECT word, ps FROM bw$r WHERE j = 0) b JOIN wd USING (word)) mx GROUP BY 1), " +
      s"v$r AS MATERIALIZED (SELECT sub, m FROM m$r " +
      s"UNION ALL SELECT c.sub, 0::BIGINT AS m FROM " +
      s"(SELECT DISTINCT substr(word, i::INT, 1) AS sub FROM sp) c " +
      s"WHERE c.sub NOT IN (SELECT sub FROM m$r))"
  }

  private def unigramTrainSql: String =
    "WITH RECURSIVE wd AS MATERIALIZED (SELECT word, count(*) AS n FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) " +
      "WHERE length(word) > 0 GROUP BY 1), " +
      "sp AS MATERIALIZED (SELECT word, n, i FROM " +
      "(SELECT word, n, unnest(range(1, length(word) + 1)) AS i FROM wd) spx), " +
      "occ AS MATERIALIZED (SELECT sub, sum(n)::BIGINT AS m FROM " +
      s"(SELECT n, substr(word, i::INT, l::INT) AS sub FROM sp, range(1, ${SubwordMaxLen + 1}) t(l) " +
      "WHERE i + l - 1 <= length(word)) ox GROUP BY 1), " +
      "v0 AS MATERIALIZED (SELECT sub, m FROM " +
      "(SELECT sub, m, row_number() OVER (ORDER BY m DESC, sub) AS rn FROM occ " +
      s"WHERE length(sub) >= 2) sx WHERE rn <= $UnigramSeedV " +
      "UNION ALL SELECT sub, m FROM occ WHERE length(sub) = 1), " +
      "wq AS MATERIALIZED (SELECT DISTINCT word, i AS q FROM sp), " +
      "me AS MATERIALIZED (SELECT word, q, l, substr(word, (q - l + 1)::INT, l::INT) AS s3 " +
      s"FROM wq, range(2, ${SubwordMaxLen + 1}) t(l) WHERE l <= q), " +
      "wdd AS (SELECT word FROM wd), " +
      (1 to UnigramRounds).map(r => unigramRoundSql(r, s"v${r - 1}")).mkString("", ", ", " ") +
      s"SELECT rn::INT AS rn, sub, mass FROM (SELECT sub, m AS mass, " +
      "row_number() OVER (ORDER BY m DESC, sub) AS rn " +
      s"FROM v$UnigramRounds WHERE length(sub) >= 2) fx WHERE rn <= $SubwordTopV"

  /** One weighted-PageRank round in DuckDB — the graph_pagerank unroll
    * with edge weights (sum of w·r/W over in-edges).
    */
  private def textrankRoundSql(i: Int): String =
    s"c$i AS (SELECT eg.dst AS node, sum(r${i - 1}.r * eg.w / deg.wd) AS c " +
      s"FROM eg JOIN r${i - 1} ON eg.src = r${i - 1}.node " +
      "JOIN deg ON eg.src = deg.src GROUP BY 1), " +
      s"r$i AS (SELECT v.node, 0.15e0 / nn.n + 0.85e0 * coalesce(c$i.c, 0e0) AS r " +
      s"FROM v CROSS JOIN nn LEFT JOIN c$i ON v.node = c$i.node)"

  val rawOracles: Map[String, String] = Map(
    "text_textrank" ->
      // identical content-rank positions (row_number over the filtered
      // stream), banded self-join co-occurrence, 3 unrolled weighted
      // rounds (the graph_pagerank oracle pattern)
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
        "tok AS (SELECT doc_id, p.tok AS tok, p.pos AS pos FROM " +
        "(SELECT doc_id, unnest(list_transform(range(1, len(a) + 1), " +
        "i -> {'tok': a[i], 'pos': i})) AS p FROM t)), " +
        "ct AS (SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS r " +
        s"FROM tok WHERE tok NOT IN ${inList(ContentStopwords)}), " +
        "co AS (SELECT t1.tok AS w1, t2.tok AS w2, count(*) AS w " +
        "FROM ct t1 JOIN ct t2 ON t1.doc_id = t2.doc_id " +
        "AND t2.r - t1.r BETWEEN 1 AND 2 WHERE t1.tok <> t2.tok GROUP BY 1, 2), " +
        "e AS (SELECT w1 AS src, w2 AS dst, w FROM co UNION ALL SELECT w2, w1, w FROM co), " +
        "eg AS (SELECT src, dst, sum(w)::BIGINT AS w FROM e GROUP BY 1, 2), " +
        "deg AS (SELECT src, sum(w)::BIGINT AS wd FROM eg GROUP BY 1), " +
        "v AS (SELECT DISTINCT src AS node FROM eg), " +
        "nn AS (SELECT count(*)::DOUBLE AS n FROM v), " +
        "r0 AS (SELECT node, 1e0 / nn.n AS r FROM v CROSS JOIN nn), " +
        (1 to 3).map(textrankRoundSql).mkString(", ") +
        " SELECT node AS word, rnd(r, 6) AS rank FROM r3"),

    "corpus_token_budget" ->
      // same quality order (stopword fraction DESC, doc_id), same
      // running-token prefix (the oracle's one global window IS the
      // semantics; the Spark side computes it as the two-pass
      // distributed prefix sum)
      ("WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS a FROM documents), " +
        "sc AS (SELECT doc_id, lang, len(a)::BIGINT AS n_tok, " +
        s"len(list_filter(a, x -> x IN ${inList(ContentStopwords)}))::BIGINT AS n_stop FROM d), " +
        "o AS (SELECT doc_id, lang, n_tok, n_stop::DOUBLE / n_tok AS score " +
        "FROM sc WHERE n_tok > 0), " +
        "b AS (SELECT floor(0.25e0 * sum(n_tok))::BIGINT AS budget FROM o), " +
        "c AS (SELECT doc_id, lang, n_tok, " +
        "sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum FROM o), " +
        "k AS (SELECT lang, count(*) AS n_docs_kept, sum(n_tok)::BIGINT AS n_tokens_kept " +
        "FROM c CROSS JOIN b WHERE cum <= budget GROUP BY 1), " +
        "tt AS (SELECT lang, count(*) AS n_docs_total, sum(n_tok)::BIGINT AS n_tokens_total " +
        "FROM o GROUP BY 1) " +
        "SELECT tt.lang, coalesce(k.n_docs_kept, 0) AS n_docs_kept, " +
        "coalesce(k.n_tokens_kept, 0) AS n_tokens_kept, " +
        "tt.n_docs_total, tt.n_tokens_total, " +
        "rnd(coalesce(k.n_tokens_kept, 0)::DOUBLE / tt.n_tokens_total, 6) AS kept_token_frac " +
        "FROM tt LEFT JOIN k ON tt.lang = k.lang"),

    "text_rake" ->
      // identical island construction (pos − content-rank), exact-integer
      // word scores (sum of BIGINT lens / count), rounded-score ranking
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
        "tok AS (SELECT doc_id, p.tok AS tok, p.pos AS pos FROM " +
        "(SELECT doc_id, unnest(list_transform(range(1, len(a) + 1), " +
        "i -> {'tok': a[i], 'pos': i})) AS p FROM t)), " +
        "ct AS (SELECT doc_id, tok, pos, " +
        "pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl " +
        s"FROM tok WHERE tok NOT IN ${inList(ContentStopwords)}), " +
        "ph AS (SELECT doc_id, isl, string_agg(tok, ' ' ORDER BY pos) AS phrase, " +
        "count(*) AS len FROM ct GROUP BY 1, 2), " +
        "wl AS (SELECT ct.doc_id, ct.isl, ct.tok, len FROM ct " +
        "JOIN ph ON ct.doc_id = ph.doc_id AND ct.isl = ph.isl), " +
        "ws AS (SELECT tok, sum(len)::DOUBLE / count(*) AS wscore FROM wl GROUP BY 1), " +
        "inst AS (SELECT wl.doc_id, wl.isl, sum(wscore) AS score_raw FROM wl " +
        "JOIN ws ON wl.tok = ws.tok GROUP BY 1, 2), " +
        "outp AS (SELECT phrase, count(*) AS n_occurrences, " +
        "rnd(max(score_raw), 6) AS score FROM inst " +
        "JOIN ph ON inst.doc_id = ph.doc_id AND inst.isl = ph.isl GROUP BY 1) " +
        "SELECT phrase, n_occurrences, score FROM outp " +
        "ORDER BY score DESC, phrase LIMIT 20"),

    "text_readability" ->
      // identical regexes (RE2 ∩ Java dialect); len() cast to INT to
      // match Spark's size(); the score is one shared float expression
      ("WITH c AS (SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '[a-z]+'))::INT AS words, " +
        "greatest(1, len(regexp_extract_all(text, '[.!?]+')))::INT AS sentences, " +
        "len(regexp_extract_all(lower(text), '[aeiouy]+'))::INT AS syllables " +
        "FROM documents) " +
        "SELECT doc_id, words, sentences, syllables, " +
        "rnd(206.835e0 - 1.015e0 * (words / sentences) - " +
        "84.6e0 * (syllables / greatest(1, words)), 4) AS flesch FROM c"),

    "quality_ks_drift" ->
      // same integer cumulative counts; HUGEINT window sums cast back
      ("WITH a AS (SELECT n_chars AS x, count(*) AS c1x FROM documents " +
        "WHERE doc_id % 2 = 0 GROUP BY 1), " +
        "b AS (SELECT n_chars AS x, count(*) AS c2x FROM documents " +
        "WHERE doc_id % 2 = 1 GROUP BY 1), " +
        "m AS (SELECT coalesce(a.x, b.x) AS x, coalesce(c1x, 0) AS c1x, " +
        "coalesce(c2x, 0) AS c2x FROM a FULL OUTER JOIN b ON a.x = b.x), " +
        "cum AS (SELECT x, sum(c1x) OVER w::BIGINT AS c1, sum(c2x) OVER w::BIGINT AS c2 " +
        "FROM m WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "tot AS (SELECT max(c1) AS n1, max(c2) AS n2 FROM cum) " +
        "SELECT n1, n2, rnd(max(abs(c1 * n2 - c2 * n1)) / (n1 * n2)::DOUBLE, 6) AS ks_stat " +
        "FROM cum, tot GROUP BY 1, 2"),

    "quality_psi_drift" ->
      // fixed-width bins, +0.5 Laplace per bin; identical double
      // expressions over identical integer counts in both engines
      ("WITH a AS (SELECT least(n_chars::BIGINT // 200, 9) AS b, count(*) AS c1 " +
        "FROM documents WHERE doc_id % 2 = 0 GROUP BY 1), " +
        "bb AS (SELECT least(n_chars::BIGINT // 200, 9) AS b, count(*) AS c2 " +
        "FROM documents WHERE doc_id % 2 = 1 GROUP BY 1), " +
        "m AS (SELECT coalesce(a.b, bb.b) AS b, coalesce(c1, 0)::BIGINT AS c1, " +
        "coalesce(c2, 0)::BIGINT AS c2 FROM a FULL OUTER JOIN bb ON a.b = bb.b), " +
        "tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM m), " +
        "terms AS (SELECT n1, n2, " +
        "((c1 + 0.5e0) / (n1 + 5e0)) - ((c2 + 0.5e0) / (n2 + 5e0)) AS dpq, " +
        "ln(((c1 + 0.5e0) / (n1 + 5e0)) / ((c2 + 0.5e0) / (n2 + 5e0))) AS lr " +
        "FROM m, tot) " +
        "SELECT max(n1) AS n1, max(n2) AS n2, rnd(sum(dpq * lr), 6) AS psi FROM terms"),

    "corpus_apportion" ->
      // identical integer base/remainder split; HUGEINT sums cast back
      (s"WITH b AS (SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS tok_n " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT sum(tok_n)::BIGINT AS total FROM b), " +
        s"q AS (SELECT source, tok_n, ($ApportionBudget * tok_n) // total AS base, " +
        s"($ApportionBudget * tok_n) % total AS rem FROM b, t), " +
        s"l AS (SELECT $ApportionBudget - sum(base)::BIGINT AS leftover FROM q), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q) " +
        "SELECT source, tok_n, " +
        "(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS alloc FROM r, l"),

    "text_bm25" ->
      // same fixed-order per-term assembly; ranking on the unrounded
      // score; shared term/parameter constants interpolated
      ("WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
        "len(string_split(text, ' '))::BIGINT AS dl FROM documents), " +
        "st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base), " +
        "tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM " +
        "(SELECT doc_id, dl, unnest(toks) AS tok FROM base) " +
        s"WHERE tok IN ${inList(Bm25Terms)} GROUP BY 1, 2, 3), " +
        "dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1), " +
        "c AS (SELECT doc_id, dl, tf.tok, " +
        "ln(1e0 + (n_docs - df + 0.5e0) / (df + 0.5e0)) * " +
        s"(tf * ($Bm25K1 + 1e0)) / " +
        s"(tf + $Bm25K1 * (1e0 - $Bm25B + $Bm25B * dl / avgdl)) AS c " +
        "FROM tf JOIN dft ON tf.tok = dft.tok, st), " +
        "sc AS (SELECT doc_id, dl, " +
        Bm25Terms.map(t => s"sum(CASE WHEN tok = '$t' THEN c END) AS c_$t")
          .mkString(", ") + " FROM c GROUP BY 1, 2), " +
        "fin AS (SELECT doc_id, dl, " +
        Bm25Terms.map(t => s"coalesce(c_$t, 0e0)").mkString(" + ") +
        " AS score_raw FROM sc) " +
        "SELECT doc_id, dl, rnd(score_raw, 6) AS bm25 FROM fin " +
        "ORDER BY score_raw DESC, doc_id LIMIT 20"),

    "text_collocations" ->
      // identical bigram space (adjacent positions), first/second-slot
      // marginals, exact-integer ratio into one ln
      ("WITH t AS (SELECT string_split(text, ' ') AS a FROM documents " +
        "WHERE len(string_split(text, ' ')) >= 2), " +
        "pz AS (SELECT unnest(list_transform(range(1, len(a)), " +
        "i -> {'w1': a[i], 'w2': a[i + 1]})) AS p FROM t), " +
        "pairs AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM pz), " +
        "tot AS (SELECT count(*) AS tt FROM pairs), " +
        "m1 AS (SELECT w1, count(*) AS n_a FROM pairs GROUP BY 1), " +
        "m2 AS (SELECT w2, count(*) AS n_b FROM pairs GROUP BY 1), " +
        "pc AS (SELECT w1, w2, count(*) AS n_ab FROM pairs GROUP BY 1, 2), " +
        "j AS (SELECT pc.w1, pc.w2, n_ab, " +
        "ln(n_ab * tt / (n_a * n_b)::DOUBLE) AS pmi_raw " +
        "FROM pc JOIN m1 ON pc.w1 = m1.w1 JOIN m2 ON pc.w2 = m2.w2, tot " +
        "WHERE n_ab >= 5) " +
        "SELECT w1, w2, n_ab, rnd(pmi_raw, 6) AS pmi FROM j " +
        "ORDER BY pmi_raw DESC, w1, w2 LIMIT 20"),

    "text_hapax" ->
      ("WITH tc AS (SELECT source, tok, count(*) AS n FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "GROUP BY 1, 2) " +
        "SELECT source, sum(n)::BIGINT AS n_tokens, count(*) AS vocab, " +
        "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax, " +
        "rnd(count(*) / sum(n)::DOUBLE, 6) AS ttr " +
        "FROM tc GROUP BY 1"),

    "tokenizer_bpe" -> bpeSql,
    "tokenizer_encode" -> bpeEncodeSql,
    "tokenizer_wordpiece" -> (subwordCtes +
      "dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) " +
      "SELECT doc_id, count(*) AS n_words, sum(n_tok)::BIGINT AS n_tokens, " +
      "sum(length(word))::BIGINT AS n_chars, " +
      "rnd(sum(n_tok) / sum(length(word)), 6) AS tok_per_char " +
      "FROM dw JOIN wt USING (word) WHERE length(word) > 0 GROUP BY 1"),
    "tokenizer_unigram_train" -> unigramTrainSql,

    "tokenizer_viterbi" -> (subwordCtes + viterbiCtes +
      "dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) " +
      "SELECT doc_id, count(*) AS n_words, sum(n_vit)::BIGINT AS n_tokens_opt, " +
      "sum(n_tok)::BIGINT AS n_tokens_greedy, " +
      "(sum(n_tok) - sum(n_vit))::BIGINT AS greedy_excess " +
      "FROM dw JOIN wt USING (word) JOIN vt USING (word) " +
      "WHERE length(word) > 0 GROUP BY 1"),
    "tokenizer_fertility" -> (bpeChainSql + ", " +
      "wt AS (SELECT word, len(syms)::INT AS n_tok FROM s4), " +
      "dw AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) " +
      "SELECT source, count(*) AS n_words, sum(n_tok)::BIGINT AS n_tokens, " +
      "sum(CASE WHEN n_tok = 1 THEN 1 ELSE 0 END)::BIGINT AS whole_words, " +
      "rnd(sum(n_tok) / count(*)::DOUBLE, 6) AS fertility, " +
      "rnd(sum(CASE WHEN n_tok = 1 THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6) AS whole_word_rate " +
      "FROM dw JOIN wt USING (word) WHERE length(word) > 0 GROUP BY 1"),
    "quality_gopher" ->
      // keep is derived from the ROUNDED mean in both engines so the
      // band test cannot straddle a representation difference
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "s AS (SELECT doc_id, len(w)::INT AS word_count, " +
        "rnd(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), 6) AS mean_word_len, " +
        s"len(list_filter(w, x -> x IN ${inList(GopherStopwords)}))::INT AS stopword_hits FROM t) " +
        "SELECT *, (word_count >= 50 AND mean_word_len BETWEEN 3e0 AND 10e0 " +
        "AND stopword_hits >= 2) AS keep FROM s"),

    "text_quality" ->
      ("SELECT doc_id, count(*) AS n_tok, count(DISTINCT tok) AS n_types, " +
        "rnd(avg(length(tok)), 6) AS avg_len, " +
        s"rnd(avg(CASE WHEN tok IN ${inList(Stopwords)} THEN 1e0 ELSE 0e0 END), 6) AS stop_ratio " +
        "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1"),

    "text_entropy" ->
      ("SELECT doc_id, sum(n)::BIGINT AS n_tok, count(*) AS n_types, " +
        "rnd(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy, " +
        "rnd(CASE WHEN count(*) = 1 THEN 0e0 " +
        "ELSE (ln(sum(n)) - sum(n * ln(n)) / sum(n)) / ln(count(*)) END, 6) AS evenness " +
        "FROM (SELECT doc_id, tok, count(*) AS n FROM (" +
        "SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "GROUP BY 1, 2) GROUP BY 1"),

    "token_count" ->
      ("SELECT doc_id, len(string_split(text, ' '))::INT AS n_ws, " +
        "len(regexp_extract_all(text, '[a-z0-9]+'))::INT AS n_word, " +
        "length(text)::INT AS n_chars FROM documents"),

    "text_normalize" ->
      ("SELECT doc_id, md5(norm) AS norm_hash, length(norm)::INT AS norm_len FROM (" +
        "SELECT doc_id, trim(regexp_replace(" +
        "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS norm " +
        "FROM documents)"),

    "sample_hash" ->
      ("SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 1) AS bucket, " +
        "length(text)::INT AS n_chars FROM documents " +
        "WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0', '1', '2', '3')"),

    "sample_importance" ->
      // same two-hex-digit uniform via the instr digit trick; identical
      // double p so the floor threshold matches bit-for-bit
      ("WITH b AS (SELECT doc_id, n_chars, " +
        "least(1e0, n_chars / 2000e0) AS p, " +
        "(instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), 2, 1)) - 1) AS u " +
        "FROM documents) " +
        "SELECT doc_id, n_chars, rnd(p, 6) AS p FROM b WHERE u < floor(p * 256)"),

    "sample_stratified" ->
      ("SELECT vec_id, label, bucket FROM (" +
        "SELECT vec_id, label, (instr('0123456789abcdef', " +
        "substr(md5(vec_id::VARCHAR), 1, 1)) - 1)::INT AS bucket FROM embeddings) " +
        "WHERE bucket < 2 + label % 3"),

    "corpus_mix" ->
      ("WITH b AS (SELECT doc_id, (instr('0123456789abcdef', " +
        "substr(md5(doc_id::VARCHAR), 1, 1)) - 1)::INT AS bucket FROM documents) " +
        "SELECT 'head' AS source, doc_id FROM b WHERE doc_id < 500 AND bucket < 12 " +
        "UNION ALL SELECT 'tail', doc_id FROM b WHERE doc_id >= 500 AND bucket < 4"),

    "corpus_mix_temperature" ->
      // same T=2 sqrt re-weight: q = sqrt(n)/sum(sqrt(n)); sqrt is
      // IEEE-exact-rounded in both engines (unlike general pow)
      ("WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), " +
        "z AS (SELECT sum(n_docs)::BIGINT AS n_tot, sum(sqrt(n_docs::DOUBLE)) AS z FROM c) " +
        "SELECT lang, n_docs, rnd(n_docs::DOUBLE / n_tot, 6) AS p, " +
        "rnd(sqrt(n_docs::DOUBLE) / z, 6) AS q, " +
        "rnd(sqrt(n_docs::DOUBLE) * n_tot / (z * n_docs), 6) AS boost " +
        "FROM c CROSS JOIN z"),

    "corpus_zipf" ->
      ("WITH c AS (SELECT tok, count(*) AS n FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1), " +
        "rk AS (SELECT ln(n::DOUBLE) AS y, ln(row_number() OVER (" +
        "ORDER BY n DESC, tok)::DOUBLE) AS x FROM c), " +
        "s AS (SELECT count(*)::DOUBLE AS k, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * y) AS sxy, sum(x * x) AS sxx FROM rk) " +
        "SELECT k::BIGINT AS n_vocab, " +
        "rnd((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope, " +
        "rnd((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6) " +
        "AS zipf_intercept FROM s"),

    "lang_id" ->
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "scores AS (SELECT doc_id, " +
        Markers.map { case (lang, ms) =>
          s"sum(CASE WHEN tok IN ${inList(ms)} THEN 1 ELSE 0 END)::BIGINT AS s_$lang"
        }.mkString(", ") +
        " FROM toks GROUP BY 1), " +
        "long AS (" +
        Markers.map { case (lang, _) =>
          s"SELECT doc_id, s_$lang AS score, '$lang' AS lang FROM scores"
        }.mkString(" UNION ALL ") +
        "), rk AS (SELECT doc_id, score, lang, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM long) " +
        "SELECT doc_id, lang AS predicted_lang, score FROM rk WHERE rn = 1"),

    "quality_perplexity" ->
      // identical smoothing arithmetic; ln (DuckDB `log` is log10);
      // integer counts divide to double in both engines
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(a)), " +
        "i -> struct_pack(w1 := a[i::INT], " +
        "bg := a[i::INT] || ' ' || a[(i + 1)::INT]))) AS x " +
        "FROM t WHERE len(a) >= 2), " +
        "bgf AS (SELECT doc_id, x.w1 AS w1, x.bg AS bg FROM bg), " +
        "uni AS (SELECT w1, count(*) AS u FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS w1 FROM documents) GROUP BY 1), " +
        "big AS (SELECT bg, count(*) AS b FROM bgf GROUP BY 1), " +
        "v AS (SELECT count(*) AS v FROM uni) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "rnd(-avg(ln((big.b + 1) / (uni.u + v.v))), 6) AS nll " +
        "FROM bgf JOIN big USING (bg) JOIN uni USING (w1) CROSS JOIN v GROUP BY 1"),

    "quality_classifier" ->
      // identical hash grid (first two md5 hex chars → 0..255), identical
      // logit arithmetic; the dyadic weights make mw exact in both engines
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "w AS (SELECT doc_id, " +
        "(((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))::DOUBLE - 127.5) / 256.0 AS w " +
        "FROM toks), " +
        "m AS (SELECT doc_id, count(*) AS n_tok, avg(w) AS mw FROM w GROUP BY 1) " +
        "SELECT doc_id, n_tok, " +
        "rnd(1.0 / (1.0 + exp(-(8.0 * mw + 0.2))), 6) AS score, " +
        "(1.0 / (1.0 + exp(-(8.0 * mw + 0.2))) >= 0.5)::INT AS kept FROM m"),
  )
}
