package graft

import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis

class TextAnalysisSpec extends SparkSpecBase {

  test("corpus_zipf recovers the exponent of an exact power-law corpus") {
    // build documents where token w_r appears round(1000 / r) times:
    // ln(count) = ln(1000) - 1·ln(rank) ⇒ slope ≈ -1, intercept ≈ ln(1000)
    val words = (1 to 50).flatMap(r => Seq.fill(math.round(1000.0 / r).toInt)(s"w$r"))
    import spark.implicits._
    val docs = words.grouped(100).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val out = TextAnalysis.corpusZipfDocs(docs).collect()(0)
    assert(out.getAs[Long]("n_vocab") === 50L)
    val slope = out.getAs[Double]("zipf_slope")
    val icept = out.getAs[Double]("zipf_intercept")
    // rounding 1000/r keeps the fit near-exact but not perfect
    assert(math.abs(slope - (-1.0)) < 0.01, s"slope $slope")
    assert(math.abs(icept - math.log(1000.0)) < 0.03, s"intercept $icept")
  }

  test("corpus_zipf on the harness corpus: negative slope, full vocab") {
    val out = TextAnalysis.corpusZipf(spark, sfDir).collect()(0)
    assert(out.getAs[Long]("n_vocab") > 10)
    assert(out.getAs[Double]("zipf_slope") < 0.0)
  }

  test("corpusMixTemperature: T=2 re-weight compresses shares toward uniform") {
    import spark.implicits._
    // 90/9/1 split: natural shares 0.9/0.09/0.01; sqrt re-weight gives
    // q ∝ 9.487/3/1 — still ordered, but the tail's boost is largest
    val docs = ((1 to 90).map(i => (i.toLong, s"d$i", "en")) ++
      (91 to 99).map(i => (i.toLong, s"d$i", "fr")) ++
      Seq((100L, "d100", "sw")))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.corpusMixTemperatureDocs(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    val z = math.sqrt(90.0) + math.sqrt(9.0) + 1.0
    assert(out("en")._1 === 90L)
    assert(math.abs(out("en")._3 - math.sqrt(90.0) / z) < 1e-6)
    assert(math.abs(out("sw")._3 - 1.0 / z) < 1e-6)
    // q sums to 1, order preserved, and boost is monotone DECREASING in n
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-5)
    assert(out("en")._3 > out("fr")._3 && out("fr")._3 > out("sw")._3)
    assert(out("sw")._4 > out("fr")._4 && out("fr")._4 > out("en")._4)
    // high-resource languages are DOWN-sampled (boost < 1), the
    // low-resource tail UP-sampled (boost > 1) — the point of the op
    assert(out("en")._4 < 1.0 && out("sw")._4 > 1.0)
  }

  test("quality_perplexity computes the hand-checked add-one bigram NLL") {
    import spark.implicits._
    // corpus: "a b a b" + "a b". Unigrams a:3, b:3; V=2.
    // Bigram counts: "a b": 3, "b a": 1.
    //   P(b|a) = (3+1)/(3+2) = 0.8,  P(a|b) = (1+1)/(3+2) = 0.4
    // doc1 nll = −(ln .8 + ln .4 + ln .8)/3 ; doc2 nll = −ln .8
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.perplexityProxyDocs(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got(1L)._1 === 3L)
    assert(got(1L)._2 === r6(-(math.log(0.8) + math.log(0.4) + math.log(0.8)) / 3))
    assert(got(2L) === ((1L, r6(-math.log(0.8)))))
    // the doc containing the rare "b a" bigram scores HIGHER (less
    // predictable) — the filter's discriminating direction
    assert(got(1L)._2 > got(2L)._2)
  }

  test("quality_classifier: score bounds, kept ⇔ threshold, exact partition invariance") {
    val docs = Tables.documents(spark, sfDir)
    val rows = TextAnalysis.qualityClassifierDocs(docs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val score = r.getDouble(2); val kept = r.getInt(3)
      assert(score > 0.0 && score < 1.0, s"score out of range: $score")
      // kept derives from the raw score; skip the rounding boundary band
      if (math.abs(score - 0.5) > 1e-5)
        assert(kept === (if (score >= 0.5) 1 else 0), s"kept/score mismatch: $r")
    }
    // the dyadic-weight claim: the mean is EXACT at any partitioning, so
    // the whole output (post-round) must be bit-identical, not just close
    assert(collectSet(TextAnalysis.qualityClassifierDocs(docs.repartition(7))) ===
      collectSet(TextAnalysis.qualityClassifierDocs(docs)))
  }

  test("bpeMerges: hand-computed merges, greedy run semantics, exhaustion stops cleanly") {
    import spark.implicits._
    // words: aa×3, ab×2 → round 1 merges ('a a', 3), round 2 ('a b', 2),
    // then no pairs remain — rounds 3-4 must emit NOTHING (no null rule)
    val docs = Seq((0L, "aa ab aa"), (1L, "ab aa")).toDF("doc_id", "text")
    val rules = TextAnalysis.bpeMerges(docs, rounds = 4).collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).sortBy(_._1)
    assert(rules.toSeq === Seq((1, "a a", 3L), (2, "a b", 2L)))
    // greedy left-to-right on runs: "aaaa" (freq 2) has 3 adjacent (a a)
    // occurrences per word → cnt 6; the merge yields (aa)(aa), so round 2
    // sees pair ('aa aa') once per word → cnt 2
    val runs = Seq((0L, "aaaa aaaa")).toDF("doc_id", "text")
    val r2 = TextAnalysis.bpeMerges(runs, rounds = 2).collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).sortBy(_._1)
    assert(r2.toSeq === Seq((1, "a a", 6L), (2, "aa aa", 2L)))
  }

  test("bpeShared memo: rules and encode ≡ fresh training; release-and-rebuild works") {
    // the round-17 memo must be VALUE-identical to a fresh training on
    // the same dir (deterministic corpus + tie-break), for both the
    // rule table (tokenizer_bpe's output) and the merged word table
    // (tokenizer_encode/fertility's input)
    val docs = graft.Tables.documents(spark, sfDir)
    val freshRules = collectSet(TextAnalysis.bpeMerges(docs))
    val memoRules = collectSet(TextAnalysis.bpeShared(spark, sfDir)._1)
    assert(memoRules === freshRules)
    val freshEnc = collectSet(TextAnalysis.bpeEncodeDocs(docs))
    val memoEnc = collectSet(TextAnalysis.bpeEncodeDocs(docs,
      seqs0 = Some(TextAnalysis.bpeShared(spark, sfDir)._2)))
    assert(memoEnc === freshEnc)
    // release-and-rebuild: the Bench build line's lifecycle
    TextAnalysis.releaseBpeShared()
    assert(collectSet(TextAnalysis.bpeShared(spark, sfDir)._1) === freshRules)
    TextAnalysis.releaseBpeShared()
  }

  test("qualityGopher: each rule drops exactly the doc that violates it") {
    import spark.implicits._
    val filler = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (0L, s"the $filler with"),          // 62 words, 2 stopwords → keep
      (1L, "the short with doc"),         // word_count 4 < 50 → drop
      (2L, s"the $filler"),               // 1 stopword < 2 → drop
      (3L, s"the $filler with " +         // mean word length < 3 → drop
        (1 to 200).map(_ => "a").mkString(" "))).toDF("doc_id", "text")
    val m = TextAnalysis.qualityGopherDocs(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(m === Map(0L -> true, 1L -> false, 2L -> false, 3L -> false))
  }

  test("tokenizer_fertility: identities vs tokenizer_encode, bounds hold") {
    val fert = SparkEntry.queries("tokenizer_fertility")(spark, sfDir).collect()
    assert(fert.nonEmpty)
    val enc = SparkEntry.queries("tokenizer_encode")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_words"),
        org.apache.spark.sql.functions.sum("n_tokens")).head()
    // per-source totals re-sum to the per-doc totals (same merge table)
    assert(fert.map(_.getLong(1)).sum === enc.getLong(0))
    assert(fert.map(_.getLong(2)).sum === enc.getLong(1))
    fert.foreach { r =>
      val (nw, nt, ww) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nt >= nw, "a word is at least one token")
      assert(ww <= nw)
      assert(r.getDouble(4) >= 1.0 - 1e-9)
      val rate = r.getDouble(5)
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("wordpiece/viterbi: greedy loses to the DP on a planted vocab hole; invariants hold corpus-wide") {
    import spark.implicits._
    // the classic greedy-suboptimal case: vocab {abcd, abc, def} (+ all
    // singles) on "abcdef" — greedy eats abcd then e, f (3 tokens);
    // the DP finds abc + def (2)
    val docs = Seq((1L, "abcdef")).toDF("doc_id", "text")
    val vocab = (Seq("abcd", "abc", "def") ++ "abcdef".map(_.toString)).toDF("sub")
    val wt = TextAnalysis.wordTokenCounts(docs, Some(vocab)).head()
    assert(wt.getLong(1) === 3L, s"greedy must take abcd+e+f: $wt")
    assert(wt.getLong(2) === 2L, s"DP must find abc+def: $wt")
    // corpus-wide invariants under the trained vocab: optimal ≤ greedy,
    // both within [ceil(len/4), len]
    val all = TextAnalysis.wordTokenCounts(Tables.documents(spark, sfDir)).collect()
    assert(all.nonEmpty)
    all.foreach { r =>
      val (w, wp, vit) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(vit <= wp, s"DP beat by greedy on $w")
      assert(vit >= (w.length + 3) / 4 && wp <= w.length, s"bounds on $w")
    }
    // the declared rows agree with the per-word table's roll-up
    import org.apache.spark.sql.functions.{sum => fsum}
    val enc = TextAnalysis.wordpieceEncode(spark, sfDir)
      .agg(fsum("n_tokens")).head().getLong(0)
    val vitRow = TextAnalysis.viterbiEncode(spark, sfDir)
      .agg(fsum("n_tokens_greedy"), fsum("n_tokens_opt")).head()
    assert(vitRow.getLong(0) === enc, "greedy totals must match across the two rows")
    assert(vitRow.getLong(1) <= vitRow.getLong(0))
  }

  test("textrank: rank mass ≈ 1, high-co-occurrence words outrank isolated ones") {
    import spark.implicits._
    // k1/k2 co-occur densely across docs; u1/u2 appear once in isolation
    val docs = Seq(
      (1L, "k1 k2 k1 k2 k1 k2 k3"),
      (2L, "k2 k1 k3 k1 k2"),
      (3L, "u1 u2")).toDF("doc_id", "text")
    val out = TextAnalysis.textrankDocs(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // synchronous PR on a graph where every node has out-edges conserves
    // mass: Σr = 1 each round (up to the 6-dp rounding of the read-out)
    assert(math.abs(out.values.sum - 1.0) < 1e-4, s"mass ${out.values.sum}")
    assert(out("k1") > out("u1") && out("k2") > out("u2"),
      s"centrality ordering violated: $out")
    // stopwords never enter the graph
    val withStop = TextAnalysis.textrankDocs(
      Seq((1L, "the a the k1 k2 the")).toDF("doc_id", "text"))
      .collect().map(_.getString(0)).toSet
    assert(withStop === Set("k1", "k2"))
  }

  test("tokenBudget: two-pass prefix selection ≡ driver-side greedy on the harness corpus") {
    val out = TextAnalysis.tokenBudget(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // brute-force the greedy selection
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map { r =>
        val toks = r.getString(2).split(" ", -1)
        (r.getLong(0), r.getString(1), toks.length.toLong,
          toks.count(t => t == "a" || t == "the").toLong)
      }
    val ordered = docs.sortBy { case (id, _, nTok, nStop) =>
      (-(nStop.toDouble / nTok), id)
    }
    val budget = (0.25 * docs.map(_._3).sum).toLong
    var cum = 0L
    val kept = ordered.takeWhile { case (_, _, nTok, _) =>
      cum += nTok; cum <= budget
    }
    val expKept = kept.groupBy(_._2).view
      .mapValues(g => (g.length.toLong, g.map(_._3).sum)).toMap
    val expTot = docs.groupBy(_._2).view
      .mapValues(g => (g.length.toLong, g.map(_._3).sum)).toMap
    assert(out.keySet === expTot.keySet)
    out.foreach { case (lang, (dk, tk, dt, tt)) =>
      val (edk, etk) = expKept.getOrElse(lang, (0L, 0L))
      val (edt, ett) = expTot(lang)
      assert((dk, tk, dt, tt) === ((edk, etk, edt, ett)), s"lang $lang")
    }
    // the budget actually bites: strictly fewer tokens kept than total
    assert(out.values.map(_._2).sum < out.values.map(_._4).sum)
    assert(out.values.map(_._2).sum > 0)
  }

  test("tokenizer_unigram_train: EM reselects the vocab, masses account every char, and the output feeds the Viterbi segmenter") {
    val docs = Tables.documents(spark, sfDir)
    val trained = TextAnalysis.unigramTrainDocs(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(trained.nonEmpty && trained.length <= 64)
    // structural: ranks are 1..k, masses positive and descending in rank
    assert(trained.map(_._1).toSeq === (1 to trained.length))
    assert(trained.forall(_._3 > 0), "a trained piece was never chosen — should have pruned")
    assert(trained.sortBy(_._1).map(_._3).sliding(2).forall(p => p.head >= p.last))
    assert(trained.forall(_._2.length >= 2), "output is the multi-char vocab (alphabet is implicit)")
    // the EM did something: the trained top-k is NOT the raw-frequency
    // top-k of the same substring universe (overlapping candidates
    // compete for mass once segmentation is exclusive)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).groupBy("word").agg(count(lit(1)).as("n"))
    val rawTop = words.select(col("n"), explode(expr(
        "flatten(transform(sequence(1, length(word)), i -> " +
          "transform(sequence(2, 4), l -> " +
          "CASE WHEN i + l - 1 <= length(word) THEN substring(word, i, l) END)))")).as("sub"))
      .filter(col("sub").isNotNull).groupBy("sub").agg(sum(col("n")).as("m"))
      .orderBy(col("m").desc, col("sub")).limit(trained.length)
      .select("sub").collect().map(_.getString(0)).toSet
    assert(trained.map(_._2).toSet !== rawTop,
      "training must reselect/reorder vs the raw-frequency seed")
    // hard-EM mass conservation: each word's segmentation tiles the word,
    // so Σ mass over ALL emitted pieces (vocab + chars) = Σ n·|word| is
    // NOT required of the top-64 alone — but every trained mass must be
    // at most the total corpus char occurrences (sanity bound)
    val totalChars = words.select(sum(expr("n * length(word)"))).head().getLong(0)
    assert(trained.forall(_._3 <= totalChars))
    // loop closure: the trained vocab drops into the inference segmenter
    // (wordTokenCounts vocabOverride) and every word still segments
    import spark.implicits._
    val vocabDf = trained.map(_._2).toSeq.toDF("sub")
    val wt = TextAnalysis.wordTokenCounts(docs, Some(vocabDf)).collect()
    assert(wt.nonEmpty)
    assert(wt.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0),
      "greedy and optimal token counts positive under the trained vocab")
  }
}
