package graft

import org.apache.spark.sql.functions._

import graft.llm.Curation

/** Curation-operator invariants: decontamination catches exactly the
  * planted overlaps, packing partitions the stream consistently, and
  * chunking covers every character of every doc.
  */
class CurationSpec extends SparkSpecBase {

  test("decontaminate flags exactly the train docs sharing a 3-gram with the eval slice") {
    import spark.implicits._
    // doc 10 is eval (10 % 10 == 0). doc 1 shares the 'c d e' window,
    // doc 2 shares nothing, doc 3 repeats TWO distinct eval grams.
    val docs = Seq(
      (10L, "c d e f g"), // eval: grams {c d e, d e f, e f g}
      (1L, "a b c d e"), //   hits on 'c d e'
      (2L, "x y z w q"), //   clean
      (3L, "c d e f g h"), // hits 'c d e', 'd e f', 'e f g'
      (4L, "a b") //          under 3 tokens: guarded out entirely
    ).toDF("doc_id", "text")
    val got = Curation.decontaminateDocs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 3L -> 3L))
  }

  test("corpus_line_dedup removes cross-doc boilerplate segments and reassembles in order") {
    import spark.implicits._
    // segment width 2, boilerplate threshold 3 distinct docs. The
    // segment "cookie banner" occupies a DIFFERENT position in each doc
    // but is byte-identical, so it crosses the threshold; "unique
    // words" pairs appear in one doc only and survive.
    val docs = Seq(
      (1L, "cookie banner alpha beta gamma delta"),
      (2L, "one two cookie banner three four"),
      (3L, "cookie banner cookie banner"), // ALL segments boilerplate → doc dropped
      (4L, "five six seven eight")
    ).toDF("doc_id", "text")
    val got = Curation.lineDedupDocs(docs, width = 2, minDocs = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === Map(
      1L -> ((2L, 1L, "alpha beta gamma delta")),
      2L -> ((2L, 1L, "one two three four")),
      4L -> ((2L, 0L, "five six seven eight"))))
  }

  test("corpus_line_dedup: ragged tail segment is kept and counted once") {
    import spark.implicits._
    // 5 tokens at width 2 → segments "a b", "c d", "e"; nothing repeats
    val docs = Seq((7L, "a b c d e")).toDF("doc_id", "text")
    val got = Curation.lineDedupDocs(docs, width = 2, minDocs = 2).collect().head
    assert((got.getLong(1), got.getLong(2), got.getString(3)) === ((3L, 0L, "a b c d e")))
  }

  test("seq_pack partitions each source stream consistently (driver-recomputed twin)") {
    val got = Curation.seqPack(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.size == docs.length, "every doc packed exactly once")
    docs.groupBy(_._1).foreach { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, id, n) =>
        assert(got((src, id)) == (cum / 2048, cum % 2048), s"doc $id in $src")
        cum += n
      }
    }
    assert(got.values.forall { case (_, off) => off >= 0 && off < 2048 })
  }

  test("doc_chunk covers every doc: stride layout, full coverage, correct substrings") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x" * 30), //  shorter than one width: single chunk
      (2L, "a" * 64), //  exactly one width
      (3L, ("abcdefgh" * 20).take(150)) // 150 chars -> chunks at 0,48,96
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val chunks = Curation.docChunkDocs(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val texts = Map(1L -> "x" * 30, 2L -> "a" * 64, 3L -> ("abcdefgh" * 20).take(150))
    for ((id, text) <- texts) {
      val mine = chunks.filter(_._1 == id).sortBy(_._2)
      assert(mine.head._2 == 0)
      // every chunk is the exact substring at its stride offset
      mine.foreach { case (_, cid, c) => assert(c == text.slice(cid * 48, cid * 48 + 64)) }
      // coverage: last chunk reaches the end, and no chunk starts past it
      val last = mine.last._2
      assert(last * 48 < text.length && last * 48 + 64 >= text.length)
      val expectN = (math.max(text.length - 64, 0) + 47) / 48 + 1
      assert(mine.length == expectN, s"doc $id chunk count")
    }
  }

  test("doc_chunk_tokens: token coverage, 8-token overlap, short-tail n_toks") {
    import spark.implicits._
    val t = (1 to 75).map(i => s"w$i").mkString(" ") // 75 tokens
    val docs = Seq((1L, "a b c"), (2L, t)).toDF("doc_id", "text")
    val chunks = Curation.docChunkTokensDocs(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // short doc: one chunk, whole text, n_toks = 3
    val short = chunks.filter(_._1 == 1L)
    assert(short.toSeq === Seq((1L, 0, "a b c", 3)))
    // 75 tokens -> chunks at 0, 24, 48; the last is the 27-token tail
    val long = chunks.filter(_._1 == 2L).sortBy(_._2)
    assert(long.map(_._2).toSeq === Seq(0, 1, 2))
    assert(long.map(_._4).toSeq === Seq(32, 32, 27))
    val toks = t.split(" ")
    long.foreach { case (_, cid, c, _) =>
      assert(c === toks.slice(cid * 24, cid * 24 + 32).mkString(" "))
    }
    // consecutive chunks share exactly 32 - 24 = 8 tokens of context
    assert(toks.slice(24, 32).toSeq === long(0)._3.split(" ").takeRight(8).toSeq)
  }

  test("seqPackDocs (two-pass keyed prefix sum) ≡ per-source window twin") {
    val docs = Tables.documents(spark, sfDir)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String]("source"), r.getAs[Long]("doc_id")) ->
        ((r.getAs[Long]("seq_id"), r.getAs[Long]("pack_off")))
    val got = Curation.seqPackDocs(docs).collect().map(key).toMap
    val twin = Curation.seqPackDocsWindow(docs).collect().map(key).toMap
    assert(got === twin)
    assert(got.nonEmpty)
  }

  test("quality_repetition computes the hand-checked signals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"), //    4 toks, 2 unique, top 3
      (2L, "u v w x y z") // all unique
    ).toDF("doc_id", "text")
    val got = Curation.qualityRepetitionDocs(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((4L, 2L, 0.5, 0.75)))
    assert(got(2L) == ((6L, 6L, 0.0, math.floor(1.0 / 6 * 1e6 + 0.5) / 1e6)))
  }

  test("corpus_shuffle is a reproducible permutation: every doc once, dense per-shard positions") {
    val a = Curation.corpusShuffle(spark, sfDir).persist()
    try {
      val total = Tables.documents(spark, sfDir).count()
      assert(a.count() === total)
      assert(a.select("doc_id").distinct().count() === total, "must be a permutation")
      // positions within each shard are exactly 1..n (dense training order)
      val bad = a.groupBy("shard")
        .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"), min(col("pos")).as("mn"),
          countDistinct(col("pos")).as("nd"))
        .filter(col("mx") =!= col("n") || col("mn") =!= 1 || col("nd") =!= col("n"))
      assert(bad.count() === 0)
      // deterministic: a second run is bit-identical
      assert(collectSet(Curation.corpusShuffle(spark, sfDir)) === collectSet(a))
    } finally a.unpersist()
  }

  test("decontaminate: xxhash64-keyed join is output-identical to text-keyed, at 3 and 13 grams") {
    val docs = Tables.documents(spark, sfDir)
    for (gram <- Seq(3, 13)) {
      val text = collectSet(Curation.decontaminateDocs(docs, gram))
      val hashed = collectSet(Curation.decontaminateDocs(docs, gram, hashKey = true))
      assert(text.nonEmpty, s"vacuous twin at gram=$gram")
      assert(hashed === text, s"hash-keyed decontamination diverged at gram=$gram")
    }
  }

  test("decontaminateAgainst (explicit eval frame) ≡ decontaminateDocs on a residue-safe split; immune to eval-residue batches") {
    val docs = Tables.documents(spark, sfDir)
    import org.apache.spark.sql.functions.col
    val expect = collectSet(Curation.decontaminateDocs(docs, gram = 3))
    val got = collectSet(Curation.decontaminateAgainst(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), gram = 3))
    assert(got === expect, "explicit-eval form must equal the %10 convention on its own split")
    // the trap the explicit form removes: a batch whose ids are ALL
    // ≡ 0 mod 10 still gets flagged against the eval frame (the %10
    // convention would have classified the whole batch as eval)
    val evalResidueBatch = docs.filter(col("doc_id") % 10 === 0).limit(5)
      .select((col("doc_id") + 10L).as("doc_id"), col("text")) // ids stay ≡ 0 mod 10
    val flagged = Curation.decontaminateAgainst(evalResidueBatch,
      docs.filter(col("doc_id") % 10 === 0), gram = 3).count()
    assert(flagged === 5L, "explicit-eval decontamination must flag eval-residue copies")
  }

  test("domainCap keeps the cap longest docs per source, ranked") {
    val out = Curation.domainCap(spark, sfDir, cap = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val bySrc = out.groupBy(_._1)
    val docs = Tables.documents(spark, sfDir)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((src, kept) <- bySrc) {
      assert(kept.length <= 5)
      assert(kept.map(_._4).sorted.toSeq === (1 to kept.length))
      // every kept doc outranks every dropped doc in the (len DESC, id) order
      val keptIds = kept.map(_._2).toSet
      val worstKept = kept.map(t => (-t._3, t._2)).max
      for ((s2, id, len) <- docs if s2 == src && !keptIds.contains(id))
        assert(Ordering[(Long, Long)].gt((-len, id), worstKept),
          s"dropped $id outranks kept in $src")
    }
  }

  test("sourceOverlapMatrix: planted mirror sources share grams, disjoint pair absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "A"),
      (2L, "alpha beta gamma delta", "B"),      // mirror of A
      (3L, "zeta eta theta iota kappa", "C")    // disjoint
    ).toDF("doc_id", "text", "source")
    val m = Curation.sourceOverlapMatrix(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(5)))).toMap
    // A and B: 2 shared 3-grams out of 2 each -> jaccard 1.0
    assert(m(("A", "B")) === ((2L, 1.0)))
    // pairs with zero overlap emit no row (inner gram join)
    assert(!m.contains(("A", "C")) && !m.contains(("B", "C")))
  }

  test("corpus_overlap_matrix harness rows: shared <= min(grams) and jaccard in (0,1]") {
    val rows = SparkEntry.queries("corpus_overlap_matrix")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (shared, ga, gb, j) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(shared >= 1 && shared <= math.min(ga, gb))
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("snapshotDiff: keyed add/remove/change/unchanged classification with char totals") {
    import spark.implicits._
    val prev = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val curr = Seq((2L, "beta"), (3L, "GAMMA!"), (4L, "delta")).toDF("doc_id", "text")
    val out = graft.llm.Curation.snapshotDiff(prev, curr)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("added") === (1L, 5L))      // delta
    assert(out("removed") === (1L, 5L))    // alpha (prev length counted)
    assert(out("changed") === (1L, 6L))    // GAMMA! (curr length counted)
    assert(out("unchanged") === (1L, 4L))  // beta
  }

  test("corpus_split: assignment is a pure function of doc_id; splits partition the corpus") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val assign = graft.llm.Curation.corpusSplitAssign(
      Tables.documents(spark, sfDir))
      .select(col("doc_id").cast("long").as[Long], col("split").as[String])
      .collect()
    // pure function: recomputing from the hash agrees row by row
    assign.foreach { case (id, split) =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split_$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u16 = java.lang.Long.parseLong(md5.take(4), 16)
      val expect = if (u16 < 64225) "train" else if (u16 < 64880) "val" else "test"
      assert(split === expect, s"doc $id")
    }
    // declared row: shares sum to 1 within rounding; docs conserved
    val rows = SparkEntry.queries("corpus_split")(spark, sfDir)
      .select(col("split").as[String], col("n_docs").as[Long],
        col("share").as[Double]).collect()
    assert(rows.map(_._2).sum === assign.length.toLong)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-5)
    assert(rows.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    assert(rows.find(_._1 == "train").exists(_._2 > assign.length * 9 / 10),
      "train carries the 98% mass")
  }

  test("pii_pseudonymize: surrogates are injective and stable, bands generalize, no raw leak") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val got = SparkEntry.queries("pii_pseudonymize")(spark, sfDir)
      .select(col("sur_key").as[String], col("sur_name").as[String],
        col("acctbal_band").as[Long]).collect()
    val raw = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long").as[Long], col("c_name").as[String],
        col("c_acctbal").as[Double]).collect()
    assert(got.length === raw.length)
    // keyed md5 is injective on this domain → joinability preserved,
    // and re-running yields the same surrogates (determinism)
    assert(got.map(_._1).distinct.length === raw.map(_._1).distinct.length)
    val again = SparkEntry.queries("pii_pseudonymize")(spark, sfDir)
      .select(col("sur_key").as[String]).collect()
    assert(got.map(_._1).sorted.toSeq === again.sorted.toSeq)
    // no raw identifier survives; bands are 100-multiples at-or-below
    val names = raw.map(_._2).toSet
    got.foreach { case (k, nm, band) =>
      assert(k.length === 32 && nm.length === 32 && !names.contains(nm))
      assert(band % 100 === 0)
    }
    raw.foreach { r =>
      assert(got.exists(g => g._3 === (math.floor(r._3 / 100) * 100).toLong))
    }
  }
}
