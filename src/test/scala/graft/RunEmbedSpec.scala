package graft

import org.apache.spark.sql.functions._

import graft.run.RunEmbed

/** Spec for the Word2Vec closure of the node2vec loop: sentence
  * assembly must be step-ordered, and on a graph where context
  * membership is unambiguous (two disjoint cliques — walks can never
  * cross), the trained embedding's nearest neighbors must stay inside
  * the walker's clique. The full runner is smoke-run on the harness
  * data and its report reconciled with the persisted vectors.
  */
class RunEmbedSpec extends SparkSpecBase {
  import spark.implicits._

  test("walkSentences: node order follows step order per walk") {
    val walks = Seq(
      (7L, 2, 30L), (7L, 0, 10L), (7L, 1, 20L),
      (8L, 1, 50L), (8L, 0, 40L)).toDF("walk", "step", "node")
    val out = RunEmbed.walkSentences(walks).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(7L) === Seq("10", "20", "30"))
    assert(out(8L) === Seq("40", "50"))
  }

  test("two disjoint cliques: embedding neighbors never cross the clique boundary") {
    // cliques {0..4} and {20..24}; both directions (the custSuppEdges
    // shape). Seeds under the default seedMod=20 are exactly 0 and 20
    // — one walker per clique, and a walk can never cross.
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val cliqueA = for (a <- ids; b <- ids if a != b) yield (a, b)
    val cliqueB = cliqueA.map { case (a, b) => (a + 20L, b + 20L) }
    val edges = (cliqueA ++ cliqueB).toDF("src", "dst")
    val walks = graft.rel.Graph.randomWalks(edges, steps = 12, walksPerSeed = 40)
    val sentences = RunEmbed.walkSentences(walks)
    val model = new org.apache.spark.ml.feature.Word2Vec()
      .setInputCol("sentence").setOutputCol("v")
      .setVectorSize(8).setMinCount(1).setSeed(13L)
      .setWindowSize(2).setNumPartitions(1).setMaxIter(8)
      .fit(sentences)
    val vecs = model.getVectors
      .select(col("word"),
        org.apache.spark.ml.functions.vector_to_array(col("vector"), "float64").as("vector"))
    val top = RunEmbed.vectorTopK(vecs, 2).collect()
      .map(r => (r.getString(0).toLong, r.getString(1).toLong))
    assert(top.nonEmpty)
    val crossers = top.filter { case (w1, w2) => (w1 < 20L) != (w2 < 20L) }
    // the boundary pin: in-clique co-occurrence is the ONLY training
    // signal, so top-2 cosine neighbors stay in-clique for the great
    // majority of words (skip-gram on a tiny corpus leaves a little
    // geometric noise — a hard all-words pin would be flaky)
    assert(crossers.length <= top.length / 4,
      s"${crossers.length}/${top.length} top-2 neighbors cross the clique boundary: " +
        crossers.mkString(", "))
  }

  test("graph_embed_nn core: two-clique boundary recall through the row's code path") {
    // the declared row's quality pin (round 14, VERDICT r13 #4 — the
    // boundary assertion promoted to the row convention, agg_hll
    // style): on two disjoint cliques the walk seeds are 0 and 20, one
    // per clique, and EVERY top-3 embedding neighbor the row emits for
    // them must be in-clique — the seeds sit at the center of their
    // corpus's co-occurrence mass, so this is strict where the
    // all-words test above tolerates noise
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val cliqueA = for (a <- ids; b <- ids if a != b) yield (a, b)
    val cliqueB = cliqueA.map { case (a, b) => (a + 20L, b + 20L) }
    val edges = (cliqueA ++ cliqueB).toDF("src", "dst")
    // walksPerSeed 160 (not the trainer test's 40): the row's
    // walkSampleMod = 8 trains on every 8th walk, and 5 surviving
    // walks per seed left the tiny-corpus geometry noisy — 20 per seed
    // restores the strict pin while exercising the row's sampling path
    val walks = graft.rel.Graph.randomWalks(edges, steps = 12, walksPerSeed = 160)
    val rows = graft.run.RunEmbed.embedNnOf(spark, walks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.map(_._1).toSet === Set(0L, 20L), "one row group per walk seed")
    assert(rows.length === 6, "top-3 per seed")
    rows.foreach { case (s, n, _) =>
      assert((s < 20L) === (n < 20L),
        s"seed $s: neighbor $n crosses the clique boundary")
    }
  }

  test("graph_embed_nn declared row: deterministic, seed-scoped, k-bounded") {
    val q = SparkEntry.queries("graph_embed_nn")
    val r1 = q(spark, sfDir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val r2 = q(spark, sfDir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(r1 === r2, "fixed seed + one trainer partition must reproduce")
    assert(r1.nonEmpty)
    // every emitted node is a walk-seed and carries exactly ranks 1..3
    val seeds = graft.rel.Graph.walksShared(spark, sfDir)
      .filter(col("step") === 0).select("node").distinct()
      .as[Long].collect().toSet
    val byNode = r1.groupBy(_._1)
    byNode.foreach { case (n, rs) =>
      assert(seeds.contains(n), s"$n is not a walk seed")
      assert(rs.map(_._3).toSeq.sorted === Seq(1, 2, 3), s"ranks off for $n")
    }
  }

  test("graph_embed_nn core: the same walks give the same rows at shuffle widths 4 and 8") {
    // the walk corpus is fixed (one checkpoint); only the width the
    // sentence build and the read-out shuffle at changes. Word2Vec's
    // vocabulary order and training order follow its input order, so the
    // trainer must see the sentences in an order no shuffle width decides
    val walks = graft.rel.Graph.walksShared(spark, sfDir)
    def rowsAt(width: Int): Set[(Long, Long, Int, Double)] = {
      val key = "spark.sql.shuffle.partitions"
      val was = spark.conf.get(key)
      spark.conf.set(key, width.toString)
      try RunEmbed.embedNnOf(spark, walks).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      finally spark.conf.set(key, was)
    }
    val at4 = rowsAt(4)
    assert(at4.nonEmpty)
    assert(rowsAt(8) === at4)
  }

  test("RunEmbed end-to-end: report reconciles with the persisted vectors") {
    val out = java.nio.file.Files.createTempDirectory("embed").toString
    val report = RunEmbed.run(spark, sfDir, out, steps = 4, walksPerSeed = 2, dim = 8)
    val vecs = spark.read.parquet(s"$out/vectors")
    assert(vecs.count() > 0, "training must produce a vocabulary")
    assert(report.contains(s"vocab: ${vecs.count()}"), report)
    assert(vecs.select(size(col("vector"))).distinct().head().getInt(0) === 8,
      "persisted vectors must carry the requested dimension")
    val overlap = report.linesIterator
      .find(_.startsWith("mean_top")).get.split(": ")(1).toDouble
    assert(overlap >= 0.0 && overlap <= 1.0, report)
  }
}
