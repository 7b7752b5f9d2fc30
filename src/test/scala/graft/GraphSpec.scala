package graft

import org.apache.spark.sql.functions._

import graft.rel.Graph

class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  test("pageRank conserves mass and respects symmetry") {
    // undirected triangle + pendant: a-b, b-c, c-a, c-d (symmetrized)
    val half = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.pageRank(edges, iters = 10).collect()
      .map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-4)         // rank mass conserved
    assert(r(1) === r(2))                               // a,b symmetric
    assert(r(3) > r(1) && r(4) < r(1))                  // hub up, pendant down
  }

  test("hits: normalized per role; broad buyer out-hubs narrow; shared supplier tops authorities") {
    // c1 buys from s1,s2,s3; c2 buys from s1 only → hub(c1) > hub(c2);
    // s1 has both buyers → top authority
    val half = Seq((10L, 21L), (10L, 23L), (10L, 25L), (12L, 21L)).toDF("src", "dst")
    val out = Graph.hits(half).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val hubs = out.filter(_._2 == "hub").map(r => r._1 -> r._3).toMap
    val auth = out.filter(_._2 == "authority").map(r => r._1 -> r._3).toMap
    assert(math.abs(hubs.values.sum - 1.0) < 1e-4)
    assert(math.abs(auth.values.sum - 1.0) < 1e-4)
    assert(hubs(10L) > hubs(12L))
    assert(auth(21L) > auth(23L) && auth(23L) === auth(25L))
  }

  test("pageRank on the harness graph: positive ranks, one row per node") {
    val edges = Graph.custSuppEdges(spark, sfDir)
    val pr = Graph.pageRank(edges, iters = 3)
    val nNodes = edges.select("src").distinct().count()
    assert(pr.count() === nNodes)
    assert(pr.filter(col("rank") <= 0).count() === 0)
  }

  test("triangleCount: known counts, hub-wedge explosion avoided by orientation") {
    // two triangles sharing edge (2,3): {1,2,3} and {2,3,4}; plus a
    // pendant (4,5) that closes nothing
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("p1", "p2")
    val r = Graph.triangleCount(edges).collect().head
    assert(r.getLong(0) === 6L)
    assert(r.getLong(1) === 2L)
  }

  test("triangleCount: star graph (max-degree hub) has zero triangles") {
    // a 50-leaf star: the naive wedge join would enumerate C(50,2)
    // wedges from the hub; degree orientation points every edge INTO
    // the hub, so the hub sources no wedges at all
    val edges = (2L to 51L).map(leaf => (1L, leaf)).toDF("p1", "p2")
    val r = Graph.triangleCount(edges).collect().head
    assert(r.getLong(0) === 50L)
    assert(r.getLong(1) === 0L)
  }

  test("triangleCount: complete graph K5 has C(5,3) = 10 triangles") {
    val edges = (for {
      i <- 1L to 5L; j <- (i + 1) to 5L
    } yield (i, j)).toDF("p1", "p2")
    val r = Graph.triangleCount(edges).collect().head
    assert(r.getLong(0) === 10L)
    assert(r.getLong(1) === 10L)
  }

  test("edgeJaccard: hand-computed on K4+pendant; star edges all zero") {
    // K4 on {1,2,3,4} + pendant edge (4,5):
    //  K4-edges not touching 4: cn=2 (the other two K4 nodes),
    //    union = 3+3-cn-2 = 2 → J = 1
    //  K4-edges touching 4 (deg 4): cn=2, union = 3+4-2-2 = 3 → J = 2/3
    //  pendant (4,5): cn=0, union = 4+1-0-2 = 3 → J = 0
    val edges = ((for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j)) :+ (4L, 5L))
      .toDF("p1", "p2")
    val r = Graph.edgeJaccard(edges).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getDouble(3))).toMap
    assert(r.size === 7)
    assert(r((1L, 2L)) === ((2L, 1.0)))
    assert(r((2L, 3L)) === ((2L, 1.0)))
    assert(r((1L, 4L))._1 === 2L)
    assert(math.abs(r((1L, 4L))._2 - 2.0 / 3) < 1e-6)
    assert(r((4L, 5L)) === ((0L, 0.0)))
    // star graph: no edge has common neighbors
    val star = (2L to 30L).map(i => (1L, i)).toDF("p1", "p2")
    assert(Graph.edgeJaccard(star).filter(col("cn") =!= 0 || col("jaccard") =!= 0.0)
      .count() === 0)
  }

  test("resourceAlloc: hand-computed on two shared triangles; pendant scores 0") {
    // two triangles sharing edge (2,3): {1,2,3}, {2,3,4}; pendant (4,5).
    // deg: 1→2, 2→3, 3→3, 4→3, 5→1.
    //  (2,3): cn {1,4} → 1/2 + 1/3 = 0.833333 (sorted fold: deg 2 first)
    //  (1,2),(1,3): cn via the other triangle node of deg 3 → 1/3
    //  (2,4),(3,4): cn of deg 3 → 1/3
    //  (4,5): no common neighbor → 0
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("p1", "p2")
    val r = Graph.resourceAlloc(edges).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r.size === 6)
    assert(math.abs(r((2L, 3L)) - 0.833333) < 1e-9)
    for (e <- Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
      assert(math.abs(r(e) - 0.333333) < 1e-9)
    assert(r((4L, 5L)) === 0.0)
    // a hub's spokes share no neighbors — every RA score is 0
    val star = (2L to 30L).map(i => (1L, i)).toDF("p1", "p2")
    assert(Graph.resourceAlloc(star).filter(col("ra") =!= 0.0).count() === 0)
  }

  test("clusteringCoeff: K4 nodes fully clustered; pendant dilutes its anchor") {
    // K4 on {1,2,3,4} + pendant (4,5): nodes 1-3 sit in 3 of K4's 4
    // triangles with deg 3 → cc = 1; node 4 has deg 4, t = 3 → cc = 0.5;
    // node 5 deg 1 → cc = 0
    val edges = ((for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j)) :+ (4L, 5L))
      .toDF("p1", "p2")
    val r = Graph.clusteringCoeff(edges).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r.size === 5)
    for (n <- 1L to 3L) assert(r(n) === ((3L, 3L, 1.0)))
    assert(r(4L) === ((4L, 3L, 0.5)))
    assert(r(5L) === ((1L, 0L, 0.0)))
  }

  test("kCorePeel: pendant chain strips one link per round; triangle core survives") {
    // triangle {1,2,3} + chain 3-4-5-6: 2-core = the triangle. Chain
    // peels from the free end, one link per round → 3 rounds clear it.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("p1", "p2")
    val core = Graph.kCorePeel(edges, k = 2, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // fixed-round semantics: 1 round only strips the current leaf (6)
    // and its edge — 5 becomes the new leaf but survives this round
    val one = Graph.kCorePeel(edges, k = 2, rounds = 1).collect()
      .map(_.getLong(0)).toSet
    assert(one === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("kCoreFixpoint ≡ kCorePeel at any rounds ≥ convergence depth; early exit on empty") {
    // triangle {1,2,3} + chain 3-4-5-6: converges in 3 peel rounds
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("p1", "p2")
    val fix = Graph.kCoreFixpoint(edges, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ≡ the fixed-round row for every rounds ≥ the convergence depth
    for (rounds <- Seq(3, 4, 7)) {
      val fixed = Graph.kCorePeel(edges, k = 2, rounds = rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fix === fixed, s"fixpoint diverged from rounds=$rounds")
    }
    assert(fix === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // a graph with NO 3-core empties out and the loop exits early
    assert(Graph.kCoreFixpoint(edges, k = 3).count() === 0L)
  }

  test("labelPropFixpoint converges and ≡ labelProp at rounds ≥ depth on a converging graph") {
    // two triangles bridged by one edge: labels collapse to each
    // triangle's min id and STAY there (convergent, not oscillating)
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("src", "dst")
    val edges = half.unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
    val fix = Graph.labelPropFixpoint(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (iters <- Seq(3, 5)) {
      val fixed = Graph.labelProp(edges, iters = iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fix === fixed, s"fixpoint diverged from iters=$iters")
    }
    assert(fix.values.toSet.size <= 2, "two bridged triangles collapse to ≤2 labels")
  }

  test("bfsHops: hop distances relax through min; unreached nodes absent") {
    import spark.implicits._
    // path 1-2-3-4-5 plus isolated edge 8-9; source = {1}
    val half = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val src = Seq(1L).toDF("node")
    val d = Graph.bfsHops(edges, src, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // two sources meet in the middle: min wins
    val d2 = Graph.bfsHops(edges, Seq(1L, 5L).toDF("node"), maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("coOrderEdges guard: heavy group raises, sane groups pair normally") {
    // order 1: 3 parts → 3 pairs; order 2: 2 parts → 1 pair (cross-order
    // duplicates collapse via distinct)
    val sane = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L))
      .toDF("ok", "pk")
    val pairs = Graph.coOrderEdgesFrom(sane, maxPerGroup = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 20L), (10L, 30L), (20L, 30L)))
    // synthetic heavy order: one group with 51 members over a cap of 50
    val heavy = (1L to 51L).map(i => (99L, i)).toDF("ok", "pk")
    val e = intercept[Exception](
      Graph.coOrderEdgesFrom(sane.unionAll(heavy), maxPerGroup = 50).count())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("maxPerGroup"), s"unexpected failure: $msgs")
  }

  test("labelProp: two triangle communities collapse to their min-id labels in 2 rounds") {
    // disconnected triangles {1,2,3} and {10,11,12}: round 1 floods the
    // min id into the neighborhood, round 2's (count DESC, label ASC)
    // tie-break settles every member on its community minimum —
    // hand-traced through both sync rounds
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val out = Graph.labelProp(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelProp is deterministic: two runs bit-identical, one label per node") {
    val a = Graph.labelPropQuery(spark, sfDir)
    val b = Graph.labelPropQuery(spark, sfDir)
    assert(collectSet(a) === collectSet(b))
    assert(a.count() === a.select("node").distinct().count())
  }

  test("degree histogram mass equals the symmetrized edge count (handshake identity)") {
    import org.apache.spark.sql.functions._
    val edges = Graph.custSuppEdges(spark, sfDir)
    val hist = Graph.degreeDistQuery(spark, sfDir)
    val mass = hist.agg(sum(col("deg") * col("n_nodes"))).head().getLong(0)
    assert(mass === edges.count(), "Σ deg·n_nodes must equal |symmetrized E|")
    assert(hist.filter(col("deg") <= 0).count() === 0)
  }

  test("connCompRounds ≡ min label over the ≤rounds-hop neighborhood (brute BFS)") {
    import org.apache.spark.sql.functions._
    val got = Graph.connCompQuery(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = Graph.custSuppEdges(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (node, comp) =>
      var frontier = Set(node); var seen = Set(node)
      (1 to Graph.CcRounds).foreach { _ =>
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      assert(comp === seen.min, s"node $node: got $comp, brute ${seen.min}")
    }
  }

  test("assortativity: -1 on a perfect star, in [-1, 1] on the declared graph") {
    import org.apache.spark.sql.functions._
    // star K_{1,5}: every edge pairs the degree-5 hub with a degree-1
    // leaf — endpoint degrees are perfectly anti-correlated
    val half = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    val star = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.assortativity(star).head().getDouble(1)
    assert(math.abs(r - (-1.0)) < 1e-6, s"star assortativity $r")
    val declared = Graph.assortativityQuery(spark, sfDir).head().getDouble(1)
    assert(declared >= -1.0 - 1e-9 && declared <= 1.0 + 1e-9)
  }

  test("modularity: exactly 0.5 for two disjoint triangles (hand-computed)") {
    // two K₃ communities: LPA labels each triangle by its min id;
    // W = 2m = 12 directed edges all within, D_c = 6 each →
    // Q = 12/12 − (36 + 36)/144 = 0.5 exactly
    val half = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.modularity(edges).head()
    assert(r.getLong(0) === 2L)
    assert(math.abs(r.getDouble(1) - 0.5) < 1e-9)
  }

  test("personalized PageRank conserves unit mass and concentrates it on/near seeds") {
    import org.apache.spark.sql.functions._
    val ppr = Graph.pprQuery(spark, sfDir)
    val total = ppr.agg(sum("ppr")).head().getDouble(0)
    // no dangling nodes (symmetrized edges) → mass conserved up to the
    // per-node rnd(…,6) rounding
    assert(math.abs(total - 1.0) < 1e-3, s"mass $total")
    val seedMean = ppr.filter(col("node") % Graph.BfsSeedMod === 0)
      .agg(avg("ppr")).head().getDouble(0)
    val otherMean = ppr.filter(col("node") % Graph.BfsSeedMod =!= 0)
      .agg(avg("ppr")).head().getDouble(0)
    assert(seedMean > otherMean,
      s"teleport must favor seeds: seed mean $seedMean vs other $otherMean")
  }

  test("harmonicPerSeed: path graph distances give the exact closed-form score") {
    // path 0-1-2-3-4, seed 0: dists 1,2,3 within 3 hops → h = 1 + 1/2 + 1/3
    val half = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val seeds = Seq(0L).toDF("node")
    val r = Graph.harmonicPerSeed(edges, seeds).head()
    assert(r.getLong(1) === 3L)  // nodes 1,2,3 reached (4 is 4 hops away)
    assert(math.abs(r.getDouble(2) - (1.0 + 0.5 + 1.0 / 3)) < 2e-6)
  }

  test("harmonicPerSeed: star center reaches all leaves at distance 1") {
    val half = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.harmonicPerSeed(edges, Seq(0L).toDF("node")).head()
    assert(r.getLong(1) === 6L && math.abs(r.getDouble(2) - 6.0) < 1e-9)
  }

  test("ccFixpointQuery: true fixpoint where the fixed-round row is a refinement (chain graph)") {
    // a 12-link chain: one-hop min-label needs 11 rounds, so the
    // CcRounds=3 fixed-round form leaves multiple labels; the
    // pointer-jumping fixpoint closes it in O(log) rounds to ONE comp
    val half = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val fixed = Graph.connCompRounds(edges, rounds = Graph.CcRounds)
      .select("comp").distinct().count()
    assert(fixed > 1, "fixed-round form should NOT close a 12-chain in 3 rounds")
    val fp = graft.llm.Dedup.connectedComponents(
      half.toDF("doc_id1", "doc_id2"))
      .select(col("doc_id").as("node"), col("cluster_id").as("comp"))
    assert(fp.select("comp").distinct().count() === 1L)
    assert(fp.agg(min("comp")).head().getLong(0) === 0L, "component label = min node id")
    assert(fp.count() === 13L, "one row per node")
  }

  test("harmonicPerSeed maxSeeds: capped run ≡ uncapped on every kept seed; cap actually refines") {
    // per-seed independence makes the seed cap a pure sample: rows for
    // surviving seeds must be byte-identical to the uncapped run's
    // denser seed rule than the declared row's (sf0.001 has only 3 seeds
    // at mod 50) — the cap must refine a real population
    val edges = Graph.custSuppEdges(spark, sfDir)
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % 5 === 0)
    val nSeeds = seeds.count()
    assert(nSeeds > 4, s"fixture needs enough seeds to refine, got $nSeeds")
    val uncapped = Graph.harmonicPerSeed(edges, seeds)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val capped = Graph.harmonicPerSeed(edges, seeds, maxSeeds = (nSeeds / 2).toInt)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(capped.nonEmpty && capped.size < uncapped.size,
      s"cap must refine: ${capped.size} of ${uncapped.size}")
    capped.foreach { case (seed, row) =>
      assert(uncapped(seed) === row, s"seed $seed diverged under the cap")
    }
    // maxSeeds ≥ seed count is the identity
    assert(Graph.harmonicPerSeed(edges, seeds, maxSeeds = nSeeds.toInt * 2)
      .count() === uncapped.size.toLong)
  }

  test("harmonicHll: HyperBall estimates pin to exact harmonicPerSeed per seed (sparse-mode accuracy)") {
    // the sketched scale path vs its verification twin on the harness
    // graph: small per-seed reach sets stay in DataSketches' EXACT
    // sparse mode at lgK=10 (harmonicHll's default, which this test
    // exercises), so estimates must track exact within 2%
    val edges = Graph.custSuppEdges(spark, sfDir)
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % Graph.BfsSeedMod === 0)
    val exact = Graph.harmonicPerSeed(edges, seeds)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val est = Graph.harmonicHll(edges)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(est.keySet === exact.keySet, "one read-out row per seed, same seeds")
    est.foreach { case (seed, (nEst, hEst)) =>
      val (nEx, hEx) = exact(seed)
      assert(math.abs(nEst - nEx) <= math.max(1.0, 0.02 * nEx),
        s"seed $seed: n_reached_est $nEst vs exact $nEx")
      assert(math.abs(hEst - hEx) <= math.max(0.02, 0.02 * hEx),
        s"seed $seed: harmonic_est $hEst vs exact $hEx")
    }
  }

  test("harmonicHll: declared-row lgK 7 estimates stay within the 10% dense-mode envelope") {
    // the DECLARED row runs lgK = HarmonicHllLgK = 7 (round 14 — the 8x
    // cheaper sketch the 100 TB path actually ships; VERDICT r13 #1).
    // SCALE.md round 14 (lgK 7 A/B) records max rel-error 5.66% at sf0.001 / 2.33%
    // at sf0.01 vs exact harmonicPerSeed (theoretical dense RSE
    // 1.04/sqrt(2^7) = 9.2%); the pin is 10% — deterministic estimator
    // (fixed hash, order-independent union) on fixed fixtures, so this
    // cannot flake, only catch a real estimator/parameter change
    val edges = Graph.custSuppEdges(spark, sfDir)
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % Graph.BfsSeedMod === 0)
    val exact = Graph.harmonicPerSeed(edges, seeds)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val est = Graph.harmonicHll(edges, lgK = Graph.HarmonicHllLgK)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (seed, (nEst, hEst)) =>
      val (nEx, hEx) = exact(seed)
      assert(math.abs(nEst - nEx) <= math.max(1.0, 0.10 * nEx),
        s"seed $seed: n_reached_est $nEst vs exact $nEx")
      assert(math.abs(hEst - hEx) <= math.max(0.1, 0.10 * hEx),
        s"seed $seed: harmonic_est $hEst vs exact $hEx")
    }
  }

  test("harmonicHll: star center — exact small-reach sketches recover the closed form") {
    val half = (1L to 6L).map(i => (0L, i)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.harmonicHll(edges, seedMod = 100).head() // node 0 ≡ 0 (mod 100)
    assert(math.abs(r.getDouble(1) - 6.0) < 0.2 && math.abs(r.getDouble(2) - 6.0) < 0.2)
  }

  test("linkPredCandidates: scores distance-2 pairs, excludes edges, guards hubs") {
    // square 1-2-3-4-1: diagonals (1,3) and (2,4) share 2 common neighbors
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("p1", "p2")
    val got = Graph.linkPredCandidates(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet === Set((1L, 3L, 2L), (2L, 4L, 2L)))
    // a hub past maxDeg raises instead of silently expanding deg² pairs
    val hub = (1L to 30L).map(i => (0L, i)).toDF("p1", "p2")
    val err = intercept[Exception] {
      Graph.linkPredCandidates(hub, maxDeg = 10).collect()
    }
    assert(err.getMessage.contains("maxDeg"))
  }

  test("graph_link_pred harness rows are non-adjacent and ranked") {
    val edges = Graph.coOrderEdges(spark, sfDir).select("p1", "p2")
      .as[(Long, Long)].collect().toSet
    val got = SparkEntry.queries("graph_link_pred")(spark, sfDir)
      .select("p1", "p2", "cn").as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, cn) =>
      assert(!edges.contains((a, b)) && a < b && cn >= 1)
    }
    val cns = got.map(_._3)
    assert(cns.zip(cns.tail).forall { case (x, y) => x >= y })
  }

  test("randomWalks: every hop is an edge, walks are complete and reproducible") {
    // path + branch, symmetrized: 0-2, 2-4, 4-6, 4-8 (seedMod 2 → all seeds)
    val half = Seq((0L, 2L), (2L, 4L), (4L, 6L), (4L, 8L)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val edgeSet = edges.as[(Long, Long)].collect().toSet
    val got = Graph.randomWalks(edges, steps = 3, seedMod = 2)
      .select("walk", "step", "node").as[(Long, Int, Long)].collect()
    val byWalk = got.groupBy(_._1)
    // one walk per node, each with steps+1 rows, starting at its seed
    assert(byWalk.keySet === Set(0L, 2L, 4L, 6L, 8L))
    byWalk.foreach { case (w, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      assert(rows.map(_._2).sorted.toSeq === (0 to 3))
      assert(path.head === w, "walk starts at its seed")
      path.zip(path.tail).foreach { case (a, b) =>
        assert(edgeSet.contains((a, b)), s"hop $a→$b of walk $w is an edge")
      }
    }
    // hash-deterministic: a second build is identical
    val again = Graph.randomWalks(edges, steps = 3, seedMod = 2)
      .select("walk", "step", "node").as[(Long, Int, Long)].collect()
    assert(got.sorted.toSeq === again.sorted.toSeq)
  }

  test("adjacencyIndexed (two-pass): bit-identical to the per-src window form on a planted-hub graph") {
    // 500-degree hub + scattered edges: the shape whose window form
    // buffers one task; ranks/degrees must not change under the
    // hub-safe rewrite (round 11 — walks stay bit-identical)
    val rng = new scala.util.Random(11)
    val hub = (1 to 500).map(i => (0L, i.toLong))
    val rest = (1 to 300).map(_ =>
      (rng.nextInt(50).toLong + 1, rng.nextInt(1000).toLong + 1))
    val edges = (hub ++ rest).distinct.toDF("src", "dst")
    val got = Graph.adjacencyIndexed(edges)
      .as[(Long, Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"src")
    val twin = edges
      .withColumn("r", row_number().over(w.orderBy($"dst")).cast("long"))
      .withColumn("deg", count(lit(1)).over(w))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === twin)
  }

  test("randomWalks walksPerSeed: R walks per seed, each valid, ids = node·R + rep") {
    val half = Seq((0L, 2L), (2L, 4L), (4L, 6L), (4L, 8L)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val edgeSet = edges.as[(Long, Long)].collect().toSet
    val got = Graph.randomWalks(edges, steps = 3, seedMod = 2, walksPerSeed = 3)
      .select("walk", "step", "node").as[(Long, Int, Long)].collect()
    val byWalk = got.groupBy(_._1)
    assert(byWalk.keySet ===
      Set(0L, 2L, 4L, 6L, 8L).flatMap(n => (0 to 2).map(n * 3 + _)))
    byWalk.foreach { case (wk, rows) =>
      val path = rows.sortBy(_._2).map(_._3)
      assert(path.head === wk / 3, "walk starts at its seed node")
      path.zip(path.tail).foreach { case (a, b) =>
        assert(edgeSet.contains((a, b)), s"hop $a→$b of walk $wk is an edge")
      }
    }
    // distinct reps draw distinct hash streams: at least one seed's
    // three walks diverge on this branching graph
    assert(Set(0L, 2L, 4L, 6L, 8L).exists { n =>
      (0 to 2).map(r => byWalk(n * 3 + r).sortBy(_._2).map(_._3).toSeq)
        .distinct.size > 1
    })
  }

  test("node2vecWalks: unit weights ≡ randomWalks bit-identically; p/q weights steer return vs exploration") {
    val half = Seq((0L, 2L), (2L, 4L), (4L, 6L), (4L, 8L)).toDF("src", "dst")
    val edges = half.unionAll(half.select($"dst".as("src"), $"src".as("dst")))
    val unb = Graph.randomWalks(edges, steps = 3, seedMod = 2)
      .select("walk", "step", "node").as[(Long, Int, Long)].collect().sorted.toSeq
    val n2v = Graph.node2vecWalks(edges, steps = 3, seedMod = 2)
      .select("walk", "step", "node").as[(Long, Int, Long)].collect().sorted.toSeq
    assert(n2v === unb, "(1,1,1) node2vec must degenerate to the unbiased walks")

    // star graph (center 0, 20 leaves): every step-2 hop from a leaf is
    // at the center with prev = that leaf — wReturn dominates the draw
    val starHalf = (1 to 20).map(i => (0L, i.toLong * 2)).toDF("src", "dst")
    val star = starHalf.unionAll(starHalf.select($"dst".as("src"), $"src".as("dst")))
    def returns(wr: Int): Int = {
      val walks = Graph.node2vecWalks(star, steps = 2, seedMod = 2,
        wReturn = wr, wCommon = 1, wFar = 1)
        .select("walk", "step", "node").as[(Long, Int, Long)].collect()
      walks.groupBy(_._1).values.count { rows =>
        val p = rows.sortBy(_._2).map(_._3)
        p.length == 3 && p(0) != 0L && p(2) == p(0) // leaf → center → same leaf
      }
    }
    val biased = returns(1000); val flat = returns(1)
    assert(biased >= 15, s"wReturn=1000 must pull walks back: $biased/20")
    assert(biased > flat, s"return bias must exceed the uniform rate ($biased vs $flat)")

    // triangle 0-1-2 + tail 0-3: from 1→0, x=2 is the COMMON neighbor
    // (edge(1,2) exists) — wCommon dominates over return(1)/far(3)
    val triHalf = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L)).toDF("src", "dst")
    val tri = triHalf.unionAll(triHalf.select($"dst".as("src"), $"src".as("dst")))
    val tw = Graph.node2vecWalks(tri, steps = 3, seedMod = 1, walksPerSeed = 25,
      wReturn = 1, wCommon = 1000000, wFar = 1)
      .select("walk", "step", "node").as[(Long, Int, Long)].collect()
    val transitions = tw.groupBy(_._1).values.toSeq.flatMap { rows =>
      val p = rows.sortBy(_._2).map(_._3)
      p.sliding(3).filter(t => t.length == 3 && t(0) == 1L && t(1) == 0L)
        .map(_(2))
    }
    assert(transitions.nonEmpty, "the 1→0 transition must occur among 100 walks")
    val commonShare = transitions.count(_ == 2L).toDouble / transitions.size
    assert(commonShare >= 0.9,
      s"wCommon=1e6 must steer 1→0→2 (got $commonShare of ${transitions.size})")
  }

  test("node2vecWalks closed-form draw ≡ window form bit-identically (weight sweep + planted hub)") {
    // round 12 (VERDICT r11 #2): the production path derives the biased
    // pick in closed form from the adjacency rank — no per-walk window.
    // The round-11 window form stays as the twin; both must emit the
    // SAME corpus for every weight shape, including ones where
    // (wCommon − wFar) and (wReturn − wFar) are negative
    def corpus(df: org.apache.spark.sql.DataFrame) =
      df.select($"walk".as[Long], $"step".as[Int], $"node".as[Long])
        .collect().sorted.toSeq
    val triHalf = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val tri = triHalf.unionAll(triHalf.select($"dst".as("src"), $"src".as("dst")))
    for ((wr, wc, wf) <- Seq((1, 2, 4), (4, 2, 1), (3, 1, 2), (1, 1, 1), (7, 5, 3))) {
      val fast = corpus(Graph.node2vecWalks(tri, steps = 4, seedMod = 1,
        walksPerSeed = 3, wReturn = wr, wCommon = wc, wFar = wf,
        maxWindowDegree = 0)) // pure closed form
      val slow = corpus(Graph.node2vecWalks(tri, steps = 4, seedMod = 1,
        walksPerSeed = 3, wReturn = wr, wCommon = wc, wFar = wf,
        maxWindowDegree = Int.MaxValue)) // pure window form
      assert(fast === slow, s"closed-form ≠ window at ($wr, $wc, $wf)")
      assert(fast.count(_._2 == 4) === fast.count(_._2 == 0),
        s"every walk must survive all 4 steps at ($wr, $wc, $wf)")
    }
    // planted hub: node 0 with 400 leaves plus a triangle 0-1-2 so the
    // hub visit has common candidates on both sides of prev's rank —
    // the case analysis (A/B/C legs, segment bounds) must agree with
    // the window form when a walk stands ON the hub. Threshold 3 makes
    // the HYBRID split live mid-corpus: leaf stands (deg ≤ 3) draw via
    // the window, hub stands (deg 402) via the closed form, in the
    // same step
    val hubHalf = ((1 to 400).map(i => (0L, i * 10L)) ++
      Seq((0L, 1L), (0L, 2L), (1L, 2L))).toDF("src", "dst")
    val hub = hubHalf.unionAll(hubHalf.select($"dst".as("src"), $"src".as("dst")))
    val forms = Seq(0, 3, Graph.DefaultMaxWindowDegree, Int.MaxValue).map { th =>
      corpus(Graph.node2vecWalks(hub, steps = 3, seedMod = 1,
        walksPerSeed = 2, wReturn = 1, wCommon = 2, wFar = 4,
        maxWindowDegree = th))
    }
    assert(forms.distinct.size === 1,
      "closed / hybrid(3) / hybrid(default) / window forms must all agree on the hub graph")
    assert(forms.head.nonEmpty)
  }

  test("walkCooccur ≡ brute-force window-2 skip-gram pairs; symmetric by construction") {
    // two crafted "walks" as plain frames — cooccur only reads (walk, step, node)
    val walks = Seq(
      (1L, 0, 10L), (1L, 1, 11L), (1L, 2, 12L), (1L, 3, 13L), (1L, 4, 14L),
      (2L, 0, 10L), (2L, 1, 12L)).toDF("walk", "step", "node")
    val got = Graph.walkCooccur(walks)
      .select($"center".as[Long], $"context".as[Long], $"n_pairs".as[Long])
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val rows = Seq(
      (1L, 0, 10L), (1L, 1, 11L), (1L, 2, 12L), (1L, 3, 13L), (1L, 4, 14L),
      (2L, 0, 10L), (2L, 1, 12L))
    val expect = (for {
      a <- rows; b <- rows
      if a._1 == b._1 && a._2 != b._2 && math.abs(a._2 - b._2) <= 2
    } yield (a._3, b._3)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got === expect)
    // skip-gram symmetry: every (c, x) count equals (x, c)
    got.foreach { case ((c, x), n) => assert(got((x, c)) === n) }
    // 5-step walk: 2·(4) + 2·(3) = 14 ordered pairs; 2-node walk: 2
    assert(got.values.sum === 16L)
  }

  test("betweennessSampled: hand-computed pair dependencies on path and diamond graphs") {
    import spark.implicits._
    def undirected(pairs: (Long, Long)*) =
      pairs.toDF("src", "dst").unionAll(pairs.map(_.swap).toDF("src", "dst"))
    // path 0-1-2 with a parallel 0-3-2: two shortest 0→2 paths, the
    // interior nodes split the dependency; 4 sits on no shortest path
    val edges = undirected(0L -> 1L, 1L -> 2L, 0L -> 3L, 3L -> 2L, 2L -> 4L)
    val seeds = Seq(0L, 2L).toDF("node")
    val out = Graph.betweennessSampled(edges, seeds).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(1L -> 0.5, 3L -> 0.5), s"got $out")
    // chain 0-1-2-3, seeds at the ends: every interior node carries the
    // single shortest path (σ=1 throughout)
    val chain = undirected(0L -> 1L, 1L -> 2L, 2L -> 3L)
    val out2 = Graph.betweennessSampled(chain, Seq(0L, 3L).toDF("node")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out2 === Map(1L -> 1.0, 2L -> 1.0), s"got $out2")
    // three seeds on the diamond+tail graph: contributions accumulate
    // per unordered pair (derivation in the assertions below)
    val out3 = Graph.betweennessSampled(edges, Seq(0L, 2L, 4L).toDF("node")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // (0,2): 1 and 3 get 0.5 each; (0,4): paths 0-1-2-4 and 0-3-2-4 —
    // 1 and 3 get 0.5, 2 gets 1.0; (2,4): adjacent, no interior
    assert(out3 === Map(1L -> 1.0, 3L -> 1.0, 2L -> 1.0), s"got $out3")
  }

  test("betweennessSampled: a seed SUBSET's scores are dominated by the full set's (the budget invariant)") {
    import spark.implicits._
    // the declared row's BtwSeedBudget works by SUBSETTING the seed set,
    // and pair dependencies are non-negative, so budgeted pairs ⊆ exact
    // pairs ⇒ per-node budgeted score ≤ exact score and budgeted broker
    // set ⊆ exact broker set — the direction the estimate can be wrong
    // in is pinned here; SCALE.md round 14/15 records HOW wrong the
    // ranking gets (sf0.001 identity — budget inactive; sf0.01 with 15
    // of 30 seeds: Spearman 0.66, overlap@10 0.60 — the SCALE.md table)
    val ring = (0L until 40L).map(i => (i, (i + 1) % 40))
    val edges = ring.toDF("src", "dst")
      .unionAll(ring.map(_.swap).toDF("src", "dst"))
    // subset seeds must still pair within BfsMaxHops = 3 on the ring —
    // every node vs every second node (subset pairs sit 2 hops apart)
    val all = (0L until 40L).toDF("node")             // 40 seeds
    val sub = (0L until 40L by 2).toDF("node")        // every other seed
    val full = Graph.betweennessSampled(edges, all).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val part = Graph.betweennessSampled(edges, sub).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(part.nonEmpty && part.keySet.subsetOf(full.keySet))
    part.foreach { case (node, s) =>
      assert(s <= full(node) + 1e-9, s"node $node: subset $s > full ${full(node)}")
    }
  }

  test("betweenness budget ladder (sf0.01): rank fidelity improves with budget; budget >= n is identity") {
    // the ε-cost curve of VERDICT r14 missing #3, pinned at its cheap
    // end (sf0.01: 30 mod-rule seeds, exact ≈ 18 s; the sf0.1 ladder
    // {24, 64, 128} is the SCALE.md round-15 budget sweep). All
    // inputs are md5-hash-seeded, so every number here is
    // deterministic: budget 6 keeps 9 seeds (Spearman 0.5201 vs
    // exact), the declared 24 keeps 13 (0.6645) — monotone — and a
    // budget at/above the seed count reproduces the unbudgeted scores
    // exactly.
    val d01 = "/root/testdata/sf0.01"
    def edges() = Graph.custSuppEdges(spark, d01)
    def scores(budget: Option[Int]): Map[Long, Double] = {
      val e = edges()
      val seeds = budget.map(b => Graph.btwSeedsOf(e, b)).getOrElse(
        e.select(col("src").as("node")).distinct()
          .filter(col("node") % Graph.BfsSeedMod === 0))
      Graph.betweennessSampled(e, seeds).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val exact = scores(None)
    def spearman(m: Map[Long, Double]): Double = {
      val nodes = (m.keySet ++ exact.keySet).toSeq
      def ranks(s: Map[Long, Double]): Map[Long, Double] = {
        val sorted = nodes.sortBy(n => (-s.getOrElse(n, 0.0), n))
        sorted.zipWithIndex.groupBy { case (n, _) => s.getOrElse(n, 0.0) }
          .values.flatMap { g =>
            val mean = g.map(_._2 + 1.0).sum / g.size
            g.map { case (n, _) => n -> mean }
          }.toMap
      }
      val (ra, rb) = (ranks(m), ranks(exact))
      val n = nodes.size.toDouble
      val (ma, mb) = (ra.values.sum / n, rb.values.sum / n)
      val cov = nodes.map(x => (ra(x) - ma) * (rb(x) - mb)).sum
      val sd = math.sqrt(nodes.map(x => math.pow(ra(x) - ma, 2)).sum *
        nodes.map(x => math.pow(rb(x) - mb, 2)).sum)
      if (sd == 0) 1.0 else cov / sd
    }
    val s6 = spearman(scores(Some(6)))
    val s24 = spearman(scores(Some(Graph.BtwSeedBudget)))
    assert(s6 > 0.4 && s24 > 0.6, f"budget floors: s6=$s6%.4f s24=$s24%.4f")
    assert(s6 < s24, f"rank fidelity must improve with budget: s6=$s6%.4f >= s24=$s24%.4f")
    assert(scores(Some(1000)) === exact,
      "budget at/above the seed count must be the identity")
  }
}
