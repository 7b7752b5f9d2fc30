package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.{Ckpt, SharedFrames}
import graft.core.Ckpt.TruncateSyntax
import graft.rel.Queries.rnd

/** Graph analytics over relationally-derived edge lists. The reference
  * lineage has no graph operators [LINEAGE §2.10]; this is north-star
  * EXT surface like `Dedup.connectedComponents` (the other graph op in
  * the library), here on the customer↔supplier transaction graph.
  *
  * Scale shape: each PageRank iteration is one equi-join (ranks ⋈
  * edges on src) + one keyed sum — the standard message-passing round,
  * all shuffles on the same edge key so a pre-partitioned/bucketed
  * edge table reuses its exchange. A FIXED iteration count keeps the
  * operator oracle-expressible (the DuckDB twin unrolls the same three
  * rounds as CTEs) and the lineage bounded — for open-ended iteration
  * reuse the `Ckpt.truncate`-per-round pattern of
  * `Dedup.connectedComponents` (Dedup.scala:249).
  */
object Graph {

  private val Damping = 0.85

  /** Round-16 shared edge-list memo (the `SparkEntry.scoresShared` /
    * `walksShared` convention applied to the family's common prologue):
    * every declared graph row starts by deriving one of two edge lists
    * — `custSuppEdges` (orders⋈lineitem → distinct → symmetrize) or
    * `coOrderEdges` (the quadratic-per-order pair expansion) — and
    * checkpoint-truncating its own copy. Measured at sf0.1
    * (OPTIMIZATION_r16.md change 1): ~1.1-1.4 s per build, repaid by 21 rows
    * = ~25 s of the 68.9 s family. The memo materializes each list ONCE
    * per (session, dir); the cold build is charged visibly as Bench's
    * `build_graph_edges` line (the round-11 cold-build accounting rule),
    * and every consumer reads the checkpoint. Retention is the edge
    * list itself (|E| rows, ~1 M at sf0.1). Values are identical to the
    * per-query builds — operators receive an already-truncated frame and
    * adopt it (`adoptTruncated`) instead of copying, and NEVER release a
    * frame they did not truncate (the memo's lifecycle is the registry's).
    *
    * Round-17 MEASURED AND REJECTED — memo checkpoints at the
    * session's shuffle width: SCALE.md round 17 found AQE freezes the
    * coOrder memo at 3 partitions (custSupp at 10) and the hypothesis
    * was that consumers' map stages are parallelism-capped. A
    * hash-repartition to 32 before the truncate REGRESSED the whole
    * family in the full bench (+0.5-2.2 s on 20 of 21 rows — pagerank
    * 1.63 → 3.08, bfs 1.54 → 3.71, while control rows moved ±0.3):
    * the iterative rows run many sub-second stages against the memo,
    * and 32 map partitions × 32 reduce partitions is 10× the shuffle
    * block count (guide §2.2's quadratic-blocks effect in miniature)
    * plus ~22 extra task dispatches per stage — pure overhead when
    * each partition holds ~36 k rows. Partition count must follow
    * BYTES (guide §2.2/§6), not core count: at 325 k-1.17 M edge rows
    * the AQE-coalesced 3-10 partitions were right. The single-task
    * hotspots that motivated the probe were elsewhere (scan-rooted
    * explodes and the embed_nn nested-loop — fixed separately).
    */
  private[graft] def custSuppEdgesShared(s: SparkSession, d: String): DataFrame =
    SharedFrames(s, d, "edges_cs")(Ckpt.truncate(custSuppEdges(s, d)))

  private[graft] def coOrderEdgesShared(s: SparkSession, d: String): DataFrame =
    SharedFrames(s, d, "edges_co")(Ckpt.truncate(coOrderEdges(s, d)))

  /** Release both memoized edge lists. */
  def releaseSharedEdges(): Unit = SharedFrames.release("edges_cs", "edges_co")

  /** Adopt an already-truncated edge frame (the shared memo) or
    * truncate a derived one. The flag says whether THIS call site owns
    * the checkpoint — owners may release it once their rounds have
    * materialized; adopters must not (the memo outlives the query).
    */
  private def adoptTruncated(e: DataFrame): (DataFrame, Boolean) =
    if (Ckpt.isTruncated(e)) (e, false) else (Ckpt.truncate(e), true)

  /** Undirected customer↔supplier edges from co-occurrence in an order:
    * distinct (customer, supplier) pairs through orders ⋈ lineitem,
    * namespaced into one node-id space (customers even, suppliers odd).
    */
  def custSuppEdges(s: SparkSession, d: String): DataFrame = {
    val half = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    half.unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** PageRank with `iters` synchronous rounds at damping 0.85, uniform
    * init. Every node has out-degree ≥ 1 (edges are symmetrized), so
    * there is no dangling mass. Node count enters the plan as a
    * broadcast one-row aggregate, not a driver-side collect.
    *
    * Iterative-lineage hygiene (same lesson as
    * `Dedup.connectedComponents`): the per-round frames are
    * `Ckpt.truncate`d so each round plans against a constant-size
    * tree and downstream actions never re-derive earlier rounds —
    * WITHOUT this, a 349-node / 3-round run spent 6.3 s in repeated
    * analysis/planning of the unrolled lineage (SCALE.md round 5); with
    * it, 2.2 s. `Ckpt.truncate` picks reliable `checkpoint()` when a
    * checkpoint dir is configured (cluster) else `localCheckpoint()`.
    * Checkpointing changes no values, so the DuckDB oracle's
    * unrolled CTEs still match.
    */
  def pageRank(edgesIn: DataFrame, iters: Int = 3): DataFrame = {
    // edges are read iters + 1 times (degrees, every round's join) —
    // materialize the derivation once instead of re-running it (or
    // adopt the shared memo's checkpoint)
    val (edges, _) = adoptTruncated(edgesIn)
    // The degree table doubles as the node set (edges are symmetrized,
    // so every node appears as src), and BOTH per-node constants — od
    // and the node count n — ride IN the rank state. Round 6: the old
    // shape kept separate checkpointed nodes/deg frames, re-joined deg
    // every round, and re-ran the n1 broadcast subquery every round —
    // on a 349-node sf0.1 graph that was most of the query's 2.8 s
    // (a job trace: ~15 sub-0.3 s scheduling-bound jobs around
    // 0.9 s of real edge-building work). Same arithmetic, same values:
    // r/od uses the same od, teleport/n the same n.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val n1 = broadcast(deg.agg(count(lit(1)).cast("double").as("n")))
    var ranks = deg.crossJoin(n1)
      .select(col("src").as("node"), col("od"), col("n"), (lit(1.0) / col("n")).as("r"))
      .truncated()
    // decimal-string complement (same discipline as ewmaHourly): the
    // Scala expression 1 - 0.85 is 0.15000000000000002, one ulp off
    // the 0.15 the oracle's 0.15e0 literal parses to — derive the
    // teleport factor through BigDecimal text so both engines run the
    // identical double
    val teleport = (BigDecimal(1) - BigDecimal(Damping.toString)).toDouble
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") / col("od")).as("c"))
      val prev = ranks
      ranks = ranks.select(col("node"), col("od"), col("n"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("od"), col("n"),
          (lit(teleport) / col("n") + lit(Damping) * coalesce(col("c"), lit(0.0))).as("r"))
        .truncated()
      // round r is materialized (eager checkpoint) — round r−1's blocks
      // are dead weight; without this, storage grows O(rounds)
      Ckpt.release(prev)
    }
    ranks.select(col("node"), rnd(col("r"), 6).as("rank"))
  }

  def pageRankQuery(s: SparkSession, d: String): DataFrame =
    pageRank(custSuppEdgesShared(s, d), iters = 3)

  /** graph_ppr — PERSONALIZED PageRank: teleport lands on a seed set
    * (node ≡ 0 mod `BfsSeedMod`, the `graph_bfs` seed rule) instead of
    * uniformly — the "importance relative to THESE nodes" ranking that
    * drives seed-based recommendation and trust propagation, where
    * global PageRank answers a different question. Same message-passing
    * skeleton as `pageRank` (one equi-join + keyed sum + project per
    * round, same node-key exchange, per-round truncate/release); the
    * only deltas are the seed-indicator teleport and the r₀ mass
    * concentrated on seeds. Seed count rides in the rank state like n
    * does in `pageRank` — no driver-side collect.
    */
  def personalizedPageRank(edgesIn: DataFrame, seedMod: Int = BfsSeedMod,
      iters: Int = 3): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val ns1 = broadcast(
      deg.filter(col("src") % seedMod === 0)
        .agg(count(lit(1)).cast("double").as("ns")))
    val seedInd = when(col("node") % seedMod === 0, lit(1.0)).otherwise(lit(0.0))
    var ranks = deg.crossJoin(ns1)
      .select(col("src").as("node"), col("od"), col("ns"))
      .select(col("node"), col("od"), col("ns"), (seedInd / col("ns")).as("r"))
      .truncated()
    val teleport = (BigDecimal(1) - BigDecimal(Damping.toString)).toDouble
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") / col("od")).as("c"))
      val prev = ranks
      ranks = ranks.select(col("node"), col("od"), col("ns"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("od"), col("ns"),
          (lit(teleport) * seedInd / col("ns") +
            lit(Damping) * coalesce(col("c"), lit(0.0))).as("r"))
        .truncated()
      Ckpt.release(prev)
    }
    ranks.select(col("node"), rnd(col("r"), 6).as("ppr"))
  }

  def pprQuery(s: SparkSession, d: String): DataFrame =
    personalizedPageRank(custSuppEdgesShared(s, d))

  /** graph_conn_comp — fixed-round connected components by synchronous
    * min-label propagation: every node starts as its own component;
    * each round it takes the min of its own and its neighbors' labels.
    * `CcRounds` rounds keep the row oracle-expressible (the
    * `graph_bfs`/`graph_kcore` fixed-round discipline — label reach
    * grows one hop per round, the spec pins the semantics); the
    * PRODUCTION loop-to-fixpoint form with pointer-jumping (doubling,
    * not one-hop) is `Dedup.connectedComponents`, which this row's
    * fixture-scale twin certifies. Per round: one edge⋈labels equi-join
    * + one min aggregate on the reused node-key exchange;
    * truncate/release per round.
    */
  def connCompRounds(edgesIn: DataFrame, rounds: Int = CcRounds): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    var lbl = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("comp")).truncated()
    for (_ <- 1 to rounds) {
      val msgs = edges.join(lbl.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("comp"))
      val prev = lbl
      lbl = lbl.unionAll(msgs)
        .groupBy("node").agg(min("comp").as("comp"))
        .truncated()
      Ckpt.release(prev)
    }
    lbl
  }

  def connCompQuery(s: SparkSession, d: String): DataFrame =
    connCompRounds(custSuppEdgesShared(s, d))

  /** graph_cc_fixpoint — TRUE-fixpoint connected components (round 9):
    * the PRODUCTION loop-to-convergence CC with pointer jumping
    * (`Dedup.connectedComponents` — neighbor-min + path halving per
    * round, O(log diameter) rounds, convergence observed during the
    * checkpoint job), declared and HASH-GATED as a graph row over the
    * customer↔supplier graph. Until round 9 that machinery was only
    * fixture-certified via the fixed-round row's spec twin; this row
    * puts the real fixpoint under the DuckDB oracle, the
    * `graph_kcore_fixpoint` conversion's precedent: the fixpoint ≡ ANY
    * unrolled one-hop min-label depth ≥ the convergence depth
    * (converged rounds are no-ops; min-label's fixed point is unique,
    * so the JUMP steps change the round count, never the answer).
    * Measured one-hop convergence depth on this graph: 2/3/4 rounds at
    * sf0.001/0.01/0.1 — the oracle unrolls 8 (double margin). Output =
    * (node, comp = min node id in the component), one row per node.
    */
  def ccFixpointQuery(s: SparkSession, d: String): DataFrame =
    graft.llm.Dedup.connectedComponents(
      custSuppEdgesShared(s, d).filter(col("src") < col("dst"))
        .select(col("src").as("doc_id1"), col("dst").as("doc_id2")))
      .select(col("doc_id").as("node"), col("cluster_id").as("comp"))

  /** graph_assortativity — degree assortativity (Newman 2002): the
    * Pearson correlation of endpoint degrees over all edges — one
    * scalar that says whether hubs attach to hubs (r > 0, social-style)
    * or to leaves (r < 0, hub-and-spoke; bipartite commerce graphs like
    * this one skew negative). Raw moments accumulate as EXACT BIGINT
    * sums (degree products fit comfortably), combined into the one
    * double formula at the edge — n·Σxy − Σx·Σy would overflow BIGINT,
    * so the COMBINATION happens in doubles over identical integer
    * inputs (deterministic both engines; the `agg_corr` discipline one
    * step later). Two degree joins on the same node key + one total
    * aggregate: nothing outlives the edge scan.
    */
  def assortativity(edgesIn: DataFrame): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    edges
      .join(deg.select(col("src"), col("d").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("dy")), "dst")
      .agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n"), rnd(
        // cast each exact BIGINT to double BEFORE combining: n·Σxy
        // overflows 64-bit as an integer product, and DuckDB would
        // error on the overflow rather than wrap
        (col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
        .as("assortativity"))
  }

  def assortativityQuery(s: SparkSession, d: String): DataFrame =
    assortativity(custSuppEdgesShared(s, d))

  /** graph_modularity — Newman modularity of the `labelProp`
    * communities: Q = Σ_c [L_c/2m − (D_c/2m)²] — THE read-out that says
    * whether the detected communities beat random wiring (Q ≈ 0) —
    * evaluated via the algebraic regrouping
    * Q = W/2m − (Σ_c D_c²)/(2m)² so BOTH accumulations are EXACT
    * BIGINTs (W = within-community directed edges, one labeled-edge
    * count; Σ D_c² from one community-keyed degree sum). Per-community
    * FLOAT terms summed across c would ride an engine-owned
    * aggregation order; two integer totals combined in one closing
    * double expression cannot. Cost on top of LPA: two label joins and
    * two keyed aggregates on the node-key exchange LPA already built.
    */
  def modularity(edgesIn: DataFrame): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    val labels = labelProp(edges).select(col("node"), col("label"))
    val lblSrc = labels.select(col("node").as("src"), col("label").as("la"))
    val lblDst = labels.select(col("node").as("dst"), col("label").as("lb"))
    val ec = edges.join(lblSrc, "src").join(lblDst, "dst")
      .agg(count(lit(1)).as("two_m"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("w"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    val dc = deg.join(lblSrc, "src")
      .groupBy(col("la")).agg(sum(col("d")).as("dcm"))
      .agg(sum(col("dcm") * col("dcm")).as("sdsq"), count(lit(1)).as("n_comm"))
    broadcast(ec).crossJoin(dc)
      .select(col("n_comm"),
        rnd(col("w").cast("double") / col("two_m") -
          col("sdsq").cast("double") /
            (col("two_m").cast("double") * col("two_m").cast("double")), 6)
          .as("modularity"))
  }

  def modularityQuery(s: SparkSession, d: String): DataFrame =
    modularity(custSuppEdgesShared(s, d))

  /** Undirected part↔part co-order edges: distinct part pairs that
    * appear in the same order (canonical p1 < p2). The quantity filter
    * keeps harness-SF density sane — it is semantics (shared with the
    * oracle), not a physical knob. Unlike `custSuppEdges` this graph is
    * NOT bipartite, so it carries triangles.
    */
  def coOrderEdges(s: SparkSession, d: String): DataFrame =
    coOrderEdgesFrom(
      Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 25)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))

  /** Co-occurrence pairing over an arbitrary (ok, pk) membership frame.
    *
    * Runtime guard (round-6, the `ts_anomaly` precedent): the self-join
    * emits C(parts, 2) pairs PER ORDER — quadratic in parts-per-order.
    * TPC-H-shaped orders hold ≤ ~7 parts, but this is the generic
    * grouping→pairs primitive, and one heavy group (a basket with 10⁵
    * items) silently turns the map stage into a 10¹⁰-row generator. A
    * group larger than `maxPerGroup` now raises a descriptive error
    * with the knob to turn instead. The count costs one window over the
    * same `ok` key the join itself shuffles by (exchange reused); heavy
    * groups that are LEGITIMATE belong on a sampled or top-k-per-group
    * reduction first, not the raw pair expansion.
    */
  private[graft] def coOrderEdgesFrom(membership: DataFrame,
      maxPerGroup: Int = 1000): DataFrame = {
    val li = membership.select(col("ok"), col("pk")).distinct()
      .withColumn("nparts",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("ok")))
      .select(col("ok"),
        when(col("nparts") > maxPerGroup,
          raise_error(concat(
            lit(s"coOrderEdges: group "), col("ok").cast("string"),
            lit(s" holds "), col("nparts").cast("string"),
            lit(s" members > maxPerGroup=$maxPerGroup — the pair expansion is " +
              "quadratic per group; sample or reduce heavy groups first"))))
          .otherwise(col("pk")).as("pk"))
    li.select(col("ok"), col("pk").as("p1"))
      .join(li.select(col("ok"), col("pk").as("p2")), "ok")
      .filter(col("p1") < col("p2"))
      .select(col("p1"), col("p2"))
      .distinct()
  }

  /** Triangle count via DEGREE-ORDERED ORIENTATION — the at-scale
    * algorithm (Cohen's MapReduce formulation / Schank-Wagner): orient
    * every edge from the lexicographically-smaller (degree, node) to the
    * larger, enumerate wedges from each node's OUT-edges only, and close
    * them against the canonical edge set. The orientation caps out-degree
    * at O(√m), so the wedge self-join — the step a naive formulation
    * explodes on hub nodes — generates O(m^1.5) rows worst-case instead
    * of Σ deg², and a social-graph hub with degree 10⁶ produces zero
    * wedges as a source unless its neighbors out-rank it. Every step is
    * an equi-join or keyed agg (shuffles on node/edge keys; no broadcast
    * of anything corpus-proportional): deg attach is two joins on the
    * node key, wedge generation shuffles oriented edges on `src`, and
    * the close is a semi-join on the (v, w) pair key. Each triangle is
    * counted exactly once — its unique apex is the min-(degree, node)
    * vertex, the only one with out-edges to both others.
    *
    * The edge list is `Ckpt.truncate`d because it feeds four
    * consumers (degrees, two orientation joins, the closing semi-join);
    * on a cluster this would be a `persist` or a materialized edge
    * table. Output is the one-row (n_edges, n_triangles) summary.
    */
  /** Degree table of an undirected (p1, p2) edge list. */
  private[graft] def degrees(edges: DataFrame): DataFrame =
    edges.select(col("p1").as("node"))
      .unionAll(edges.select(col("p2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** The (src, dst) orientation of each edge by ascending (degree, node). */
  private[graft] def orientEdges(edges: DataFrame, deg: DataFrame): DataFrame = {
    val lt = struct(col("d1"), col("p1")) < struct(col("d2"), col("p2"))
    edges
      .join(deg.select(col("node").as("p1"), col("d").as("d1")), "p1")
      .join(deg.select(col("node").as("p2"), col("d").as("d2")), "p2")
      .select(
        when(lt, col("p1")).otherwise(col("p2")).as("src"),
        when(lt, col("p2")).otherwise(col("p1")).as("dst"))
  }

  /** Out-edge wedges (src, v, w) with v < w, from the oriented edges. */
  private[graft] def wedges(oriented: DataFrame): DataFrame =
    oriented.select(col("src"), col("dst").as("v"))
      .join(oriented.select(col("src"), col("dst").as("w")), "src")
      .filter(col("v") < col("w"))

  def triangleCount(edgesIn: DataFrame): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    val oriented = orientEdges(edges, degrees(edges))
    val closed = wedges(oriented).join(
      edges, col("v") === edges("p1") && col("w") === edges("p2"), "left_semi")
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  def trianglesQuery(s: SparkSession, d: String): DataFrame =
    triangleCount(coOrderEdgesShared(s, d))

  /** graph_edge_jaccard — per-edge neighborhood similarity
    * cn/(d₁+d₂−cn−2), the graph-sparsification / community-detection
    * primitive (drop low-Jaccard edges before clustering). The
    * common-neighbor counts come from the SAME oriented triangle
    * enumeration as `triangleCount` — each closed triangle (src, v, w)
    * contributes one common neighbor to each of its three edges, so
    * the hub-safe O(m^1.5) wedge bound carries over and the output is
    * |E|-bounded (edges outside any triangle get cn = 0 via the left
    * join). Degree-1-endpoint edges have an empty neighbor union —
    * Jaccard defined 0 by the shared CASE.
    */
  def edgeJaccard(edgesIn: DataFrame): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    val deg = degrees(edges)
    val tri = wedges(orientEdges(edges, deg)).join(
      edges, col("v") === edges("p1") && col("w") === edges("p2"), "left_semi")
    val contrib = tri.select(explode(array(
        struct(least(col("src"), col("v")).as("e1"), greatest(col("src"), col("v")).as("e2")),
        struct(least(col("src"), col("w")).as("e1"), greatest(col("src"), col("w")).as("e2")),
        struct(col("v").as("e1"), col("w").as("e2")))).as("e"))
      .select(col("e.e1").as("p1"), col("e.e2").as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("cn"))
    edges.join(contrib, Seq("p1", "p2"), "left")
      .join(deg.select(col("node").as("p1"), col("d").as("d1")), "p1")
      .join(deg.select(col("node").as("p2"), col("d").as("d2")), "p2")
      .select(col("p1"), col("p2"),
        coalesce(col("cn"), lit(0L)).as("cn"),
        graft.rel.Queries.rnd(
          when(col("d1") + col("d2") - coalesce(col("cn"), lit(0L)) - 2 > 0,
            coalesce(col("cn"), lit(0L)) /
              (col("d1") + col("d2") - coalesce(col("cn"), lit(0L)) - 2))
            .otherwise(lit(0.0)), 6).as("jaccard"))
  }

  def edgeJaccardQuery(s: SparkSession, d: String): DataFrame =
    edgeJaccard(coOrderEdgesShared(s, d))

  /** graph_resource_alloc — per-edge Resource Allocation link score
    * Σ_{w ∈ CN(u,v)} 1/deg(w) (Zhou-Lü-Zhang 2009), the common-neighbor
    * index that down-weights hub intermediaries — alongside
    * `edgeJaccard` the standard cheap link-prediction / edge-strength
    * pair. RA over Adamic-Adar (1/ln deg) deliberately: the fold is
    * pure RATIONAL arithmetic (one exact-rounded division per term), so
    * the cross-engine contract needs no transcendental-function parity.
    *
    * Physical shape: the SAME oriented-wedge triangle enumeration as
    * `triangleCount`/`edgeJaccard` (hub-safe O(m^1.5) bound carries
    * over); each closed triangle contributes its third vertex as a
    * common neighbor to each of its three edges. The per-edge sum is a
    * SORTED left-to-right fold over the collected neighbor degrees
    * (sort_array + aggregate HOF ≡ DuckDB list_sort + list_transform +
    * list_sum — the `knn_regress` element-order parity contract), so
    * both engines add the identical sequence of doubles and the 6-dp
    * gate can never see a summation-order boundary. Common-neighbor
    * lists are triangle-bounded per edge, never corpus-bounded.
    */
  def resourceAlloc(edgesIn: DataFrame): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    val deg = degrees(edges)
    val tri = wedges(orientEdges(edges, deg)).join(
      edges, col("v") === edges("p1") && col("w") === edges("p2"), "left_semi")
    val contrib = tri.select(explode(array(
        struct(least(col("src"), col("v")).as("e1"),
          greatest(col("src"), col("v")).as("e2"), col("w").as("cn")),
        struct(least(col("src"), col("w")).as("e1"),
          greatest(col("src"), col("w")).as("e2"), col("v").as("cn")),
        struct(col("v").as("e1"), col("w").as("e2"), col("src").as("cn")))).as("t"))
      .select(col("t.e1").as("p1"), col("t.e2").as("p2"), col("t.cn").as("cn"))
      .join(deg.select(col("node").as("cn"), col("d").as("dcn")), "cn")
      .groupBy("p1", "p2")
      .agg(expr("aggregate(sort_array(collect_list(dcn)), 0d, (acc, x) -> acc + 1d / x)")
        .as("ra_raw"))
    edges.join(contrib, Seq("p1", "p2"), "left")
      .select(col("p1"), col("p2"),
        graft.rel.Queries.rnd(coalesce(col("ra_raw"), lit(0.0)), 6).as("ra"))
  }

  def resourceAllocQuery(s: SparkSession, d: String): DataFrame =
    resourceAlloc(coOrderEdgesShared(s, d))

  /** graph_kcore — FIXED-ROUND k-core peeling: each round drops every
    * node whose current degree is below k, plus its incident edges
    * (the standard iterative 2-core/3-core reduction that strips
    * pendant chains before community detection or triangle work). A
    * fixed round count keeps the operator oracle-expressible — the
    * DuckDB twin unrolls the same rounds as CTEs (the `graph_pagerank`
    * / `graph_label_prop` precedent); peeling to the true fixpoint is
    * the same loop run to convergence (chains longer than `rounds`
    * peel one link per round — documented fixed-round semantics, not a
    * bug). Output = surviving nodes with their degree IN the surviving
    * subgraph.
    *
    * Shape per round: one keyed degree aggregate + two semi-joins on
    * the endpoint keys — all shuffles on node/edge keys, nothing
    * corpus-proportional broadcast; rounds are `Ckpt.truncate`d so
    * round r+1 plans against a constant-size tree.
    */
  /** Declared-row constants, interpolated into the oracle strings below
    * so Spark and DuckDB read one source of truth (ADVICE r7).
    */
  private[graft] val KCoreK = 2
  private[graft] val KCoreRounds = 4
  private[graft] val BfsMaxHops = 3
  private[graft] val BfsSeedMod = 100
  /** Declared-row seed budget for `graph_harmonic` (round 13, VERDICT
    * r12 #1): inactive at sf ≤ 0.01 (3 / 30 seeds → modulus 1, rows
    * byte-identical to the uncapped history), keeps ~39/299 seeds at
    * sf0.1. Rationale at `harmonicPerSeed`.
    */
  private[graft] val HarmonicSeedBudget = 32
  private[graft] val CcRounds = 3

  def kCorePeel(edgesIn: DataFrame, k: Int = KCoreK, rounds: Int = KCoreRounds): DataFrame = {
    val (edges0, owned0) = adoptTruncated(edgesIn)
    var edges = edges0
    for (_ <- 1 to rounds) {
      val keep = degrees(edges).filter(col("d") >= k).select(col("node"))
      val prev = edges
      edges = edges
        .join(keep.withColumnRenamed("node", "p1"), Seq("p1"), "left_semi")
        .join(keep.withColumnRenamed("node", "p2"), Seq("p2"), "left_semi")
        .select(col("p1"), col("p2"))
        .truncated()
      // round 0's frame may be the shared memo — only owners release
      if (!(prev eq edges0) || owned0) Ckpt.release(prev)
    }
    degrees(edges).select(col("node"), col("d").as("core_deg"))
  }

  def kCoreQuery(s: SparkSession, d: String): DataFrame =
    kCorePeel(coOrderEdgesShared(s, d))

  /** graph_kcore_fixpoint — TRUE-fixpoint k-core: the `kCorePeel` loop
    * run to convergence instead of a declared round count — the form a
    * production peel actually runs (a pendant chain of length L needs L
    * rounds; no fixed count is right for every graph). Convergence is
    * detected by the surviving-edge count, observed DURING each round's
    * eager checkpoint materialization (the `connectedComponents`
    * Observation pattern — no extra job): peeling only removes edges,
    * so an unchanged count IS the fixpoint. Oracle-gated since round 9
    * (VERDICT r8 #5): the fixpoint equals ANY unrolled peel of depth ≥
    * the convergence depth (converged rounds are no-ops), so the twin
    * is the 6-round unrolled CTE — depth measured at 1 round on all
    * three harness SFs, 6 leaves margin. GraphSpec additionally pins ≡
    * `kCorePeel(rounds = n)` for every n ≥ the convergence depth on
    * graphs that peel deeper than the fixture. Per-round shape and the
    * `Ckpt.release` storage bound are inherited unchanged.
    */
  def kCoreFixpoint(edgesIn: DataFrame, k: Int = KCoreK, maxRounds: Int = 50): DataFrame = {
    val (edges0, owned0) = adoptTruncated(edgesIn)
    var edges = edges0
    var prevEdgeCount = -1L
    var converged = false
    var it = 0
    while (!converged && it < maxRounds) {
      val keep = degrees(edges).filter(col("d") >= k).select(col("node"))
      val obs = org.apache.spark.sql.Observation()
      val prev = edges
      edges = edges
        .join(keep.withColumnRenamed("node", "p1"), Seq("p1"), "left_semi")
        .join(keep.withColumnRenamed("node", "p2"), Seq("p2"), "left_semi")
        .select(col("p1"), col("p2"))
        .observe(obs, count(lit(1)).as("ne"))
        .truncated()
      val ne = obs.get("ne").asInstanceOf[Long]
      converged = ne == prevEdgeCount || ne == 0L
      prevEdgeCount = ne
      // round 0's frame may be the shared memo — only owners release
      if (!(prev eq edges0) || owned0) Ckpt.release(prev)
      it += 1
    }
    if (!converged)
      System.err.println(s"[graft] kCoreFixpoint hit maxRounds=$maxRounds without " +
        "converging — result is a partial peel, not the k-core")
    degrees(edges).select(col("node"), col("d").as("core_deg"))
  }

  def kCoreFixpointQuery(s: SparkSession, d: String): DataFrame =
    kCoreFixpoint(coOrderEdgesShared(s, d))

  /** graph_clustering — per-node local clustering coefficient
    * 2·t(v) / (d(v)·(d(v)−1)) (Watts-Strogatz): the fraction of a
    * node's neighbor pairs that are themselves connected — the
    * community-density diagnostic read next to `graph_degree_dist`
    * before committing to an LPA/modularity pass. Per-node triangle
    * counts come from the SAME hub-safe oriented enumeration as
    * `triangleCount` (each closed triangle credits its three
    * vertices — one explode, one keyed count), so the O(m^1.5) wedge
    * bound carries over; degree-<2 nodes are defined 0. The one
    * division is exact-rounded on identical operands cross-engine.
    */
  def clusteringCoeff(edgesIn: DataFrame): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    val deg = degrees(edges)
    val tri = wedges(orientEdges(edges, deg)).join(
      edges, col("v") === edges("p1") && col("w") === edges("p2"), "left_semi")
    val tcount = tri.select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    deg.join(tcount, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        graft.rel.Queries.rnd(
          when(col("d") >= 2,
            coalesce(col("t"), lit(0L)) * lit(2.0) / (col("d") * (col("d") - 1)))
            .otherwise(lit(0.0)), 6).as("cc"))
  }

  def clusteringQuery(s: SparkSession, d: String): DataFrame =
    clusteringCoeff(coOrderEdgesShared(s, d))

  /** graph_bfs — multi-source breadth-first hop distance, `maxHops`
    * synchronous frontier rounds: dist(source) = 0, each round relaxes
    * dist(dst) = min(dist(dst), dist(src) + 1) over all edges. The
    * reachability/radius primitive (who is within 3 hops of a seed
    * set) — seeds here are the customer nodes with custkey ≡ 0
    * (mod 50), a deterministic data-derived set. Unreached nodes are
    * absent from the output (no sentinel rows).
    *
    * Shape per round: one edges⋈frontier equi-join + one min-aggregate
    * over (node) — map-side partial min, same node-key shuffle every
    * round (one exchange partitioning reused); rounds Ckpt-truncated.
    * This is PageRank's message-passing skeleton with min instead of
    * sum, so the 100 TB story is identical.
    */
  def bfsHops(edgesIn: DataFrame, sources: DataFrame, maxHops: Int = BfsMaxHops): DataFrame = {
    val (edges, ownedEdges) = adoptTruncated(edgesIn)
    // FRONTIER expansion, not full-state re-relaxation: in unweighted
    // BFS a node's distance settles the round it first appears, so only
    // LAST round's new nodes can discover anything — joining edges
    // against the whole settled set re-expands every settled node's
    // neighborhood every round (round r cost grew with the CUMULATIVE
    // reach; graph_harmonic paid 8.5-11.7 s at sf0.1 on exactly this
    // before the same rewrite). newly = frontier-neighbors ∖ settled,
    // one anti-join; distances need no min-reagg because each node
    // enters exactly once.
    //
    // Settled state is the UNION OF PER-ROUND CHECKPOINTS (round 9):
    // each round materializes ONLY its discoveries — the previous form
    // re-checkpointed the whole cumulative frame every round, writing
    // Σ_h |B(h)| rows across the loop where this writes |B(maxHops)|
    // once; the anti-join and the final read scan the union of
    // lineage-free checkpoints, which costs the same as one big one.
    var parts = List(sources.select(col("node"), lit(0L).as("dist")).truncated())
    var frontier = parts.head
    for (h <- 1 to maxHops) {
      val settled = parts.reduce(_ unionAll _)
      val newly = edges.join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("dist"))
        .truncated()
      parts ::= newly
      frontier = newly
    }
    // eager-fold + release (round 13 — the graph_harmonic r12 discipline
    // applied family-wide): returned lazily, the union PINS every
    // round's checkpoint blocks plus the edge copy until the caller's
    // frame is GC'd (bench_detail.json measured graph_bfs leaving 14
    // resident blocksets for clearCache-immune neighbors to absorb).
    // The fold is ≤ |V| rows — one linear copy buys a bounded footprint.
    val out = Ckpt.truncate(parts.reduce(_ unionAll _))
    parts.foreach(Ckpt.release)
    if (ownedEdges) Ckpt.release(edges)
    out
  }

  def bfsQuery(s: SparkSession, d: String): DataFrame = {
    val edges = custSuppEdgesShared(s, d)
    val sources = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % BfsSeedMod === 0)
    bfsHops(edges, sources)
  }

  /** graph_betweenness — seed-pair-sampled betweenness centrality
    * (round 13): for every unordered pair of seeds (s, t) (node ≡ 0
    * mod `BfsSeedMod`, the `graph_bfs` rule) connected within
    * `BfsMaxHops`, each interior node v on a SHORTEST s-t path accrues
    * σ_sv·σ_vt / σ_st — the pair-dependency term of Brandes'
    * algorithm, summed over the sampled pair set instead of all pairs
    * (the standard source-sampling approximation; exact betweenness is
    * Θ(|V|·|E|) and never runs whole-corpus at scale). Completes the
    * centrality family: degree (local), pagerank/hits (flow), harmonic
    * (distance), betweenness (brokerage — WHO sits on the paths).
    *
    * Shape: one multi-source BFS carrying PATH COUNTS in the state —
    * `bfsHops`' frontier discipline with (seed, node) keys and a keyed
    * σ-sum per round (level-synchronous σ is exact because every
    * shortest path to a dist-h node crosses a dist-(h−1) node) — then
    * the dependency join: P(s, v) ⋈ P(t, v) on v against the seed-pair
    * frame, filtered to d₁+d₂ = d(s,t). On the bipartite cust-supp
    * graph even-id seeds sit two hops apart, so σ_st = shared-supplier
    * counts and the brokers are exactly those suppliers. Per-round
    * truncate/release; the P table is seeds × reach, the pair join is
    * bounded by seeds²·|V|.
    */
  /** Seed budget for the declared row (the `HarmonicSeedBudget`
    * mechanism): betweenness is PAIR-quadratic in the seed count — the
    * dependency join is bounded by seeds²·|V| — so the budget is the
    * knob that keeps the row result-sized at any SF (24 → ≤ 276 pairs;
    * the unbudgeted 299-seed sf0.1 form measured 3m+ Spark / 7m+ oracle
    * on ~16 k nodes × 44 k pairs). md5-u16 hash-mod refinement, exact
    * DuckDB twin; identity whenever the seed rule yields ≤ 24.
    */
  private[graft] val BtwSeedBudget = 24

  def betweennessSampled(edgesIn: DataFrame, seeds: DataFrame,
      maxHops: Int = BfsMaxHops): DataFrame = {
    // caller may hand in an already-truncated edge frame (the shared
    // memo / harmonicAllSeeds contract — NOT released here: owners only)
    val (edges, ownedEdges) = adoptTruncated(edgesIn)
    var parts = List(seeds
      .select(col("node").as("seed"), col("node"), lit(0L).as("dist"), lit(1L).as("sigma"))
      .truncated())
    var frontier = parts.head
    for (h <- 1 to maxHops) {
      val settled = parts.reduce(_ unionAll _).select(col("seed"), col("node"))
      val newly = edges
        .join(frontier.select(col("seed"), col("node").as("src"), col("sigma")), "src")
        .groupBy(col("seed"), col("dst").as("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(settled, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h.toLong).as("dist"), col("sigma"))
        .truncated()
      parts ::= newly
      frontier = newly
    }
    val p = Ckpt.truncate(parts.reduce(_ unionAll _))
    parts.foreach(Ckpt.release)
    // NOTE edges is NOT released yet: the caller's `seeds` frame may
    // derive from the edge checkpoint (betweennessQuery's does), and the
    // st join below evaluates it inside the output truncate — releasing
    // here made that read a dead checkpoint (round-13 3-SF sweep)
    // t-membership by the ACTUAL seed frame (not the declared row's mod
    // rule — a caller's fixture seeds must pair too; round-13 spec
    // caught the mod-rule filter returning an empty pair set there)
    val st = p.join(broadcast(seeds.select(col("node"))), Seq("node"), "left_semi")
      .filter(col("seed") < col("node"))
      .select(col("seed").as("s"), col("node").as("t"),
        col("dist").as("dst_d"), col("sigma").as("sigma_st"))
    val p1 = p.select(col("seed").as("s"), col("node").as("v"),
      col("dist").as("d1"), col("sigma").as("sg1"))
    val p2 = p.select(col("seed").as("t"), col("node").as("v"),
      col("dist").as("d2"), col("sigma").as("sg2"))
    val out = Ckpt.truncate(
      p1.join(p2, "v")
        .join(st, Seq("s", "t"))
        .filter(col("d1") + col("d2") === col("dst_d") &&
          col("v") =!= col("s") && col("v") =!= col("t"))
        .groupBy(col("v").as("node"))
        .agg(rnd(sum(col("sg1") * col("sg2") / col("sigma_st")), 6).as("betweenness")))
    Ckpt.release(p)
    if (ownedEdges) Ckpt.release(edges)
    out
  }

  /** The declared row's budgeted seed set over any edge frame — split
    * out (round 15, VERDICT r14 missing #3) so the SCALE.md round-15 run could
    * sweep the budget ladder {24, 64, 128} through EXACTLY the declared
    * refinement (md5-u16 hash-mod, ceil(n/budget) modulus) instead of a
    * reimplementation. Identity whenever the seed rule yields ≤ budget.
    */
  private[graft] def btwSeedsOf(edges: DataFrame, budget: Int): DataFrame = {
    val seeds0 = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % BfsSeedMod === 0)
    val n = seeds0.count()
    if (n <= budget) seeds0
    else {
      val u16 = conv(substring(md5(col("node").cast("string")), 1, 4),
        16, 10).cast("long")
      seeds0.filter(pmod(u16, lit((n + budget - 1) / budget)) === 0)
    }
  }

  def betweennessQuery(s: SparkSession, d: String): DataFrame = {
    val edges = custSuppEdgesShared(s, d)
    betweennessSampled(edges, btwSeedsOf(edges, BtwSeedBudget))
  }

  /** graph_harmonic — per-seed harmonic centrality within `BfsMaxHops`
    * hops: h(s) = Σ_{v ≠ s, d(s,v) ≤ 3} 1/d(s,v), the centrality that
    * stays finite on disconnected graphs (closeness does not). Seeds
    * follow the `graph_bfs` rule (node ≡ 0 mod `BfsSeedMod`).
    *
    * Shape: multi-source BFS with (seed, node) keyed min-relaxation
    * state — `bfsHops`'s skeleton with the seed riding in the key, so
    * the per-round exchange partitions on the same composite key every
    * round and state is |seeds|·|reach|-bounded, not all-pairs. The
    * harmonic fold is CLOSED-FORM over the exact per-distance counts
    * (n₁/1 + n₂/2 + n₃/3 — one double expression over BIGINTs), never
    * an order-dependent float sum over rows.
    *
    * `maxSeeds` (round 10, VERDICT r9 #8) — the at-scale VERIFICATION
    * practice made a knob: the sketch row (`harmonicHll`, O(|V|) state)
    * is the production path, and the exact form spot-checks it on a
    * deterministically-refined seed SAMPLE, since exact state is
    * |seeds|·|reach| (SCALE.md round 9: the uncapped exact form OOMs an 8 GiB
    * heap at 10× seed density). `maxSeeds > 0` keeps ~that many seeds
    * via hash-mod refinement — `xxhash64(node) % ceil(n/maxSeeds) = 0`,
    * deterministic and id-structure-independent (a raw `node % m`
    * refinement would alias against the seeds' own node ≡ 0 (mod
    * seedMod) structure: every such node is even, so m = 2 keeps
    * everything). Sizing the modulus costs one scalar count over the
    * seed frame. Per-seed results are INDEPENDENT (state keys on
    * (seed, node)), so capped ≡ uncapped on every kept seed —
    * GraphSpec pins this.
    *
    * Round 13 (VERDICT r12 #1): the refinement hash is the house
    * md5-u16 (`conv(substring(md5(node),1,4),16,10)` — the
    * `ts_theil_sen_sampled` idiom with an exact DuckDB twin) instead of
    * xxhash64, so the DECLARED row can pass a budget and stay
    * oracle-gated: two rounds of mechanism work did not move the
    * driver-bench number on the uncapped form (35.4 → 34.6 s while
    * quiet held ~7 s — per-round checkpoint materialization through
    * the loaded box's contended disk), so the row is now BOUNDED at
    * `HarmonicSeedBudget` seeds. At the gate SFs the budget is
    * inactive (3 / 30 seeds ≤ 32 → m = 1, row byte-identical to the
    * uncapped history); at sf0.1 it keeps ~39/299 seeds, cutting BFS
    * state — and the per-round checkpoint writes the driver bench
    * chokes on — ~7.7×. The uncapped exact form stays available to
    * probes/specs (maxSeeds = 0), and `graph_harmonic_hll` remains the
    * production 100× path.
    */
  def harmonicPerSeed(edgesIn: DataFrame, seeds: DataFrame,
      maxSeeds: Int = 0): DataFrame = {
    val seedSet =
      if (maxSeeds <= 0) seeds
      else {
        val n = seeds.count()
        if (n <= maxSeeds) seeds
        else {
          val u16 = conv(substring(md5(col("node").cast("string")), 1, 4),
            16, 10).cast("long")
          seeds.filter(pmod(u16, lit((n + maxSeeds - 1) / maxSeeds)) === 0)
        }
      }
    harmonicAllSeeds(edgesIn, seedSet)
  }

  private def harmonicAllSeeds(edgesIn: DataFrame, seeds: DataFrame): DataFrame = {
    // the declared row hands in an ALREADY-truncated edge frame (the
    // shared memo — its seed-budget count reads the checkpoint instead
    // of recomputing the orders⋈lineitem build); a second truncate
    // would materialize a duplicate copy, and releasing a frame we did
    // not truncate would kill the memo for its next consumer
    val (edges, ownedEdges) = adoptTruncated(edgesIn)
    // frontier expansion on the (seed, node) composite key — the bfsHops
    // rewrite's rationale doubled: with seeds riding in the key, the
    // full-state join's round-r cost was |seeds|·|cumulative reach|
    // (8.5-11.7 s at sf0.1); the frontier form only expands last
    // round's discoveries. Settled state is the union of per-round
    // checkpoints (round 9, the bfsHops note): each round writes ONLY
    // its discoveries instead of re-checkpointing the cumulative
    // (seed, node) frame — at sf0.1 that frame is 3.65 M rows by round
    // 3, and the old form rewrote ~7 M cumulative rows across the loop
    // for zero information.
    var parts = List(
      seeds.select(col("node").as("seed"), col("node"), lit(0L).as("dist")).truncated())
    var frontier = parts.head
    for (h <- 1 to BfsMaxHops) {
      val settled = parts.reduce(_ unionAll _)
      val newly = edges
        .join(frontier.select(col("seed"), col("node").as("src")), "src")
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(settled, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(h.toLong).as("dist"))
        .truncated()
      parts ::= newly
      frontier = newly
    }
    val folded = parts.reduce(_ unionAll _).filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("dist") === 3, 1L).otherwise(0L)).as("n3"))
      .select(col("seed"), col("n_reached"),
        rnd(col("n1") / lit(1.0) + col("n2") / lit(2.0) + col("n3") / lit(3.0), 6)
          .as("harmonic"))
    // round 12 (VERDICT r11 #1 — the driver-bench fragility): the FOLD
    // is the result (|seeds| rows); the BFS rounds are intermediate.
    // Returned lazily, the fold PINS every round's checkpoint blocks
    // until the caller's frame is GC'd — the bench's min-of-2 then holds
    // TWO generations of ~|B(maxHops)| blocks (3.65 M rows each at
    // sf0.1) across clearCache() (which never touches checkpoint
    // blocks), and under a loaded heap those MEMORY_AND_DISK blocks
    // demote so the second run re-reads the rounds from contended disk
    // — the r11 driver's 35.4 s vs 7.0 quiet on THIS row while
    // neighbors held 1.3-1.5×. Eagerly truncating the tiny fold and
    // releasing the rounds + the edge copy HERE bounds resident blocks
    // to |seeds| rows per run — the blocks live only within the run.
    val out = Ckpt.truncate(folded)
    parts.foreach(Ckpt.release)
    if (ownedEdges) Ckpt.release(edges)
    out
  }

  def harmonicQuery(s: SparkSession, d: String): DataFrame = {
    // truncate edges FIRST so both the budget's seed count and every BFS
    // round read the one checkpoint (harmonicAllSeeds releases it with
    // the rounds); the budget keeps the declared row's per-round
    // checkpoint state ~|budget|·|reach|-bounded — the r12/r13 driver-
    // bench lesson (scaladoc at harmonicPerSeed)
    val edges = custSuppEdgesShared(s, d)
    val seeds = edges.select(col("src").as("node")).distinct()
      .filter(col("node") % BfsSeedMod === 0)
    harmonicPerSeed(edges, seeds, maxSeeds = HarmonicSeedBudget)
  }

  /** graph_harmonic_hll — SKETCHED harmonic centrality
    * (HyperBall/ANF; Boldi-Vigna 2013, Palmer-Gibbons-Faloutsos ANF
    * 2002): per-node HLL neighborhood sketches replace per-seed BFS
    * state. This is the engine's 100× path for `graph_harmonic`
    * (VERDICT r8 #1 — the exact form's state is |seeds|·|reach|, and
    * with seeds ≡ 0 (mod `BfsSeedMod`) the seed count grows linearly
    * with the graph, making exact per-seed BFS effectively O(n·m/50)
    * at scale; it remains the verification twin and the oracle row).
    *
    * State here is ONE |V|-row frame per hop regardless of seed count:
    * node → (HLL sketch of its ≤ h-hop reach set, previous ball size,
    * harmonic accumulator). Per hop: one edges⋈state equi-join
    * (messages = neighbor sketches keyed to dst) + one node-keyed
    * `hll_union_agg` — HLL union is max-per-register, so the merge is
    * associative/commutative and gets map-side partial combine like
    * any sum; the exchange partitions on the same node key every
    * round (the `pageRank` skeleton). The HyperBall fold
    * harmonic(v) = Σ_{h=1..H} (|B(v,h)| − |B(v,h−1)|)/h RIDES IN THE
    * STATE (message rows carry null accumulators; `max` recovers the
    * node's own — every node is in the hop-0 state, so it's always
    * present), so each hop is exactly one Ckpt-truncated frame — no
    * separate per-hop estimate materializations. Seeds filter ONLY
    * the read-out: the sketch state never keys on seeds, which is
    * the whole point.
    *
    * Like `agg_hll`/`ann_ivf_kmeans`, deliberately NO oracle twin
    * (rows-only): DataSketches HLL internals are engine-specific.
    * Determinism still holds (fixed hash, order-independent
    * max-per-register union), and GraphSpec pins per-seed estimates
    * against exact `harmonicPerSeed` within HLL sparse-mode accuracy
    * (lgK = 10 keeps small reach sets in EXACT sparse mode — the
    * fixture/sf0.001 regime — while dense-mode relative error is
    * 1.04/√2¹⁰ ≈ 3.3 %). The DECLARED ROW runs at
    * `HarmonicHllLgK = 7` (round 14, VERDICT r13 #1): HyperBall
    * itself ships lgK 4-7 at billion-node scale, each halving of lgK
    * halves the per-round message shuffle AND the per-row sketch
    * objects the 3 `ObjectHashAggregate` hops churn through — the
    * allocation pressure behind the row's 29 s driver-bench outlier
    * at lgK 10 — and SCALE.md round 14 records the lgK 7 estimates
    * within 5.7 % of exact at sf0.001 and 2.4 % at sf0.01 (theoretical
    * dense RSE 1.04/√2⁷ ≈ 9.2 %; lgK 6 degrades to 17 %, rejected).
    * GraphSpec pins the 10 % envelope. SCALE.md round 9's harmonic
    * leg measured per-round state rows at two seed densities — O(|V|)
    * both, the scaling claim made measurable.
    */
  def harmonicHll(edgesIn: DataFrame, seedMod: Int = BfsSeedMod,
      maxHops: Int = BfsMaxHops, lgK: Int = 10): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    // state: (node, sk, cprev = |B(node, h−1)| estimate, hacc).
    // Hop-0 nodes = src ∪ dst (ADVICE r9): on non-symmetrized edge input
    // a dst-only node would otherwise have no hop-0 row, and the
    // max(cprev)/max(hacc) recovery over its (all-null-accumulator)
    // message rows would yield a null harmonic_est. All wired callers
    // pass symmetrized edges, where src ∪ dst ≡ src — output unchanged.
    var state = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
      .groupBy(col("node"))
      .agg(hll_sketch_agg(col("node"), lit(lgK)).as("sk"))
      .select(col("node"), col("sk"),
        hll_sketch_estimate(col("sk")).as("cprev"), lit(0.0).as("hacc"))
      .truncated()
    for (h <- 1 to maxHops) {
      val msgs = edges.join(state.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("sk"),
          lit(null).cast("double").as("cprev"), lit(null).cast("double").as("hacc"))
      val prev = state
      state = state.unionAll(msgs)
        .groupBy(col("node"))
        .agg(hll_union_agg(col("sk"), allowDifferentLgConfigK = false).as("sk"),
          max(col("cprev")).as("cp"), max(col("hacc")).as("ha"))
        .select(col("node"), col("sk"), hll_sketch_estimate(col("sk")).as("c"),
          col("cp"), col("ha"))
        .select(col("node"), col("sk"), col("c").as("cprev"),
          (col("ha") + (col("c") - col("cp")) / lit(h.toDouble)).as("hacc"))
        .truncated()
      Ckpt.release(prev)
    }
    val out = state.filter(col("node") % seedMod === 0)
      .select(col("node").as("seed"),
        // cprev now holds |B(node, maxHops)|; the ball includes the node
        rnd(col("cprev") - lit(1.0), 2).as("n_reached_est"),
        rnd(col("hacc"), 6).as("harmonic_est"))
      .truncated()
    Ckpt.release(state)
    out
  }

  /** Declared-row lgK for `graph_harmonic_hll` (round 14, VERDICT r13
    * #1): rationale + measured accuracy at `harmonicHll`'s scaladoc.
    */
  private[graft] val HarmonicHllLgK = 7

  def harmonicHllQuery(s: SparkSession, d: String): DataFrame =
    harmonicHll(custSuppEdgesShared(s, d), lgK = HarmonicHllLgK)

  /** graph_link_pred — common-neighbor link prediction over NON-edges:
    * the top candidate pairs at distance 2 ranked by shared-neighbor
    * count — what `edgeJaccard`/`resourceAlloc` score for pairs that
    * already ARE edges, this scores for pairs a recommender would
    * propose. (cn DESC, p1, p2) is a total order so the top-k is
    * deterministic.
    *
    * Shape: adjacency self-join on the CENTER node (each common
    * neighbor u emits its C(deg(u), 2) neighbor pairs) → one keyed
    * count → anti-join against the edge set → global top-k. The
    * expansion is quadratic PER CENTER, so the same runtime guard as
    * `coOrderEdgesFrom` raises on any center past `maxDeg` — at 100 TB
    * a hub would silently generate deg² pairs; the production move for
    * legitimate hubs is a per-center top-degree neighbor cap before
    * the pair expansion, not the raw self-join. The guard's window
    * partitions on the same center key the self-join shuffles by.
    */
  def linkPredCandidates(edgesIn: DataFrame, topK: Int = 100,
      maxDeg: Int = 1000): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    // explicit width on the center-key exchange (round 17, guide §2.5):
    // the guard window and the pair self-join both key on `u`, and AQE
    // coalesced that few-MB exchange to ~10 partitions — the Σ deg(u)²
    // wedge expansion (the row's dominant stage, 2.4 s: OPTIMIZATION_r17.md change 4)
    // then ran at a third of the session's cores. A user-specified
    // repartition pins the session's shuffle width; the window and the
    // self-join reuse it (one exchange, as before). Pair values and
    // counts are unchanged.
    val adjRaw = edges.select(col("p1").as("u"), col("p2").as("x"))
      .unionAll(edges.select(col("p2").as("u"), col("p1").as("x")))
      .repartition(graft.Session.width(edges), col("u"))
    val adj = adjRaw
      .withColumn("du", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("u")))
      .select(col("u"),
        when(col("du") > maxDeg,
          raise_error(concat(
            lit("linkPredCandidates: center "), col("u").cast("string"),
            lit(" has degree "), col("du").cast("string"),
            lit(s" > maxDeg=$maxDeg — the pair expansion is quadratic per " +
              "center; cap each hub's neighbor list first"))))
          .otherwise(col("x")).as("x"))
    val pairs = adj.select(col("u"), col("x").as("a"))
      .join(adj.select(col("u"), col("x").as("b")), "u")
      .filter(col("a") < col("b"))
      .groupBy(col("a").as("p1"), col("b").as("p2"))
      .agg(count(lit(1)).as("cn"))
    pairs.join(edges, Seq("p1", "p2"), "left_anti")
      .orderBy(col("cn").desc, col("p1"), col("p2"))
      .limit(topK)
  }

  def linkPredQuery(s: SparkSession, d: String): DataFrame =
    linkPredCandidates(coOrderEdgesShared(s, d))

  /** graph_degree_dist — the degree histogram (degree → node count) of
    * the customer↔supplier graph: the first diagnostic a graph pipeline
    * prints (skew detection BEFORE committing to an orientation or a
    * partitioning — the heavy-group guards elsewhere in this file exist
    * because of exactly the tail this query exposes). Two keyed
    * aggregations, both with map-side partials; nothing scales past the
    * edge scan.
    */
  def degreeDistQuery(s: SparkSession, d: String): DataFrame =
    custSuppEdgesShared(s, d)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))

  /** graph_label_prop — synchronous majority label propagation
    * (community detection): every node starts labeled with its own id;
    * each round it adopts the most frequent label among its neighbors,
    * ties to the SMALLEST label — the deterministic variant of LPA
    * (classic async LPA is run-order-dependent; the sync + total-order
    * tie-break here makes the fixture oracle-expressible). Two rounds
    * declared: enough to collapse the dense co-order neighborhoods
    * while keeping the unrolled oracle CTE chain shallow.
    *
    * Shape per round: one edge⋈labels equi-join, one (node, lbl) count
    * aggregate (map-side partials), one per-node argmax as
    * min(struct(-cnt, lbl)) — a two-phase hash aggregate, NO
    * row_number window sort (the `assignCells` lesson). Rounds are
    * `Ckpt.truncate`d so round r+1 plans against a constant-size tree.
    * At 100 TB: labels shuffle by node key exactly like PageRank rank
    * state; the heavy side is the edge join, same partitioning every
    * round — one exchange reused across rounds.
    */
  def labelProp(edgesIn: DataFrame, iters: Int = 2): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      val prev = labels
      labels = edges
        .join(labels.select(col("node").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("lbl"))
        .truncated()
      // no-op on round 0 (prev is a plain derived frame, not a ckpt)
      Ckpt.release(prev)
    }
    labels.select(col("node"), col("lbl").as("label"))
  }

  def labelPropQuery(s: SparkSession, d: String): DataFrame =
    labelProp(custSuppEdgesShared(s, d))

  /** Loop-to-fixpoint LPA: `labelProp` run until NO label changes,
    * convergence observed during each round's checkpoint
    * materialization (one job per round, the `connectedComponents`
    * pattern; the changed-count join keys on the same node shuffle the
    * argmax already pays). Spec-gated, NOT a declared row: synchronous
    * LPA is not guaranteed to converge — on bipartite structures (the
    * declared row's customer↔supplier graph included) the two sides
    * can swap labels forever, which is exactly why the declared row
    * pins a fixed round count. GraphSpec asserts ≡
    * `labelProp(iters = n)` for n ≥ the convergence depth on a graph
    * that does converge; the maxRounds escape warns on oscillation.
    */
  def labelPropFixpoint(edgesIn: DataFrame, maxRounds: Int = 30): DataFrame = {
    val edges = edgesIn.truncated()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    var converged = false
    var it = 0
    while (!converged && it < maxRounds) {
      val obs = org.apache.spark.sql.Observation()
      val prev = labels
      val next = edges
        .join(labels.select(col("node").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("new_lbl"))
        .join(prev.select(col("node"), col("lbl").as("old_lbl")), Seq("node"), "left")
        .select(col("node"), col("new_lbl").as("lbl"),
          (col("new_lbl") =!= coalesce(col("old_lbl"), lit(Long.MinValue))).as("chg"))
        .observe(obs, count(when(col("chg"), lit(1))).as("nChanged"))
        .truncated()
      converged = obs.get("nChanged").asInstanceOf[Long] == 0L
      labels = next.select(col("node"), col("lbl"))
      Ckpt.release(prev)
      it += 1
    }
    if (!converged)
      System.err.println(s"[graft] labelPropFixpoint hit maxRounds=$maxRounds without " +
        "converging — sync LPA can oscillate (bipartite swap); labels are the " +
        "last round's state")
    labels.select(col("node"), col("lbl").as("label"))
  }

  /** graph_bipartite_proj — one-mode projection of the bipartite
    * customer–supplier graph: supplier pairs weighted by shared
    * customers (the "also supplied by" co-occurrence network, the
    * standard first step before community detection on bipartite
    * data). Same quadratic-per-group shape as `coOrderEdges`, so the
    * same discipline: membership deduped FIRST (one (cust, supp) row
    * however many lineitems), heavy-customer guard raises before the
    * pair expansion can go quadratic, pairs canonical (s1 < s2), and
    * the weight is the pair count from the equi-join on the customer
    * key — never an all-pairs supplier join.
    *
    * Output cardinality is DATA-density-bound: this uniform generator
    * connects every supplier pair (the projection is complete at every
    * SF), where a real sparse bipartite graph projects sparsely.
    * `minShared` is the production pruning lever (keep pairs with ≥ k
    * shared neighbors — the noise floor cut every projection paper
    * applies); the declared row keeps 1 so the oracle sees the full
    * projection.
    */
  def bipartiteProjFrom(membership: DataFrame, maxPerGroup: Int = 1000,
      minShared: Long = 1L): DataFrame = {
    val m = membership.select(col("ok"), col("pk")).distinct()
      .withColumn("nm",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("ok")))
      .select(col("ok"),
        when(col("nm") > maxPerGroup,
          raise_error(concat(
            lit("bipartiteProj: group "), col("ok").cast("string"),
            lit(" holds "), col("nm").cast("string"),
            lit(s" members > maxPerGroup=$maxPerGroup — the pair expansion is " +
              "quadratic per group; sample or reduce heavy groups first"))))
          .otherwise(col("pk")).as("pk"))
    m.select(col("ok"), col("pk").as("s1"))
      .join(m.select(col("ok"), col("pk").as("s2")), "ok")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  def bipartiteProjQuery(s: SparkSession, d: String): DataFrame =
    // the (cust, supp) membership IS the decoded even-src half of the
    // symmetrized memo: ok = src/2 (customers namespaced even — exact),
    // pk = (dst-1)/2; shiftright preserves the key's integer type, and
    // bipartiteProjFrom's own distinct() is a no-op on the already-
    // distinct pairs, so the projection rows are value-identical
    bipartiteProjFrom(custSuppEdgesShared(s, d)
      .filter(col("src") % 2 === 0)
      .select(shiftright(col("src"), 1).as("ok"),
        shiftright(col("dst") - 1, 1).as("pk")))

  // ---- graph_hits: Kleinberg hubs & authorities -------------------------

  // 3 fixed rounds — the `pageRank` iteration norm; on the bipartite
  // purchase graph the hub/authority ordering is stable from round 2,
  // and each round is ~0.5 s of per-round fixed overhead at sf0.1
  private val HitsIters = 3

  /** graph_hits — Kleinberg's HITS on the DIRECTED customer→supplier
    * purchase graph (`custSuppEdges`' half, un-symmetrized): hubs =
    * customers, authorities = suppliers — the ranking pair PageRank's
    * single score cannot express on a bipartite flow. `HitsIters`
    * synchronous rounds of a = Σ h(in-edges), h = Σ a(out-edges), each
    * L1-normalized against a broadcast one-row total and 12-dp
    * edge-rounded so both engines iterate identical doubles (the
    * `events_markov_stationary` discipline); final scores rounded to 6.
    * Per round: two |E|-shuffle keyed aggregates + two one-row
    * normalizations — the `pageRank` scale shape — with per-round
    * `Ckpt.truncate` (plan-growth hygiene) and round r−1 released.
    */
  def hits(edgesIn: DataFrame, iters: Int = HitsIters): DataFrame = {
    val (edges, _) = adoptTruncated(edgesIn)
    val nh = broadcast(edges.select(col("src")).distinct()
      .agg(count(lit(1)).cast("double").as("n")))
    var h = edges.select(col("src")).distinct().crossJoin(nh)
      .select(col("src"), (lit(1.0) / col("n")).as("h")).truncated()
    var a: DataFrame = null
    // round 17 (the `markovStationary` shape applied here): truncate the
    // RAW half-round sums and derive the normalized scores as a LAZY
    // projection over the checkpoint. The old form truncated the
    // normalized frame, whose plan held the join+agg subtree TWICE (the
    // row side and the broadcast total's subquery), so every half-round
    // job evaluated its |E|-shuffle join twice. Same per-round values:
    // the total is the sum of the same materialized rows, and the
    // rnd(s/t, 12) projection is the identical expression.
    var aCk: DataFrame = null
    var hCk: DataFrame = h
    for (r <- 1 to iters) {
      val ar = Ckpt.truncate(
        edges.join(h, "src").groupBy(col("dst")).agg(sum(col("h")).as("s")))
      if (aCk != null) Ckpt.release(aCk)
      aCk = ar
      a = ar.crossJoin(broadcast(ar.agg(sum(col("s")).as("t"))))
        .select(col("dst"), rnd(col("s") / col("t"), 12).as("a"))
      val hr = Ckpt.truncate(
        edges.join(a, "dst").groupBy(col("src")).agg(sum(col("a")).as("s")))
      Ckpt.release(hCk)
      hCk = hr
      h = hr.crossJoin(broadcast(hr.agg(sum(col("s")).as("t"))))
        .select(col("src"), rnd(col("s") / col("t"), 12).as("h"))
    }
    h.select(col("src").as("node"), lit("hub").as("role"), rnd(col("h"), 6).as("score"))
      .unionAll(a.select(col("dst").as("node"), lit("authority").as("role"),
        rnd(col("a"), 6).as("score")))
  }

  def hitsQuery(s: SparkSession, d: String): DataFrame = {
    // the directed half IS the even-src slice of the symmetrized memo
    // (customers are namespaced even, so the reverse copies all carry
    // odd src) — same distinct (cust*2, supp*2+1) rows, one build
    val half = custSuppEdgesShared(s, d).filter(col("src") % 2 === 0)
    hits(half)
  }

  // ---- graph_random_walk: deterministic walk corpus ---------------------

  /** Hub-safe adjacency index (round 11, VERDICT r10 #4): per-src
    * neighbor rank `r` (1-based, dst ascending) + degree `deg`, WITHOUT
    * the `row_number().over(Window.partitionBy(src))` shape that
    * buffers and sorts one hub's whole adjacency through a single task
    * (harmless on the uniform purchase graph, a 10⁷-row single-task
    * sort on a power-law graph at 100×). `Rank.globalRank` (a
    * `Rank.prefixSum` count) instead: range-repartition on (src, dst)
    * spreads a hub across range slices, per-partition running counts +
    * prefix-summed offsets give the GLOBAL rank, and because unique
    * (src, dst) pairs of one src are contiguous in that total order,
    * r = grank − min(grank per src) + 1 is bit-identical to the window
    * form (GraphSpec pins ≡ on a planted-hub graph). The per-src
    * (base, deg) frame joins back with a SHUFFLE_HASH hint — the build
    * side is |V|-scaled (never broadcast); the probe STREAMS the hub's
    * edges through the reducer instead of sorting them (an SMJ would
    * re-buffer exactly the rows the two-pass rank just spread out).
    */
  private[graft] def adjacencyIndexed(edges: DataFrame): DataFrame = {
    val g = graft.rel.Rank.globalRank(edges, Seq(col("src"), col("dst")))
    val bases = g.groupBy(col("src"))
      .agg(min(col("grank")).as("gbase"), count(lit(1)).as("deg"))
    g.join(bases.hint("SHUFFLE_HASH"), "src")
      .select(col("src"), col("dst"),
        (col("grank") - col("gbase") + 1L).as("r"), col("deg"))
  }

  /** graph_random_walk — unbiased random-walk corpus over the purchase
    * graph: the node2vec/DeepWalk INPUT a graph-embedding trainer
    * consumes (`walksPerSeed` walks per seed node, `steps` hops;
    * the declared row keeps 1 × 4 — the oracle's constants — and a
    * production corpus runs R ≈ 10 × length 40-80, same plan shape).
    * "Random" is hash-deterministic: step s of walk w moves to
    * neighbor rank (u16 mod deg) + 1 where u16 = first 4 hex digits of
    * md5("w_s") — the `stats_bootstrap_ci` uniform trick — so the
    * corpus is reproducible run-to-run AND oracle-checkable. Walk ids
    * are node·walksPerSeed + rep (the identity node ↦ walk at R = 1,
    * so the declared row is unchanged); distinct reps draw distinct
    * hash streams. Scale shape: adjacency is indexed ONCE
    * (`adjacencyIndexed` — hub-safe two-pass, never a per-src window
    * sort), then every step is one state⋈adjacency equi-join on the
    * current node with the rank equality as a residual filter (the
    * `pageRank` round skeleton, Ckpt-truncated per step), and each
    * step's rows are written once (the `bfsHops` union-of-rounds
    * discipline). Requires symmetrized edges (every node has
    * out-degree ≥ 1 — the module invariant), unique (src, dst) pairs.
    */
  def randomWalks(edgesIn: DataFrame, steps: Int = 4,
      seedMod: Int = 20, walksPerSeed: Int = 1,
      ckptEvery: Int = 1): DataFrame = {
    require(walksPerSeed >= 1,
      s"walksPerSeed=$walksPerSeed: sequence(0, R-1) at R <= 0 runs DESCENDING " +
        "and collapses every seed onto walk ids {0, -1} — a corrupt corpus, not an empty one")
    require(ckptEvery >= 1, "ckptEvery must be >= 1")
    val (edges, ownedEdges) = adoptTruncated(edgesIn)
    val adj = adjacencyIndexed(edges).truncated()
    var state = edges.select(col("src").as("node")).distinct()
      .filter(pmod(col("node"), lit(seedMod)) === 0)
      .select(explode(sequence(lit(0L), lit(walksPerSeed - 1L))).as("rep"),
        col("node"))
      .select((col("node") * walksPerSeed + col("rep")).as("walk"),
        lit(0).as("step"), col("node"))
      .truncated()
    val acc = scala.collection.mutable.ArrayBuffer[DataFrame](state)
    for (s <- 1 to steps) {
      val u16 = conv(substring(md5(concat(col("walk").cast("string"),
        lit("_"), lit(s.toString))), 1, 4), 16, 10).cast("long")
      val next = state.join(adj, state("node") === adj("src"))
        .filter(col("r") === pmod(u16, col("deg")) + 1)
        .select(col("walk"), lit(s).as("step"), col("dst").as("node"))
      // ckptEvery > 1 (round 12, VERDICT r11 #7 — the amortization
      // probe's knob): truncate only every K-th step. Between
      // checkpoints the plan grows by one join per step AND each lazy
      // step in the output union re-evaluates its chain from the last
      // checkpoint — the probe measures where that trade breaks even
      // (SCALE.md round 12 walk-corpus table); corpus bit-identical at
      // any K (the step draw is a deterministic join off checkpointed
      // adjacency). Declared rows keep K = 1.
      state = if (s % ckptEvery == 0 || s == steps) next.truncated() else next
      acc += state
    }
    // eager-fold + release (round 13, the bfsHops note); release no-ops
    // on the un-checkpointed intermediate steps under ckptEvery > 1
    val out = Ckpt.truncate(acc.reduce(_ unionAll _))
    acc.foreach(Ckpt.release)
    Ckpt.release(adj)
    if (ownedEdges) Ckpt.release(edges)
    out
  }

  /** node2vec BIASED second-order walks (round 11, VERDICT r10 #7): the
    * production walk corpus shape — state carries the PREVIOUS node,
    * and each candidate neighbor x of the current node v is weighted by
    * node2vec's search bias: `wReturn` if x = prev (α = 1/p), `wCommon`
    * if edge(prev, x) exists (α = 1), `wFar` otherwise (α = 1/q) —
    * INTEGER weights (scale (1/p, 1, 1/q) by any common factor), so the
    * draw stays exact-integer deterministic: k = (u16 mod Σw) + 1 picks
    * the candidate whose cumulative weight interval (dst ascending)
    * contains k. With unit weights Σw = deg and cum = r, so the rule
    * DEGENERATES to the unbiased (u16 mod deg) + 1 — GraphSpec pins
    * (1,1,1) ≡ `randomWalks` bit-identically, hop 1 is unbiased in both
    * (no prev yet, node2vec's uniform first draw).
    *
    * HUB-SAFE DRAW (round 12, VERDICT r11 #2): the round-11 form
    * materialized each walk's cumulative weights through a
    * `Window.partitionBy(walk)` — deg(current) rows sorted/buffered in
    * ONE task per visit, so a walk VISITING a 10⁷-degree hub
    * reintroduced exactly the ceiling `adjacencyIndexed` removed from
    * the index build. This form derives the pick in CLOSED FORM from
    * the adjacency rank `r` instead. Along dst order, the cumulative
    * weight at rank r is
    *
    *   cum(r) = wFar·r + (wCommon−wFar)·m(r) + (wReturn−wFar)·[r ≥ r_p]
    *
    * where m(r) = |common candidates at rank ≤ r| and r_p = prev's
    * rank — a step function whose breakpoints are the SPECIAL
    * candidates (commons + prev, ≤ |N(prev) ∩ N(v)| + 1 per walk,
    * bounded by the SMALLER endpoint degree, never deg(v)). The draw
    * k = (u16 mod Σw) + 1 then resolves per walk as: (A) prev's own
    * interval, (B) some common's own interval, or (C) a far candidate
    * inside one inter-special segment, where cum is affine in r and
    * r = ⌈(k − const)/wFar⌉ solves it outright. Specials get per-walk
    * ordinals through `Rank.midranksBy` (the two-pass range exchange —
    * no per-walk window anywhere), each special emits its own-interval
    * test plus its following segment's closed-form solve, and exactly
    * one candidate accepts (the intervals tile [1, Σw] — GraphSpec
    * pins window ≡ closed-form on harness + planted-hub graphs, and
    * the declared row's oracle is unchanged). Per step this costs the
    * same state⋈adjacency candidate stream the unbiased rule pays,
    * two rank-keyed adjacency lookups (deg, r_p), the bounded
    * specials exchange, and one (walk, r)-keyed join back — every
    * per-task working set is O(specials), not O(deg).
    *
    * HYBRID DISPATCH (`maxWindowDegree`): per step, walks standing on
    * a node of degree ≤ the threshold take the WINDOW draw (cheap:
    * its buffering is exactly bounded by the threshold), walks on
    * bigger nodes take the closed form — the two draws are
    * bit-identical (GraphSpec pins both pure modes and a mid-corpus
    * threshold against each other), so the output is invariant to the
    * setting; only the physical plan changes. SCALE.md round 11 measured
    * why: on THIS 32-thread box the window form wins wall-clock
    * (10⁶-degree hub: 23 s vs 89 s — the closed form's extra fixed
    * exchanges dominate while a 10⁶-row in-task sort is still cheap),
    * but its per-task memory grows linearly with the hub degree,
    * which is the 100-TB/power-law ceiling. The default routes
    * everything the harness graphs contain through the window draw
    * and reserves the closed form for genuine hubs; 0 forces pure
    * closed form, Int.MaxValue pure window (the probe legs). The
    * per-step `isEmpty` probe on the big side costs one |walks|-row
    * job against the r = 1 adjacency slice.
    */
  def node2vecWalks(edgesIn: DataFrame, steps: Int = 4,
      seedMod: Int = 20, walksPerSeed: Int = 1,
      wReturn: Int = 1, wCommon: Int = 1, wFar: Int = 1,
      maxWindowDegree: Int = DefaultMaxWindowDegree): DataFrame = {
    require(wReturn > 0 && wCommon > 0 && wFar > 0,
      "node2vec weights must be positive integers")
    require(walksPerSeed >= 1,
      s"walksPerSeed=$walksPerSeed: must be >= 1 (the randomWalks guard)")
    val (edges, ownedEdges) = adoptTruncated(edgesIn)
    val adj = adjacencyIndexed(edges).truncated()
    val common = edges.select(col("src").as("pe_src"), col("dst").as("pe_dst"),
      lit(1).as("is_common"))
    // one upfront scalar decides whether the per-step degree split can
    // ever route anything to the closed form: a graph whose max degree
    // is under the threshold (the declared rows' graphs) pays NOTHING
    // for the hybrid — no per-step split join, no isEmpty probe
    val splitLive = maxWindowDegree > 0 && maxWindowDegree != Int.MaxValue &&
      adj.agg(max(col("deg"))).head(1).headOption
        .exists(r => !r.isNullAt(0) && r.getLong(0) > maxWindowDegree)
    var state = node2vecSeeds(edges, seedMod, walksPerSeed)
    val acc = scala.collection.mutable.ArrayBuffer[DataFrame](state)
    for (s <- 1 to steps) {
      val u16 = conv(substring(md5(concat(col("walk").cast("string"),
        lit("_"), lit(s.toString))), 1, 4), 16, 10).cast("long")
      state =
        if (s == 1)
          // first hop: no prev — node2vec draws uniformly, the unbiased rule
          state.join(adj, state("node") === adj("src"))
            .filter(col("r") === pmod(u16, col("deg")) + 1)
            .select(col("walk"), lit(s).as("step"), col("dst").as("node"),
              adj("src").as("prev"))
            .truncated()
        else if (maxWindowDegree <= 0)
          biasedStepClosed(state, adj, common, s, u16,
            wReturn, wCommon, wFar).truncated()
        else if (!splitLive)
          biasedStepWindow(state, adj, common, s, u16,
            wReturn, wCommon, wFar).truncated()
        else {
          val adjR1 = adj.filter(col("r") === 1)
            .select(col("src").as("g_src"), col("deg").as("g_deg"))
          val stDeg = state.join(adjR1, state("node") === col("g_src"))
          val big = stDeg.filter(col("g_deg") > maxWindowDegree)
            .select(col("walk"), col("step"), col("node"), col("prev"))
          val small = stDeg.filter(col("g_deg") <= maxWindowDegree)
            .select(col("walk"), col("step"), col("node"), col("prev"))
          val winNext = biasedStepWindow(small, adj, common, s, u16,
            wReturn, wCommon, wFar)
          val next =
            if (big.isEmpty) winNext
            else winNext.unionAll(biasedStepClosed(big, adj, common, s, u16,
              wReturn, wCommon, wFar))
          next.truncated()
        }
      acc += state
    }
    // eager-fold + release (round 13, the bfsHops note): the corpus is
    // one linear copy; the per-step checkpoints and the edge/adjacency
    // copies stop pinning blocks past the call
    val out = Ckpt.truncate(acc.reduce(_ unionAll _).drop("prev"))
    acc.foreach(Ckpt.release)
    Ckpt.release(adj)
    if (ownedEdges) Ckpt.release(edges)
    out
  }

  /** Degree threshold above which the hybrid biased draw switches from
    * the window form to the closed form: 10⁵ rows is a comfortable
    * in-task sort everywhere, and real power-law hubs sit well above.
    */
  val DefaultMaxWindowDegree: Int = 100000

  /** One biased step, WINDOW form: per-walk cumulative weights over the
    * candidate list — buffering bounded by the hybrid's threshold.
    */
  private def biasedStepWindow(state: DataFrame, adj: DataFrame,
      common: DataFrame, s: Int, u16: Column,
      wReturn: Int, wCommon: Int, wFar: Int): DataFrame = {
    // adj columns renamed: the hybrid's state slice already carries adj
    // lineage (the degree-split join), so a raw adj("src") reference
    // here would be ambiguous to the self-join analyzer
    val adjW = adj.select(col("src").as("w_src"), col("dst").as("w_dst"))
    val cand = state.join(adjW, col("node") === col("w_src"))
      .join(common, col("prev") === col("pe_src") &&
        col("w_dst") === col("pe_dst"), "left")
      .withColumn("w",
        when(col("w_dst") === col("prev"), lit(wReturn.toLong))
          .when(col("is_common") === 1, lit(wCommon.toLong))
          .otherwise(lit(wFar.toLong)))
    val byDst = Window.partitionBy(col("walk")).orderBy(col("w_dst"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand
      .withColumn("cum", sum(col("w")).over(byDst))
      .withColumn("tot", sum(col("w")).over(Window.partitionBy(col("walk"))))
      .filter(col("cum") - col("w") < pmod(u16, col("tot")) + 1 &&
        pmod(u16, col("tot")) + 1 <= col("cum"))
      .select(col("walk"), lit(s).as("step"), col("w_dst").as("node"),
        col("w_src").as("prev"))
  }

  /** One biased step, CLOSED form: the segment-decomposed pick (see the
    * `node2vecWalks` scaladoc) — per-task working set O(specials).
    */
  private def biasedStepClosed(state: DataFrame, adj: DataFrame,
      common: DataFrame, s: Int, u16: Column,
      wReturn: Int, wCommon: Int, wFar: Int): DataFrame = {
    val (fW, cW, rW) = (wFar.toLong, wCommon.toLong, wReturn.toLong)
    locally {
          val st = state.select(col("walk"), col("node"), col("prev"))
          // adj is consumed four times in one plan — rename per use so
          // the self-join analyzer never sees the same attribute twice
          def adjAs(p: String) = adj.select(col("src").as(s"${p}_src"),
            col("dst").as(s"${p}_dst"), col("r").as(s"${p}_r"), col("deg"))
          // per-walk degree: every node has the r = 1 adjacency row
          // (out-degree ≥ 1 is the module's symmetrized-edges invariant)
          val degW = st.join(adjAs("d").filter(col("d_r") === 1),
              st("node") === col("d_src"))
            .select(col("walk"), col("deg"))
          // prev's rank among current neighbors (exists iff the edge
          // back is present — always, on symmetrized inputs)
          val prevW = st.join(adjAs("p").drop("deg"),
              st("node") === col("p_src") && st("prev") === col("p_dst"))
            .select(col("walk"), col("p_r").as("rp"))
          // common candidates with their adjacency ranks: neighbors x
          // of node with edge(prev, x), x ≠ prev (return outranks)
          val cmn = st.join(adjAs("c").drop("deg"),
              st("node") === col("c_src"))
            .join(common, col("prev") === col("pe_src") &&
              col("c_dst") === col("pe_dst"))
            .filter(col("c_dst") =!= col("prev"))
            .select(col("walk"), col("c_r").as("g"))
          val cCnt = cmn.groupBy(col("walk")).agg(count(lit(1)).as("c"))
          val params = st.select(col("walk"))
            .join(degW, "walk")
            .join(prevW, Seq("walk"), "left")
            .join(cCnt, Seq("walk"), "left")
            .select(col("walk"), col("deg"), col("rp"),
              when(col("rp").isNotNull, 1L).otherwise(0L).as("has_p"),
              coalesce(col("c"), lit(0L)).as("c"))
            .withColumn("tot", lit(fW) * col("deg") +
              lit(cW - fW) * col("c") + lit(rW - fW) * col("has_p"))
            .withColumn("k", pmod(u16, col("tot")) + 1)
          // specials per walk: sentinel rank 0 (owns the leading
          // segment) + prev + commons, ordinal j = |specials ≤ rank|
          val specials = params.select(col("walk"), lit(0L).as("rank"),
              lit("s").as("kind"))
            .unionAll(prevW.select(col("walk"), col("rp").as("rank"),
              lit("p").as("kind")))
            .unionAll(cmn.select(col("walk"), col("g").as("rank"),
              lit("c").as("kind")))
          val ranked = specials.join(
              Rank.midranksBy(specials, col("walk"), col("rank"))
                .select(col("mr_k").as("walk"), col("mr_v").as("rank"),
                  col("mr_cum").as("j")),
              Seq("walk", "rank"))
            .truncated() // fans out to the j+1 self-join and the pick legs
          val nxtF = ranked.select(col("walk"), (col("j") - 1).as("j"),
            col("rank").as("nxt_rank"))
          // per special: commons ≤ its rank (m_seg) and the return
          // indicator at/after it — j counts sentinel + prev(≤) + commons(≤)
          val seg = ranked.join(nxtF, Seq("walk", "j"), "left")
            .join(params, "walk")
            .withColumn("after_p",
              when(col("has_p") === 1 && col("rp") <= col("rank"), 1L)
                .otherwise(0L))
            .withColumn("m_seg", col("j") - 1 - col("after_p"))
            .withColumn("nxt", coalesce(col("nxt_rank"), col("deg") + 1))
          // (A) prev's own interval: cum = F·r_p + Δc·m + Δr, width R
          val pickA = seg.filter(col("kind") === "p")
            .withColumn("cum", lit(fW) * col("rank") +
              lit(cW - fW) * col("m_seg") + lit(rW - fW))
            .filter(col("cum") - lit(rW) < col("k") && col("k") <= col("cum"))
            .select(col("walk"), col("rank").as("pick"))
          // (B) a common's own interval: width C (m_seg includes itself)
          val pickB = seg.filter(col("kind") === "c")
            .withColumn("cum", lit(fW) * col("rank") +
              lit(cW - fW) * col("m_seg") + lit(rW - fW) * col("after_p"))
            .filter(col("cum") - lit(cW) < col("k") && col("k") <= col("cum"))
            .select(col("walk"), col("rank").as("pick"))
          // (C) a far candidate in this special's following segment
          // (rank+1 .. nxt−1): cum is affine there — solve the ceil
          // directly; negative/short solves fall out of the bounds
          val pickC = seg
            .withColumn("rf", expr(s"(k - ${cW - fW} * m_seg - " +
              s"${rW - fW} * after_p + ${fW - 1}) div $fW"))
            .filter(col("rf") > col("rank") && col("rf") < col("nxt") &&
              col("rf") <= col("deg"))
            .select(col("walk"), col("rf").as("pick"))
          val picks = pickA.unionAll(pickB).unionAll(pickC)
          state.join(picks, "walk")
            .join(adjAs("f").drop("deg"),
              col("node") === col("f_src") && col("pick") === col("f_r"))
            .select(col("walk"), lit(s).as("step"), col("f_dst").as("node"),
              col("f_src").as("prev"))
    }
  }

  /** Shared seed frame for the biased-walk forms. */
  private def node2vecSeeds(edges: DataFrame, seedMod: Int,
      walksPerSeed: Int): DataFrame =
    edges.select(col("src").as("node")).distinct()
      .filter(pmod(col("node"), lit(seedMod)) === 0)
      .select(explode(sequence(lit(0L), lit(walksPerSeed - 1L))).as("rep"),
        col("node"))
      .select((col("node") * walksPerSeed + col("rep")).as("walk"),
        lit(0).as("step"), col("node"), lit(null).cast("long").as("prev"))
      .truncated()

  /** Walk corpus memoized per (session, dir) — the `minhashClusters`
    * precedent: `graph_random_walk` emits the corpus,
    * `graph_walk_cooccur` consumes it; one build instead of two. The
    * memo retains only the checkpoint-backed result (≈ |seeds|·5
    * rows). */
  def walksShared(s: SparkSession, d: String): DataFrame =
    // randomWalks eagerly folds its own result since round 13 — a
    // second truncate would duplicate the corpus blocks
    SharedFrames(s, d, "walks") {
      val w = randomWalks(custSuppEdgesShared(s, d))
      if (Ckpt.isTruncated(w)) w else Ckpt.truncate(w)
    }

  def releaseShared(): Unit = SharedFrames.release("walks")

  def randomWalkQuery(s: SparkSession, d: String): DataFrame =
    walksShared(s, d)

  /** graph_node2vec_walk — the DECLARED biased-walk row (round 11): 4
    * hops at (return, common, far) = (1, 2, 4) ≙ node2vec p = 2,
    * q = 0.5 (outward-biased, return-averse — the DFS-flavored setting
    * the paper recommends for structural roles), over the CO-ORDER part
    * graph rather than the bipartite purchase graph: bipartite graphs
    * have no common neighbors between prev and current (prev and all
    * candidates sit on the same side), so the wCommon tier would be
    * dead weight there; the co-order graph has triangles and exercises
    * all three tiers. The oracle unrolls the steps with the identical
    * per-walk cumulative-weight draw.
    */
  def node2vecWalkQuery(s: SparkSession, d: String): DataFrame = {
    val half = coOrderEdgesShared(s, d)
    val edges = half.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(half.select(col("p2").as("src"), col("p1").as("dst")))
    node2vecWalks(edges, steps = 4, seedMod = 20,
      wReturn = 1, wCommon = 2, wFar = 4)
  }

  // ---- graph_walk_cooccur: skip-gram pairs from the walk corpus ---------

  /** graph_walk_cooccur — the (center, context) skip-gram pair counts a
    * DeepWalk/node2vec trainer actually consumes: within each walk,
    * every ordered pair of positions at distance ≤ `window`. One
    * equi-join on walk_id (≤ (steps+1)·window·2 pairs per walk — linear
    * in walks, never nodes²) + one keyed count with map-side combine.
    * Reads the memoized walk corpus, so the pair table costs one join
    * beyond `graph_random_walk`.
    */
  def walkCooccur(walks: DataFrame, window: Int = 2): DataFrame =
    walks.alias("a").join(walks.alias("b"),
        col("a.walk") === col("b.walk") &&
          col("a.step") =!= col("b.step") &&
          abs(col("a.step") - col("b.step")) <= window)
      .groupBy(col("a.node").as("center"), col("b.node").as("context"))
      .agg(count(lit(1)).as("n_pairs"))

  def walkCooccurQuery(s: SparkSession, d: String): DataFrame =
    walkCooccur(walksShared(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_walk_cooccur" -> walkCooccurQuery,
    "graph_random_walk" -> randomWalkQuery,
    "graph_node2vec_walk" -> node2vecWalkQuery,
    "graph_hits" -> Ckpt.scopedQ(hitsQuery),
    "graph_bipartite_proj" -> bipartiteProjQuery,
    "graph_label_prop" -> Ckpt.scopedQ(labelPropQuery),
    "graph_degree_dist" -> degreeDistQuery,
    "graph_pagerank" -> Ckpt.scopedQ(pageRankQuery),
    "graph_triangles" -> trianglesQuery,
    "graph_edge_jaccard" -> edgeJaccardQuery,
    "graph_resource_alloc" -> resourceAllocQuery,
    "graph_kcore" -> kCoreQuery,
    // oracle-gated since round 9: the fixpoint ≡ any unrolled depth ≥
    // the convergence depth (converged rounds no-op), so the oracle is
    // the 6-round unrolled CTE; GraphSpec still pins the semantic
    // contract ≡ kCorePeel(rounds ≥ depth) on deeper-peeling graphs
    "graph_kcore_fixpoint" -> kCoreFixpointQuery,
    "graph_bfs" -> bfsQuery,
    "graph_betweenness" -> betweennessQuery,
    "graph_clustering" -> (clusteringQuery _),
    "graph_ppr" -> Ckpt.scopedQ(pprQuery),
    "graph_conn_comp" -> Ckpt.scopedQ(connCompQuery),
    // the production pointer-jumping CC run to convergence, hash-gated
    // via the unrolled-depth oracle (the graph_kcore_fixpoint precedent)
    "graph_cc_fixpoint" -> Ckpt.scopedQ(ccFixpointQuery),
    "graph_assortativity" -> Ckpt.scopedQ(assortativityQuery),
    "graph_modularity" -> Ckpt.scopedQ(modularityQuery),
    "graph_harmonic" -> harmonicQuery,
    // rows-only by design (the agg_hll precedent): DataSketches HLL
    // internals are engine-specific; GraphSpec pins vs harmonicPerSeed
    "graph_harmonic_hll" -> Ckpt.scopedQ(harmonicHllQuery),
    "graph_link_pred" -> Ckpt.scopedQ(linkPredQuery),
  )

  /** The 2-round sync-LPA chain through `l2(node, lbl)` — shared by the
    * label-prop row and the modularity read-out (argmax as row_number
    * over (count DESC, label ASC) ≡ Spark's min(struct)). */
  private val LpaCtes: String = {
    def round(i: Int): String =
      s"c$i AS (SELECT e.dst AS node, l${i - 1}.lbl, count(*) AS c " +
        s"FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node GROUP BY 1, 2), " +
        s"l$i AS (SELECT node, lbl FROM (SELECT node, lbl, " +
        "row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rk " +
        s"FROM c$i) WHERE rk = 1), "
    "eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "e AS (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw), " +
      "v AS (SELECT DISTINCT src AS node FROM e), " +
      "l0 AS (SELECT node, node AS lbl FROM v), " +
      (round(1) + round(2)).stripSuffix(", ")
  }

  /** The k-core peel unrolled to `rounds` DuckDB CTE rounds over the
    * co-order graph — shared by the fixed-round row (4 rounds) and the
    * fixpoint row (6 rounds ≥ the measured convergence depth, so the
    * unrolled result IS the fixpoint; see the registration comments).
    */
  /** Min-label propagation unrolled to `rounds` one-hop DuckDB CTE
    * rounds over the customer↔supplier graph — shared by the
    * fixed-round row (`CcRounds`) and the fixpoint row (8 rounds ≥ the
    * measured convergence depth at every harness SF). Each l_i is
    * referenced twice by its successor → MATERIALIZED (the graph_bfs
    * lesson).
    */
  private def ccUnrolledSql(rounds: Int): String = {
    def round(i: Int): String = {
      val mat = if (i < rounds) " MATERIALIZED" else ""
      s"t$i AS (SELECT node, comp FROM l${i - 1} UNION ALL " +
        s"SELECT e.dst AS node, l${i - 1}.comp FROM e " +
        s"JOIN l${i - 1} ON e.src = l${i - 1}.node), " +
        s"l$i AS$mat (SELECT node, min(comp) AS comp FROM t$i GROUP BY 1), "
    }
    "WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
      "e AS MATERIALIZED (SELECT src, dst FROM eraw UNION ALL " +
      "SELECT dst, src FROM eraw), " +
      "v AS (SELECT DISTINCT src AS node FROM e), " +
      "l0 AS MATERIALIZED (SELECT node, node AS comp FROM v), " +
      (1 to rounds).map(round).mkString.stripSuffix(", ") +
      s" SELECT node, comp FROM l$rounds"
  }

  private def kCoreUnrolledSql(rounds: Int): String = {
    def round(i: Int): String =
      s"d$i AS (SELECT node, count(*) AS d FROM (SELECT p1 AS node FROM e${i - 1} " +
        s"UNION ALL SELECT p2 FROM e${i - 1}) t GROUP BY 1), " +
        s"k$i AS (SELECT node FROM d$i WHERE d >= $KCoreK), " +
        s"e$i AS MATERIALIZED (SELECT e.p1, e.p2 FROM e${i - 1} e " +
        s"JOIN k$i a ON e.p1 = a.node JOIN k$i b ON e.p2 = b.node), "
    "WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
      "FROM lineitem WHERE l_quantity >= 25), " +
      "e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS p1, b.pk AS p2 " +
      "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
      (1 to rounds).map(round).mkString.stripSuffix(", ") +
      s" SELECT node, count(*) AS core_deg FROM (SELECT p1 AS node FROM e$rounds " +
      s"UNION ALL SELECT p2 FROM e$rounds) t GROUP BY 1"
  }

  val rawOracles: Map[String, String] = Map(
    "graph_node2vec_walk" -> {
      // the biased draw unrolled: step 1 is the unbiased (u16 mod deg)
      // rule (no prev), steps 2..4 weight candidates (1 return / 2
      // common-neighbor via a LEFT JOIN edge probe / 4 far) and pick
      // the cumulative-weight interval containing (u16 mod Σw) + 1
      def hexDigit(e: String, d: Int): String =
        s"(instr('0123456789abcdef', substr(md5($e), $d, 1)) - 1)"
      def u16(s: Int): String = {
        val e = s"walk::VARCHAR || '_$s'"
        s"(((${hexDigit(e, 1)} * 16 + ${hexDigit(e, 2)}) * 16 + " +
          s"${hexDigit(e, 3)}) * 16 + ${hexDigit(e, 4)})"
      }
      def step(s: Int): String =
        s"c$s AS (SELECT p.walk, a.src, a.dst, " +
          "CASE WHEN a.dst = p.prev THEN 1::BIGINT " +
          "WHEN ce.src IS NOT NULL THEN 2::BIGINT ELSE 4::BIGINT END AS w " +
          s"FROM w${s - 1} p JOIN adj a ON p.node = a.src " +
          "LEFT JOIN e ce ON ce.src = p.prev AND ce.dst = a.dst), " +
          s"k$s AS (SELECT *, sum(w) OVER (PARTITION BY walk ORDER BY dst " +
          "ROWS UNBOUNDED PRECEDING) AS cum, " +
          s"sum(w) OVER (PARTITION BY walk) AS tot FROM c$s), " +
          s"w$s AS MATERIALIZED (SELECT walk, $s AS step, dst AS node, src AS prev " +
          s"FROM k$s WHERE cum - w < ${u16(s)} % tot + 1 " +
          s"AND ${u16(s)} % tot + 1 <= cum), "
      "WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem WHERE l_quantity >= 25), " +
        "h AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2 " +
        "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "e AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM h " +
        "UNION ALL SELECT p2, p1 FROM h), " +
        "adj AS MATERIALIZED (SELECT src, dst, " +
        "row_number() OVER (PARTITION BY src ORDER BY dst) AS r, " +
        "count(*) OVER (PARTITION BY src) AS deg FROM e), " +
        "w0 AS MATERIALIZED (SELECT src AS walk, 0 AS step, src AS node, " +
        "NULL::BIGINT AS prev FROM (SELECT DISTINCT src FROM e) WHERE src % 20 = 0), " +
        "w1 AS MATERIALIZED (SELECT walk, 1 AS step, a.dst AS node, a.src AS prev " +
        s"FROM w0 p JOIN adj a ON p.node = a.src AND a.r = ${u16(1)} % a.deg + 1), " +
        (2 to 4).map(step).mkString.stripSuffix(", ") + " " +
        "SELECT walk, step, node FROM w0 UNION ALL SELECT walk, step, node FROM w1 " +
        "UNION ALL SELECT walk, step, node FROM w2 " +
        "UNION ALL SELECT walk, step, node FROM w3 " +
        "UNION ALL SELECT walk, step, node FROM w4"
    },

    "graph_random_walk" -> {
      // the same hash-deterministic neighbor pick, steps unrolled;
      // adjacency MATERIALIZED (referenced by every step's join)
      def hexDigit(e: String, d: Int): String =
        s"(instr('0123456789abcdef', substr(md5($e), $d, 1)) - 1)"
      def u16(s: Int): String = {
        val e = s"walk::VARCHAR || '_$s'"
        s"(((${hexDigit(e, 1)} * 16 + ${hexDigit(e, 2)}) * 16 + " +
          s"${hexDigit(e, 3)}) * 16 + ${hexDigit(e, 4)})"
      }
      def step(s: Int): String =
        s"w$s AS MATERIALIZED (SELECT walk, $s AS step, a.dst AS node " +
          s"FROM w${s - 1} p JOIN adj a ON p.node = a.src " +
          s"AND a.r = ${u16(s)} % a.deg + 1), "
      "WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS MATERIALIZED (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw), " +
        "adj AS MATERIALIZED (SELECT src, dst, " +
        "row_number() OVER (PARTITION BY src ORDER BY dst) AS r, " +
        "count(*) OVER (PARTITION BY src) AS deg FROM e), " +
        "w0 AS MATERIALIZED (SELECT src AS walk, 0 AS step, src AS node " +
        "FROM (SELECT DISTINCT src FROM e) WHERE src % 20 = 0), " +
        (1 to 4).map(step).mkString.stripSuffix(", ") + " " +
        "SELECT * FROM w0 UNION ALL SELECT * FROM w1 UNION ALL SELECT * FROM w2 " +
        "UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4"
    },

    "graph_walk_cooccur" -> {
      // the graph_random_walk CTEs verbatim, then the window-2
      // skip-gram self-join over the unioned corpus
      def hexDigit(e: String, d: Int): String =
        s"(instr('0123456789abcdef', substr(md5($e), $d, 1)) - 1)"
      def u16(s: Int): String = {
        val e = s"walk::VARCHAR || '_$s'"
        s"(((${hexDigit(e, 1)} * 16 + ${hexDigit(e, 2)}) * 16 + " +
          s"${hexDigit(e, 3)}) * 16 + ${hexDigit(e, 4)})"
      }
      def step(s: Int): String =
        s"w$s AS MATERIALIZED (SELECT walk, $s AS step, a.dst AS node " +
          s"FROM w${s - 1} p JOIN adj a ON p.node = a.src " +
          s"AND a.r = ${u16(s)} % a.deg + 1), "
      "WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS MATERIALIZED (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw), " +
        "adj AS MATERIALIZED (SELECT src, dst, " +
        "row_number() OVER (PARTITION BY src ORDER BY dst) AS r, " +
        "count(*) OVER (PARTITION BY src) AS deg FROM e), " +
        "w0 AS MATERIALIZED (SELECT src AS walk, 0 AS step, src AS node " +
        "FROM (SELECT DISTINCT src FROM e) WHERE src % 20 = 0), " +
        (1 to 4).map(step).mkString +
        "wk AS MATERIALIZED (SELECT * FROM w0 UNION ALL SELECT * FROM w1 " +
        "UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3 " +
        "UNION ALL SELECT * FROM w4) " +
        "SELECT a.node AS center, b.node AS context, count(*) AS n_pairs " +
        "FROM wk a JOIN wk b ON a.walk = b.walk AND a.step <> b.step " +
        "AND abs(a.step - b.step) <= 2 GROUP BY 1, 2"
    },

    "graph_hits" -> {
      // the same rounds unrolled; every round frame MATERIALIZED (each
      // is referenced by its normalization total AND the next join —
      // the graph_kcore inlining lesson); identical 12-dp per-round and
      // 6-dp closing rounding
      def round(r: Int): String = {
        val hPrev = if (r == 1) "h0" else s"ht${r - 1}"
        s"ar$r AS MATERIALIZED (SELECT dst, sum(h) AS s FROM e " +
          s"JOIN $hPrev ON e.src = $hPrev.src GROUP BY 1), " +
          s"at$r AS MATERIALIZED (SELECT dst, " +
          s"rnd(s / (SELECT sum(s) FROM ar$r), 12) AS a FROM ar$r), " +
          s"hr$r AS MATERIALIZED (SELECT e.src, sum(a) AS s FROM e " +
          s"JOIN at$r ON e.dst = at$r.dst GROUP BY 1), " +
          s"ht$r AS MATERIALIZED (SELECT src, " +
          s"rnd(s / (SELECT sum(s) FROM hr$r), 12) AS h FROM hr$r), "
      }
      "WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "v AS (SELECT DISTINCT src FROM e), " +
        "nn AS (SELECT count(*)::DOUBLE AS n FROM v), " +
        "h0 AS (SELECT src, 1e0 / nn.n AS h FROM v CROSS JOIN nn), " +
        (1 to HitsIters).map(round).mkString.stripSuffix(", ") + " " +
        s"SELECT src AS node, 'hub' AS role, rnd(h, 6) AS score FROM ht$HitsIters " +
        s"UNION ALL SELECT dst AS node, 'authority' AS role, rnd(a, 6) AS score " +
        s"FROM at$HitsIters"
    },

    "graph_bipartite_proj" ->
      // same dedup-first + canonical-pair + customer-key equi-join
      ("WITH m AS (SELECT DISTINCT o_custkey AS ok, l_suppkey AS pk " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey) " +
        "SELECT a.pk AS s1, b.pk AS s2, count(*) AS shared " +
        "FROM m a JOIN m b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2"),

    "graph_label_prop" ->
      (s"WITH $LpaCtes SELECT node, lbl AS label FROM l2"),

    "graph_modularity" ->
      // the same LPA chain rolled up: W = within-community directed
      // edges and ΣD_c² are EXACT BIGINTs, combined in the one double
      // expression (per-community float terms would sum in
      // engine-owned order; the algebraic regrouping needs no
      // per-community float at all)
      (s"WITH $LpaCtes, " +
        "ec AS (SELECT count(*) AS two_m, " +
        "sum(CASE WHEN la.lbl = lb.lbl THEN 1 ELSE 0 END)::BIGINT AS w " +
        "FROM e JOIN l2 la ON e.src = la.node JOIN l2 lb ON e.dst = lb.node), " +
        "dc AS (SELECT sum(dsq)::BIGINT AS sdsq, count(*) AS n_comm FROM (" +
        "SELECT l2.lbl, sum(deg.d)::BIGINT * sum(deg.d)::BIGINT AS dsq " +
        "FROM (SELECT src, count(*) AS d FROM e GROUP BY 1) deg " +
        "JOIN l2 ON deg.src = l2.node GROUP BY 1)) " +
        "SELECT n_comm, rnd(w::DOUBLE / two_m - " +
        "sdsq::DOUBLE / (two_m::DOUBLE * two_m::DOUBLE), 6) AS modularity " +
        "FROM ec, dc"),

    "graph_degree_dist" ->
      // the same symmetrized edge list as graph_pagerank's oracle
      ("WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw), " +
        "dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1) " +
        "SELECT deg, count(*) AS n_nodes FROM dg GROUP BY 1"),

    "graph_pagerank" -> {
      // the same three message-passing rounds, unrolled as CTEs
      def round(i: Int): String =
        s"c$i AS (SELECT e.dst AS node, sum(r${i - 1}.r / deg.od) AS c " +
          s"FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node " +
          "JOIN deg ON e.src = deg.src GROUP BY 1), " +
          s"r$i AS (SELECT v.node, 0.15e0 / nn.n + 0.85e0 * coalesce(c$i.c, 0e0) AS r " +
          s"FROM v CROSS JOIN nn LEFT JOIN c$i ON v.node = c$i.node), "
      "WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw), " +
        "v AS (SELECT DISTINCT src AS node FROM e), " +
        "deg AS (SELECT src, count(*) AS od FROM e GROUP BY 1), " +
        "nn AS (SELECT count(*)::DOUBLE AS n FROM v), " +
        "r0 AS (SELECT node, 1e0 / nn.n AS r FROM v CROSS JOIN nn), " +
        round(1) + round(2) +
        "c3 AS (SELECT e.dst AS node, sum(r2.r / deg.od) AS c " +
        "FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src GROUP BY 1), " +
        "r3 AS (SELECT v.node, 0.15e0 / nn.n + 0.85e0 * coalesce(c3.c, 0e0) AS r " +
        "FROM v CROSS JOIN nn LEFT JOIN c3 ON v.node = c3.node) " +
        "SELECT node, rnd(r, 6) AS rank FROM r3"
    },

    "graph_assortativity" ->
      // identical BIGINT moments; identical cast-before-combine
      ("WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw), " +
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1), " +
        "m AS (SELECT count(*) AS n, sum(a.d)::BIGINT AS sx, sum(b.d)::BIGINT AS sy, " +
        "sum(a.d * b.d)::BIGINT AS sxy, sum(a.d * a.d)::BIGINT AS sxx, " +
        "sum(b.d * b.d)::BIGINT AS syy " +
        "FROM e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src) " +
        "SELECT n, rnd((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / " +
        "sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
        "(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS assortativity " +
        "FROM m"),

    "graph_ppr" -> {
      // the same three personalized rounds unrolled (the graph_pagerank
      // oracle with the seed-indicator teleport)
      def round(i: Int): String =
        s"c$i AS (SELECT e.dst AS node, sum(r${i - 1}.r / deg.od) AS c " +
          s"FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node " +
          "JOIN deg ON e.src = deg.src GROUP BY 1), " +
          s"r$i AS (SELECT v.node, 0.15e0 * (CASE WHEN v.node % $BfsSeedMod = 0 " +
          "THEN 1e0 ELSE 0e0 END) / ns.ns + " +
          s"0.85e0 * coalesce(c$i.c, 0e0) AS r " +
          s"FROM v CROSS JOIN ns LEFT JOIN c$i ON v.node = c$i.node), "
      "WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw), " +
        "v AS (SELECT DISTINCT src AS node FROM e), " +
        "deg AS (SELECT src, count(*) AS od FROM e GROUP BY 1), " +
        s"ns AS (SELECT count(*)::DOUBLE AS ns FROM v WHERE node % $BfsSeedMod = 0), " +
        s"r0 AS (SELECT node, (CASE WHEN node % $BfsSeedMod = 0 THEN 1e0 ELSE 0e0 END) " +
        "/ ns.ns AS r FROM v CROSS JOIN ns), " +
        round(1) + round(2) + round(3).stripSuffix(", ") +
        " SELECT node, rnd(r, 6) AS ppr FROM r3"
    },

    "graph_conn_comp" -> ccUnrolledSql(CcRounds),
    // graph_cc_fixpoint's oracle: min-label one-hop propagation
    // converges at depth 2/3/4 on sf0.001/0.01/0.1 (measured); 8
    // unrolled rounds leave double margin, and converged rounds are
    // no-ops, so the unrolled result IS the pointer-jumping fixpoint
    // (unique fixed point; jumps change round count, not the answer)
    "graph_cc_fixpoint" -> ccUnrolledSql(8),

    "graph_triangles" ->
      // identical edge derivation, degree ordering, orientation, wedge
      // close — tuple comparison (d, node) is lexicographic in both
      // engines, and p1 < p2 keeps the closing join canonical
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem WHERE l_quantity >= 25), " +
        "e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2 " +
        "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "deg AS (SELECT node, count(*) AS d FROM " +
        "(SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e) t GROUP BY 1), " +
        "o AS (SELECT CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p1 ELSE e.p2 END AS src, " +
        "CASE WHEN (d1.d, e.p1) < (d2.d, e.p2) THEN e.p2 ELSE e.p1 END AS dst " +
        "FROM e JOIN deg d1 ON e.p1 = d1.node JOIN deg d2 ON e.p2 = d2.node), " +
        "wdg AS (SELECT a.dst AS v, b.dst AS w FROM o a JOIN o b " +
        "ON a.src = b.src AND a.dst < b.dst) " +
        "SELECT (SELECT count(*) FROM e) AS n_edges, " +
        "(SELECT count(*) FROM wdg JOIN e ON wdg.v = e.p1 AND wdg.w = e.p2) AS n_triangles"),

    "graph_edge_jaccard" ->
      // the oracle states the SEMANTIC definition (common neighbors via
      // the adjacency self-join) — the oriented-triangle derivation is
      // physical-only and must agree edge for edge
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem WHERE l_quantity >= 25), " +
        "e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2 " +
        "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "adj AS (SELECT p1 AS u, p2 AS x FROM e UNION ALL SELECT p2, p1 FROM e), " +
        "deg AS (SELECT u, count(*) AS d FROM adj GROUP BY 1), " +
        "cn AS (SELECT e.p1, e.p2, count(*) AS cn FROM e " +
        "JOIN adj a1 ON a1.u = e.p1 JOIN adj a2 ON a2.u = e.p2 AND a2.x = a1.x GROUP BY 1, 2) " +
        "SELECT e.p1, e.p2, coalesce(cn.cn, 0) AS cn, " +
        "rnd(CASE WHEN d1.d + d2.d - coalesce(cn.cn, 0) - 2 > 0 " +
        "THEN coalesce(cn.cn, 0) / (d1.d + d2.d - coalesce(cn.cn, 0) - 2) " +
        "ELSE 0e0 END, 6) AS jaccard " +
        "FROM e LEFT JOIN cn ON cn.p1 = e.p1 AND cn.p2 = e.p2 " +
        "JOIN deg d1 ON d1.u = e.p1 JOIN deg d2 ON d2.u = e.p2"),

    "graph_resource_alloc" ->
      // semantic definition (adjacency self-join for common neighbors);
      // the fold mirrors Spark's sort_array + aggregate HOF: sort the
      // BIGINT degrees, then sum 1/d left-to-right — identical double
      // sequence in both engines (knn_regress parity contract)
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem WHERE l_quantity >= 25), " +
        "e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2 " +
        "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "adj AS (SELECT p1 AS u, p2 AS x FROM e UNION ALL SELECT p2, p1 FROM e), " +
        "deg AS (SELECT u, count(*) AS d FROM adj GROUP BY 1), " +
        "cn AS (SELECT e.p1, e.p2, a1.x AS w FROM e " +
        "JOIN adj a1 ON a1.u = e.p1 JOIN adj a2 ON a2.u = e.p2 AND a2.x = a1.x), " +
        "ra AS (SELECT p1, p2, " +
        "list_sum(list_transform(list_sort(list(dw.d)), x -> 1e0 / x)) AS ra_raw " +
        "FROM cn JOIN deg dw ON dw.u = cn.w GROUP BY 1, 2) " +
        "SELECT e.p1, e.p2, rnd(coalesce(ra.ra_raw, 0e0), 6) AS ra " +
        "FROM e LEFT JOIN ra ON ra.p1 = e.p1 AND ra.p2 = e.p2"),

    // the peel rounds unrolled: degree over the surviving edges, keep
    // nodes with d >= 2, keep edges with both ends kept. Every e_i is
    // MATERIALIZED: DuckDB inlines plain CTEs, and each round
    // references its predecessor 3× — inlining re-evaluates the e0
    // self-join 3^rounds times and spilled a sf0.1 run to disk-full
    // (Spark's side checkpoints each round for the same reason)
    "graph_kcore" -> kCoreUnrolledSql(KCoreRounds),
    // graph_kcore_fixpoint's oracle (round-9, VERDICT r8 #5 — was
    // rows-only): the TRUE fixpoint equals ANY unrolled depth ≥ the
    // convergence depth, because converged rounds are no-ops. Measured
    // convergence on the harness co-order graph: 1 peel round at sf
    // 0.001/0.01/0.1 (the uniform generator's graph is nearly its own
    // 2-core); 6 unrolled rounds leave a 5-round margin for future
    // data generations. The SEMANTIC loop-to-convergence contract on
    // graphs with longer pendant chains stays GraphSpec's (≡
    // kCorePeel(n) for every n ≥ depth) — this oracle hash-gates the
    // declared row's data path.
    "graph_kcore_fixpoint" -> kCoreUnrolledSql(6),

    "graph_bfs" -> {
      // the same BfsMaxHops min-relaxation frontier rounds unrolled by
      // the shared constant; e and each h_i MATERIALIZED — DuckDB
      // inlines plain CTEs and every round references its predecessor
      // twice (the graph_kcore lesson). The final hop stays plain (it
      // is read once).
      def hop(i: Int): String = {
        val mat = if (i < BfsMaxHops) " MATERIALIZED" else ""
        s"t$i AS (SELECT node, dist FROM h${i - 1} UNION ALL " +
          s"SELECT e.dst AS node, h${i - 1}.dist + 1 AS dist FROM e " +
          s"JOIN h${i - 1} ON e.src = h${i - 1}.node), " +
          s"h$i AS$mat (SELECT node, min(dist) AS dist FROM t$i GROUP BY 1), "
      }
      "WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS MATERIALIZED (SELECT src, dst FROM eraw UNION ALL " +
        "SELECT dst, src FROM eraw), " +
        "v AS (SELECT DISTINCT src AS node FROM e), " +
        s"h0 AS MATERIALIZED (SELECT node, 0::BIGINT AS dist FROM v WHERE node % $BfsSeedMod = 0), " +
        (1 to BfsMaxHops).map(hop).mkString.stripSuffix(", ") +
        s" SELECT node, dist FROM h$BfsMaxHops"
    },

    "graph_betweenness" -> {
      // the σ-carrying BFS rounds unrolled (frontier = NOT EXISTS vs
      // the settled union — the graph_bfs discipline with path counts),
      // then the pair-dependency join; every fi MATERIALIZED (read by
      // the next round, the settled union, AND the dependency join).
      // Seed set carries the BtwSeedBudget md5-u16 hash-mod refinement
      // (the graph_harmonic twin); pairs with an unbudgeted t drop out
      // of the dependency join on both engines (p holds budgeted seeds
      // only), so st needs no second refinement filter.
      val btwU16 =
        "((instr('0123456789abcdef', substr(md5(node::VARCHAR), 1, 1)) - 1) * 4096 + " +
          "(instr('0123456789abcdef', substr(md5(node::VARCHAR), 2, 1)) - 1) * 256 + " +
          "(instr('0123456789abcdef', substr(md5(node::VARCHAR), 3, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substr(md5(node::VARCHAR), 4, 1)) - 1))"
      def round(i: Int): String =
        s"x$i AS (SELECT f${i - 1}.seed, e.dst AS node, " +
          s"sum(f${i - 1}.sigma)::BIGINT AS sigma " +
          s"FROM e JOIN f${i - 1} ON e.src = f${i - 1}.node GROUP BY 1, 2), " +
          s"f$i AS MATERIALIZED (SELECT seed, node, sigma FROM x$i WHERE NOT EXISTS " +
          s"(SELECT 1 FROM s${i - 1} WHERE s${i - 1}.seed = x$i.seed " +
          s"AND s${i - 1}.node = x$i.node)), " +
          s"s$i AS MATERIALIZED (SELECT * FROM s${i - 1} UNION ALL " +
          s"SELECT seed, node FROM f$i), "
      "WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS MATERIALIZED (SELECT src, dst FROM eraw UNION ALL " +
        "SELECT dst, src FROM eraw), " +
        "v AS (SELECT DISTINCT src AS node FROM e), " +
        s"sd AS (SELECT node FROM v WHERE node % $BfsSeedMod = 0), " +
        s"sm AS (SELECT CASE WHEN count(*) <= $BtwSeedBudget THEN 1 " +
        s"ELSE (count(*) + $BtwSeedBudget - 1) // $BtwSeedBudget END AS m FROM sd), " +
        "f0 AS MATERIALIZED (SELECT node AS seed, node, 1::BIGINT AS sigma " +
        s"FROM sd WHERE $btwU16 % (SELECT m FROM sm) = 0), " +
        "s0 AS MATERIALIZED (SELECT seed, node FROM f0), " +
        (1 to BfsMaxHops).map(round).mkString +
        "p AS MATERIALIZED (" +
        (0 to BfsMaxHops).map(i =>
          s"SELECT seed, node, $i::BIGINT AS dist, sigma FROM f$i")
          .mkString(" UNION ALL ") + "), " +
        s"st AS (SELECT seed AS s, node AS t, dist AS dd, sigma AS sst FROM p " +
        s"WHERE node % $BfsSeedMod = 0 AND seed < node), " +
        "dep AS (SELECT p1.node AS node, p1.sigma * p2.sigma / st.sst AS c " +
        "FROM p p1 JOIN p p2 ON p1.node = p2.node " +
        "JOIN st ON p1.seed = st.s AND p2.seed = st.t " +
        "AND p1.dist + p2.dist = st.dd " +
        "WHERE p1.node <> st.s AND p1.node <> st.t) " +
        "SELECT node, rnd(sum(c), 6) AS betweenness FROM dep GROUP BY 1"
    },

    "graph_harmonic" -> {
      // the graph_bfs hop chain with the seed in the state key; the
      // harmonic fold is the same closed-form over exact per-distance
      // counts (n1/1 + n2/2 + n3/3), one double expression per seed.
      // Round 13: the seed set carries the HarmonicSeedBudget md5-u16
      // hash-mod refinement (the ts_theil_sen_sampled instr-arithmetic
      // twin) — modulus ceil(n/budget), 1 (identity) at the gate SFs.
      def hop(i: Int): String = {
        val mat = if (i < BfsMaxHops) " MATERIALIZED" else ""
        s"t$i AS (SELECT seed, node, dist FROM h${i - 1} UNION ALL " +
          s"SELECT h.seed, e.dst AS node, h.dist + 1 AS dist FROM e " +
          s"JOIN h${i - 1} h ON e.src = h.node), " +
          s"h$i AS$mat (SELECT seed, node, min(dist) AS dist FROM t$i GROUP BY 1, 2), "
      }
      val u16 =
        "((instr('0123456789abcdef', substr(md5(node::VARCHAR), 1, 1)) - 1) * 4096 + " +
          "(instr('0123456789abcdef', substr(md5(node::VARCHAR), 2, 1)) - 1) * 256 + " +
          "(instr('0123456789abcdef', substr(md5(node::VARCHAR), 3, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substr(md5(node::VARCHAR), 4, 1)) - 1))"
      "WITH eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey), " +
        "e AS MATERIALIZED (SELECT src, dst FROM eraw UNION ALL " +
        "SELECT dst, src FROM eraw), " +
        "v AS (SELECT DISTINCT src AS node FROM e), " +
        s"s0 AS (SELECT node FROM v WHERE node % $BfsSeedMod = 0), " +
        s"sm AS (SELECT CASE WHEN count(*) <= $HarmonicSeedBudget THEN 1 " +
        s"ELSE (count(*) + $HarmonicSeedBudget - 1) // $HarmonicSeedBudget END AS m FROM s0), " +
        "h0 AS MATERIALIZED (SELECT node AS seed, node, 0::BIGINT AS dist " +
        s"FROM s0 WHERE $u16 % (SELECT m FROM sm) = 0), " +
        (1 to BfsMaxHops).map(hop).mkString.stripSuffix(", ") +
        s", f AS (SELECT seed, count(*) AS n_reached, " +
        "sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END)::BIGINT AS n1, " +
        "sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END)::BIGINT AS n2, " +
        "sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END)::BIGINT AS n3 " +
        s"FROM h$BfsMaxHops WHERE dist > 0 GROUP BY 1) " +
        "SELECT seed, n_reached, " +
        "rnd(n1 / 1.0e0 + n2 / 2.0e0 + n3 / 3.0e0, 6) AS harmonic FROM f"
    },

    "graph_link_pred" ->
      // semantic statement: center self-join pair counts, anti-join
      // against edges, (cn DESC, p1, p2) total-order top-k
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem WHERE l_quantity >= 25), " +
        "e AS MATERIALIZED (SELECT DISTINCT a.pk AS p1, b.pk AS p2 " +
        "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "adj AS (SELECT p1 AS u, p2 AS x FROM e UNION ALL SELECT p2, p1 FROM e), " +
        "p AS (SELECT a.x AS p1, b.x AS p2, count(*) AS cn FROM adj a " +
        "JOIN adj b ON a.u = b.u AND a.x < b.x GROUP BY 1, 2) " +
        "SELECT p.p1, p.p2, p.cn FROM p LEFT JOIN e " +
        "ON p.p1 = e.p1 AND p.p2 = e.p2 WHERE e.p1 IS NULL " +
        "ORDER BY p.cn DESC, p.p1, p.p2 LIMIT 100"),

    "graph_clustering" ->
      // semantic per-node triangle count (connected neighbor pairs via
      // the adjacency self-join) — the oriented enumeration is
      // physical-only and must agree node for node
      ("WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
        "FROM lineitem WHERE l_quantity >= 25), " +
        "e AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2 " +
        "FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk), " +
        "adj AS (SELECT p1 AS u, p2 AS x FROM e UNION ALL SELECT p2, p1 FROM e), " +
        "deg AS (SELECT u, count(*) AS d FROM adj GROUP BY 1), " +
        "tc AS (SELECT a1.u AS node, count(*) AS t " +
        "FROM adj a1 JOIN adj a2 ON a2.u = a1.u AND a1.x < a2.x " +
        "JOIN e ON e.p1 = a1.x AND e.p2 = a2.x GROUP BY 1) " +
        "SELECT deg.u AS node, deg.d AS degree, coalesce(tc.t, 0) AS n_tri, " +
        "rnd(CASE WHEN deg.d >= 2 " +
        "THEN coalesce(tc.t, 0) * 2e0 / (deg.d * (deg.d - 1)) " +
        "ELSE 0e0 END, 6) AS cc " +
        "FROM deg LEFT JOIN tc ON tc.node = deg.u"),
  )
}
