package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Ckpt
import graft.core.Ckpt.TruncateSyntax
import graft.core.{Distance, Knn}
import graft.functions.ArrayDistance
import graft.rel.Queries.rnd

/** Approximate-nearest-neighbor search over the embeddings table — the
  * similarity-search leg of the LLM-pipeline surface.
  *
  * Two physical strategies over one semantic (cosine-distance top-k):
  *
  *  - `cosineTopK` — exact brute force: broadcast query block × train,
  *    fused-dot cosine, bounded-heap top-k. The baseline and the oracle
  *    twin for recall measurement.
  *  - `lshBucketTopK` — random-hyperplane LSH: an 8-bit sign signature
  *    over leading dimensions buckets both sides, turning the cross join
  *    into a bucket EQUI-join (shuffle by bucket key). At 100 TB this is
  *    the difference between O(|Q|·|T|) and O(Σ_b |Q_b|·|T_b|); recall is
  *    tunable by bits/probes. Deterministic planes (coordinate axes) keep
  *    the oracle expressible — a production variant would use seeded
  *    random hyperplanes, same plan shape.
  */
object AnnSearch {

  /** 1 − cos(a,b) as ONE fused-codegen pass (round-5: the composed
    * dot/√dot·√dot form walked both arrays three times per pair in the
    * ANN hot loop). Bit-identical to the composed form and the oracle's
    * list arithmetic — same per-sum element-order folds (DistanceSpec).
    */
  def cosineDist(a: Column, b: Column): Column = ArrayDistance.cosine(a, b)

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))

  /** Exact cosine top-10 for each query vector (vec_id < 20). */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Knn.knn(e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
        k = 10, dist = cosineDist)
      .select(col("q_id"), col("t_id"), rnd(col("dist"), 6).as("dist"), col("rn"))
  }

  /** embedding_mmr — maximal-marginal-relevance diversified retrieval
    * (Carbonell-Goldstein 1998), round 10: greedily pick `MmrK` results
    * per query from the cosine top-`MmrShortlist`, each step maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈picked} sim(d,s) — the de-redundancy
    * pass a retrieval/RAG pipeline runs after ANN (a dup-heavy corpus
    * returns k copies of one page without it; this is the library's
    * near-dup machinery turned into a retrieval feature). Round 1 has
    * no picked set, so score = λ·sim(q,d) (the standard convention).
    *
    * Scale: the shortlist bounds everything downstream — the
    * corpus-scale work is the top-k (any ANN row here produces it);
    * the MMR loop touches ≤ shortlist² rows per query and runs MmrK
    * tiny join+argmax rounds, never re-reading the corpus.
    * Cross-engine: sims are written `1 − dist` in BOTH engines
    * (1 − (1 − x) is not an IEEE identity below x = 0.5, so the oracle
    * mirrors the double-negation instead of algebraically simplifying),
    * and (1 − λ) is computed — not the 0.3 literal, which differs from
    * IEEE 1 − 0.7 by one ulp. Tie-break (score DESC, t_id).
    */
  private[graft] val MmrLambda = "0.7e0"
  private[graft] val MmrK = 3
  private[graft] val MmrShortlist = 8

  def mmrSelect(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val lam = expr(MmrLambda)
    val t = e.filter(col("vec_id") >= 20)
    val cand = Knn.knn(e.filter(col("vec_id") < 10), t,
        k = MmrShortlist, dist = cosineDist)
      .select(col("q_id"), col("t_id"), (lit(1.0) - col("dist")).as("simq"))
    val tv = t.select(col("vec_id").as("t_id"), col("v"))
    val cv = cand.join(tv, "t_id")
      .select(col("q_id"), col("t_id"), col("simq"), col("v"))
    // shortlist-member pairwise sims: ≤ shortlist² rows per query
    val pair = cv.select(col("q_id"), col("t_id").as("a_id"), col("v").as("a_v"))
      .join(cv.select(col("q_id"), col("t_id").as("b_id"),
        col("simq").as("b_simq"), col("v").as("b_v")), "q_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"), col("b_simq"),
        (lit(1.0) - cosineDist(col("a_v"), col("b_v"))).as("sim"))
    var picked = cand
      .groupBy(col("q_id"))
      .agg(max_by(struct(col("t_id"), (lam * col("simq")).as("score")),
        struct((lam * col("simq")).as("s"), (-col("t_id")).as("nt"))).as("m"))
      .select(col("q_id"), col("m.t_id").as("t_id"),
        lit(1).as("rank"), col("m.score").as("score"))
    for (r <- 2 to MmrK) {
      val sel = picked.select(col("q_id"), col("t_id"))
      val scored = pair
        .join(sel.select(col("q_id"), col("t_id").as("a_id")), Seq("q_id", "a_id"))
        .join(sel.select(col("q_id"), col("t_id").as("b_id")),
          Seq("q_id", "b_id"), "left_anti")
        .groupBy(col("q_id"), col("b_id"))
        .agg(max(col("sim")).as("maxsim"), max(col("b_simq")).as("simq"))
        .select(col("q_id"), col("b_id").as("t_id"),
          (lam * col("simq") - (lit(1.0) - lam) * col("maxsim")).as("score"))
      val next = scored.groupBy(col("q_id"))
        .agg(max_by(struct(col("t_id"), col("score")),
          struct(col("score").as("s"), (-col("t_id")).as("nt"))).as("m"))
        .select(col("q_id"), col("m.t_id").as("t_id"),
          lit(r).as("rank"), col("m.score").as("score"))
      picked = picked.unionAll(next)
    }
    picked.select(col("q_id"), col("t_id"), col("rank"),
      rnd(col("score"), 6).as("score"))
  }

  /** Sign-LSH bucket expression: bit i set iff v[i] ≥ 0, i = 0..7. */
  private def bucketCol(v: Column): Column =
    (0 until 8).map(i => when(element_at(v, i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** ANN via LSH bucketing: query probes only its own bucket; top-3 by
    * cosine distance within it. Bucket equi-join replaces the cross join.
    */
  def lshBucketTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), bucketCol(col("v")).as("bucket"))
    val t = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("t_id"), col("v").as("t_v"), bucketCol(col("v")).as("bucket"))
    val pairs = broadcast(q).join(t, "bucket")
      .select(col("q_id"), col("t_id"), cosineDist(col("q_v"), col("t_v")).as("dist"))
    graft.functions.TopKAgg.knn(pairs, 3)
      .select(col("q_id"), col("t_id"), rnd(col("dist"), 6).as("dist"), col("rn"))
  }

  /** ann_range_search — RADIUS search: every train vector within cosine
    * distance ε of each query, not a fixed top-k — the dedup/recall
    * surface ("give me EVERYTHING this close") that top-k truncates.
    * Candidates come from the same sign-LSH bucket equi-join as
    * `ann_lsh_bucket` (a query probes only its own bucket), the radius
    * predicate filters on the UNROUNDED fused distance — bit-identical
    * across engines (DistanceSpec), so ε-boundary membership cannot
    * flip. At 100 TB the bucket join is the scale path: pair count is
    * Σ|bucket_q|·|bucket_t|/B, never |Q|·|T|, and buckets shuffle by
    * key like any hash join; recall beyond one bucket is the declared
    * multi-probe trade measured in SCALE.md (IVF nprobe table).
    * ε = 0.8 is data-calibrated: the synthetic embeddings are near-
    * orthogonal (same-bucket cosine distances min ≈ 0.6, median ≈ 0.89
    * at every SF), so 0.8 ≈ the 25th percentile keeps the row
    * non-vacuous at sf0.001/0.01/0.1 alike.
    */
  def rangeSearch(s: SparkSession, d: String, eps: Double = 0.8): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), bucketCol(col("v")).as("bucket"))
    val t = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("t_id"), col("v").as("t_v"), bucketCol(col("v")).as("bucket"))
    broadcast(q).join(t, "bucket")
      .select(col("q_id"), col("t_id"), cosineDist(col("q_v"), col("t_v")).as("dist"))
      .filter(col("dist") <= eps)
      .select(col("q_id"), col("t_id"), rnd(col("dist"), 6).as("dist"))
  }

  /** IVF-style ANN (L2): a deterministic coarse quantizer (every 40th
    * train vector is a centroid — a production build would run k-means;
    * the plan shape is identical and this keeps the oracle expressible),
    * train vectors assigned to their nearest centroid's cell, queries
    * probing their `nprobe`=3 nearest cells, exact top-3 within the probed
    * cells. The cell EQUI-join replaces the cross join — with C cells and
    * balanced assignment the pair count drops from |Q|·|T| to
    * |Q|·nprobe·|T|/C, and cells shuffle by key like any hash join. The
    * per-vector argmin windows are small (|T|×C rows partitioned by
    * vector); at 100 TB the assignment becomes a k=1 bounded-heap
    * aggregate, same plan as `TopKAgg`.
    */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    ivfSearch(
      q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v").as("q_v")),
      t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v").as("t_v")),
      cent = e.filter(col("vec_id") >= 20 && col("vec_id") % 40 === 0)
        .select(col("vec_id").as("c_id"), col("v").as("c_v")),
      k = 3, nprobe = 3)
  }

  /** IVF search over arbitrary (q_id, q_v) / (t_id, t_v) / (c_id, c_v)
    * frames — the transform `tools.PipelineScaleProbe` scales up.
    */
  /** (t_id, cell) nearest-centroid assignment. Argmin as
    * min(struct(dist, cell)) — lexicographic struct ordering = (dist
    * ASC, c_id ASC), identical to a row_number()=1 window but planned as
    * a two-phase hash aggregate with map-side combine: no shuffle-sort
    * of the |T|×C assignment stream (the window form measured SLOWER
    * than brute force at 100 k vectors, PipelineScaleProbe). The struct
    * is 16 bytes — vectors do NOT ride through the aggregate; t_v
    * rejoins by id afterwards (|T| rows, cheap next to the |T|×C
    * stream).
    */
  private[graft] def assignCells(t: DataFrame, cent: DataFrame): DataFrame =
    t.crossJoin(broadcast(cent))
      .select(col("t_id"), struct(
        ArrayDistance.l2(col("t_v"), col("c_v")).as("dist"),
        col("c_id").as("cell")).as("dc"))
      .groupBy(col("t_id"))
      .agg(min(col("dc")).as("m"))
      .select(col("t_id"), col("m.cell").as("cell"))

  /** (t_id, cell) nprobe-NEAREST-cells assignment — the multi-probe
    * mitigation for cell-straddling pairs (SemDeDup's documented recall
    * loss: a near-dup pair split across a cell boundary never meets in
    * a single-cell scan, but DOES meet if either vector also probes its
    * runner-up cells). Same broadcast-centroids shape as `assignCells`;
    * the per-vector reduction is the repo's bounded-heap `TopKAgg`
    * (nprobe-sized buffer, map-side combine, (dist, id) tie-break —
    * identical ordering to `assignCells`' min(struct), spec-pinned at
    * nprobe = 1), so per-vector state is nprobe entries even at
    * production cell counts — never a C-element collect. Emits nprobe
    * rows per vector; the downstream in-cell self-join's work scales
    * ~nprobe² — the price of the recovered recall, measured by
    * PipelineScaleProbe's semantic-straddle leg.
    */
  private[graft] def assignCellsMulti(t: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame =
    assignCellsMultiRanked(t, cent, nprobe).select(col("t_id"), col("cell"))

  /** `assignCellsMulti` with the probe rank retained (round 16): rn = 1
    * is the vector's PRIMARY cell — `TopKAgg`'s (dist, id) tie-break is
    * identical to `assignCells`' min(struct) ordering (spec-pinned at
    * nprobe = 1), so the rn = 1 slice can stand in for a separate
    * `assignCells` pass. The streamed vector funnel computes these
    * probes once per micro-batch and feeds both the semantic-dedup scan
    * (all nprobe rows) and the index append (the rn = 1 slice).
    */
  private[graft] def assignCellsMultiRanked(t: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame = {
    val pairs = t.crossJoin(broadcast(cent))
      .select(col("t_id").as("q_id"),
        ArrayDistance.l2(col("t_v"), col("c_v")).as("dist"),
        col("c_id").cast("long").as("t_id"))
    graft.functions.TopKAgg.knn(pairs, nprobe)
      .select(col("q_id").as("t_id"), col("t_id").as("cell"), col("rn"))
  }

  /** Fixed-iteration Lloyd's k-means refinement of a deterministic seed
    * centroid set (the stride centroids `ivfTopK` uses are the natural
    * seed). Each iteration: nearest-centroid assignment (`assignCells` —
    * the same two-phase min(struct) aggregate the search uses), then the
    * per-cell elementwise mean via posexplode → (cell, dim) keyed avg →
    * re-assembled array. Both shuffles key on (cell[, dim]) with map-side
    * partial aggregation — nothing global, nothing driver-side; empty
    * cells keep their previous centroid so the cell count never decays.
    * Deterministic: fixed seed, fixed iterations, no RNG — re-running
    * yields bit-identical centroids, so an IVF query over refined
    * centroids stays oracle-expressible in principle (the declared
    * `ann_ivf` row keeps the stride quantizer so its DuckDB twin stays
    * ~20 lines; AnnSearchSpec pins the refined variant's recall ≥ the
    * stride baseline at equal nprobe instead).
    *
    * Iterative-lineage hygiene (the uniform lesson from
    * `connectedComponents`/`pageRank`): each round references the
    * previous `cent` TWICE (assignment + empty-cell keep), so the lazy
    * plan would DOUBLE per iteration — every round ends in
    * `Ckpt.truncate` so planning stays constant-size and the final
    * search never re-derives earlier rounds (`checkpoint()` on a
    * cluster). Checkpointing changes no values: the refinement stays
    * deterministic (AnnSearchSpec pins two runs bit-identical).
    */
  def kmeansCentroids(t: DataFrame, seed: DataFrame, iters: Int,
      roundTo: Int = 0): DataFrame = {
    var cent = seed.select(col("c_id"), col("c_v"))
    for (i <- 0 until iters) {
      // roundTo > 0: edge-round each refined centroid coordinate so the
      // round's output is reproducible ACROSS ENGINES — what converts
      // `ann_ivf_kmeans` from rows-only to hash-gated (the
      // `events_markov_stationary` per-round 12-dp precedent). 6 dp on a
      // quantizer centroid is semantically free (cell boundaries move by
      // ≤ 1e-6) and the unrolled DuckDB twin rounds identically.
      val m0 = avg(col("x"))
      val m = if (roundTo > 0) rnd(m0, roundTo) else m0
      val means = t.join(assignCells(t, cent), "t_id")
        .select(col("cell"), posexplode(col("t_v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(m.as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("c_id"), expr("transform(pm, p -> p.m)").as("c_v"))
      val kept = cent.join(means.select(col("c_id")), Seq("c_id"), "left_anti")
      val prev = cent
      cent = means.unionByName(kept).truncated()
      // free the superseded round's checkpoint blocks — but never the
      // caller's seed (round 0): the caller owns that frame and may
      // reuse it (AnnSearchSpec runs two refinements off one seed)
      if (i > 0) Ckpt.release(prev)
    }
    cent
  }

  /** Declared query for the Lloyd-refined IVF path: same search as
    * `ivfTopK` but over `kmeansCentroids(stride seed, 2 iters)`.
    * Rows-only until this round; now HASH-GATED (the
    * `graph_kcore_fixpoint` conversion precedent): with per-round 6-dp
    * centroid rounding (`roundTo = 6`) both engines iterate identical
    * centroid arrays, so the oracle unrolls the two Lloyd rounds as
    * MATERIALIZED CTEs (assignment argmin → per-(cell, dim) rounded
    * mean → array rebuild → empty-cell carry) and chains into the
    * `ann_ivf` search tail. AnnSearchSpec still pins two runs
    * bit-identical and recall ≥ the stride row at equal nprobe.
    */
  def ivfKmeansTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v").as("t_v"))
    val seed = e.filter(col("vec_id") >= 20 && col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    ivfSearch(
      q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v").as("q_v")),
      t = t,
      cent = kmeansCentroids(t, seed, iters = 2, roundTo = 6),
      k = 3, nprobe = 3)
  }

  def ivfSearch(q: DataFrame, t: DataFrame, cent: DataFrame, k: Int, nprobe: Int): DataFrame =
    ivfSearchCells(q,
      t.join(assignCells(t, cent), "t_id").select(col("t_id"), col("t_v"), col("cell")),
      cent, k, nprobe)

  /** IVF search over an ALREADY-ASSIGNED (t_id, t_v, cell) frame — the
    * shared tail of the inline path above and the persisted-index path
    * (`loadIvfIndex`), where the assignment was computed once at build
    * time instead of per search.
    */
  private[graft] def ivfSearchCells(q: DataFrame, cells: DataFrame, cent: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pw = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("c_id"))
    val probes = q.crossJoin(broadcast(cent))
      .select(col("q_id"), col("q_v"), col("c_id"),
        ArrayDistance.l2(col("q_v"), col("c_v")).as("dist"))
      .withColumn("prn", row_number().over(pw)).filter(col("prn") <= nprobe)
      .select(col("q_id"), col("q_v"), col("c_id").as("cell"))

    // no broadcast hint: probes grow with |Q|·nprobe — Catalyst/AQE
    // size-gates the build side (small query batches still broadcast)
    val pairs = probes.join(cells, "cell")
      .select(col("q_id"), col("t_id"),
        ArrayDistance.l2(col("q_v"), col("t_v")).as("dist"))
    graft.functions.TopKAgg.knn(pairs, k)
      .select(col("q_id"), col("t_id"), rnd(col("dist"), 6).as("dist"), col("rn"))
  }

  /** PERSISTED IVF index (round 9) — build once, search many: the
    * centroid table plus the (t_id, t_v, cell) assignment written as
    * CELL-PARTITIONED parquet. A real vector-search deployment never
    * re-assigns the corpus per query batch; it materializes the index
    * and lets each search touch only the probed cells. Partitioning by
    * `cell` is the disk analogue of the cell equi-join: a search's
    * probe set names ≤ |Q|·nprobe distinct cells, so the cells⋈probes
    * join is eligible for dynamic partition pruning — at 100 TB the
    * scan reads nprobe/C of the corpus instead of all of it (and a
    * single-cell lookup prunes to ONE directory). `loadIvfIndex`
    * returns lazy frames over the files; searches compose with
    * `ivfSearch`'s exact tail, so AnnSearchSpec pins
    * save → load → search ≡ the inline path bit-for-bit.
    */
  def saveIvfIndex(t: DataFrame, cent: DataFrame, path: String): Unit = {
    t.join(assignCells(t, cent), "t_id")
      .select(col("t_id"), col("t_v"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    cent.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** APPEND new vectors to a persisted IVF index (round 11 — the ANN
    * analog of `Dedup.appendToLshIndex`, completing the incremental-
    * ingest loop for the embedding side): each new vector is assigned
    * to its nearest STORED centroid and appended to that cell's
    * partition. Centroids are deliberately NOT retrained — the standard
    * IVF append discipline (retraining invalidates every stored
    * assignment; its cadence is an offline decision), so repeated
    * appends drift cell balance, which `embedding_cell_balance` is the
    * observable for. Cost: one pass over the batch against the
    * broadcast centroid frame + a partitioned append — never touches
    * stored cells. Vector ids must be new (the `nearDupsAgainstIndex`
    * disjointness discipline).
    */
  def appendToIvfIndex(s: SparkSession, newVecs: DataFrame, path: String,
      checkIds: Boolean = true, assign: Option[DataFrame] = None): Unit = {
    // id-disjointness enforced, not assumed (round-12 ADVICE): a clash
    // would store the same t_id twice and every later search would
    // return phantom duplicates. The probe is a semi-join against the
    // stored ids — column-pruned to t_id, the one full-index read this
    // append pays for safety (batch side is the small side; AQE
    // broadcasts it). `checkIds = false` is for callers that JUST
    // established disjointness themselves (RunIngest's vec_id_new
    // anti-join) — the default keeps the guard for everyone else.
    if (checkIds) {
      val clash = s.read.parquet(s"$path/cells").select(col("t_id"))
        .join(newVecs.select(col("t_id")), Seq("t_id"), "left_semi")
      require(clash.isEmpty,
        s"appendToIvfIndex: batch t_ids already present in the index at $path " +
          "(vector ids must be new; refreshes belong to a rebuild/compaction pass)")
    }
    // `assign` (round 16): a caller that just ran the semantic-dedup
    // pass may hand the batch's PRIMARY cell assignment (the rn = 1
    // slice of `assignCellsMultiRanked` — identical tie-break to
    // `assignCells`, spec-pinned) instead of paying a second
    // batch × centroids pass. Must be a materialized (t_id, cell)
    // frame covering every id in `newVecs`; a missing id fails the
    // write fast (raise_error) rather than silently dropping the row.
    val assigned = assign match {
      case Some(a) =>
        newVecs.join(a.select(col("t_id"), col("cell")), Seq("t_id"), "left")
          .select(col("t_id"), col("t_v"),
            when(col("cell").isNull, raise_error(concat(
              lit("appendToIvfIndex: supplied assignment misses t_id "),
              col("t_id").cast("string")))).otherwise(col("cell")).as("cell"))
      case None =>
        val cent = s.read.parquet(s"$path/centroids")
        newVecs.join(assignCells(newVecs, cent), "t_id")
          .select(col("t_id"), col("t_v"), col("cell"))
    }
    assigned.write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Crash-repair for a persisted IVF index (round 13 — the vector twin
    * of `Dedup.reconcileLshIndex`): re-append exactly the `deltaVec`
    * rows missing from the stored cells. The ingest loop's vec leg
    * writes delta_vec then appends; a crash between the two leaves the
    * index one delta behind with nothing detecting it. Detection is an
    * anti-join on the cells' pruned t_id column; a healthy index pays
    * one pruned scan and writes nothing. Returns the repaired count.
    */
  def reconcileIvfIndex(s: SparkSession, deltaVec: DataFrame, path: String): Long = {
    // physical-table comparison; delta ids retracted since the crash
    // are excluded — a takedown's rows must not come back via repair
    val base = ivfTombstones(s, path).fold(deltaVec)(tomb =>
      deltaVec.join(tomb, Seq("t_id"), "left_anti"))
    val miss = base.join(
      s.read.parquet(s"$path/cells").select(col("t_id")),
      Seq("t_id"), "left_anti").persist()
    val n = miss.count()
    if (n > 0) appendToIvfIndex(s, miss, path, checkIds = false)
    miss.unpersist(blocking = false)
    n
  }

  /** The retracted-ids frame of a persisted IVF index, if any — the
    * vector twin of `Dedup`'s tombstone table.
    */
  private def ivfTombstones(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(p.toString).select(col("t_id")).distinct())
    else None
  }

  /** RETRACT vectors from a persisted IVF index (round 13 — the vector
    * twin of `Dedup.removeFromLshIndex`): appends the ids to the
    * index's tombstone table; `loadIvfIndex` (every search and the
    * ingest loop's semantic-dedup go through it) filters them from the
    * next query on. Physical deletion is `compactIvfIndex`'s job;
    * tombstoned t_ids are retired until compaction clears them.
    */
  def removeFromIvfIndex(ids: DataFrame, path: String): Unit =
    ids.select(col("t_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  /** Physically apply tombstones to the cell table (cell partitioning
    * preserved) and clear them — same sibling-write + rename-swap
    * discipline as `Dedup.compactLshIndex`. Also merges per-append
    * small files within each cell partition.
    */
  def compactIvfIndex(s: SparkSession, path: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    // repair a crashed previous swap BEFORE reading the live dir, and
    // swap with CHECKED renames (Sinks.swapIn; round-13 review — the
    // unchecked form could leave the old cells live yet clear the
    // tombstones below, resurrecting retracted vectors)
    graft.sources.Sinks.recoverSwap(fs, path, "cells")
    val live = s.read.parquet(s"$path/cells")
    val filtered = ivfTombstones(s, path).fold(live)(tomb =>
      live.join(tomb, Seq("t_id"), "left_anti"))
    filtered.select(col("t_id"), col("t_v"), col("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/.compact_cells")
    graft.sources.Sinks.swapIn(fs, path, "cells")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
  }

  def loadIvfIndex(s: SparkSession, path: String): (DataFrame, DataFrame) = {
    val cells0 = s.read.parquet(s"$path/cells")
      .select(col("t_id"), col("t_v"), col("cell").cast("long"))
    // retraction-aware: searches and the ingest loop must not see
    // tombstoned vectors (takedown semantics — removeFromIvfIndex)
    val cells = ivfTombstones(s, path).fold(cells0)(tomb =>
      cells0.join(tomb, Seq("t_id"), "left_anti"))
    val cent = s.read.parquet(s"$path/centroids")
    (cells, cent)
  }

  def ivfSearchIndexed(s: SparkSession, path: String, q: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val (cells, cent) = loadIvfIndex(s, path)
    ivfSearchCells(q, cells, cent, k, nprobe)
  }

  /** Semantic near-dup pairs between a NEW vector batch and a persisted
    * IVF index (round 12, VERDICT r11 #3 — the embedding analog of
    * `Dedup.nearDupsAgainstIndex`, completing the vector leg of the
    * recurring-ingest loop): (new_id, indexed_id) for every cross pair
    * at cosine distance < `eps`. New vectors probe their `nprobe`
    * nearest STORED centroids (the `dedup_semantic2` straddle
    * mitigation); stored vectors keep their build-time cell assignment,
    * so the pair scan is the batch-cells ⋈ stored-cells equi-join on
    * the cell key — cross pairs only, Σ|batch-in-cell|·|cell| work,
    * never batch × index, and the cell-partitioned layout prunes the
    * stored scan to the probed cells. Within-batch pairs are
    * `semanticDupPairs`' job; index-internal pairs were resolved at
    * build time. Input: (t_id, t_v) with ids disjoint from the index.
    */
  def semanticDupsAgainstIndex(s: SparkSession, path: String,
      newVecs: DataFrame, eps: Double, nprobe: Int = 2,
      probesIn: Option[DataFrame] = None): DataFrame = {
    val (cells, cent) = loadIvfIndex(s, path)
    // `probesIn` (round 16): a caller that also appends the survivors
    // computes the batch's nprobe cell probes ONCE (materialized) and
    // hands the (t_id, cell) rows here — must be the assignment of
    // exactly `newVecs` against THIS index's centroids at this nprobe.
    val probes = probesIn.getOrElse {
      if (nprobe <= 1) assignCells(newVecs, cent)
      else assignCellsMulti(newVecs, cent, nprobe)
    }
    newVecs.join(probes, "t_id")
      .select(col("t_id").as("new_id"), col("t_v").as("n_v"), col("cell"))
      .join(cells.select(col("t_id").as("indexed_id"), col("t_v").as("i_v"),
        col("cell")), Seq("cell"))
      .filter(cosineDist(col("n_v"), col("i_v")) < eps)
      .select(col("new_id"), col("indexed_id")).distinct()
  }

  /** ann_pq — product quantization with asymmetric distance computation
    * (ADC), the embedding-COMPRESSION scale path: each train vector is
    * encoded as m=4 subspace codeword ids (here 4 bits each — 64 floats
    * → 2 bytes, a 128× compression; production widths are m=8..64 over
    * k=256 codewords, same plan). Queries never decompress: per query,
    * an m×k table of squared subspace distances to every codeword is
    * built, and each train vector's approximate distance is the sum of
    * m table lookups selected by its codes.
    *
    * Plan shape at 100 TB: encoding is one pass over the corpus against
    * a BROADCAST codebook (m·k rows — known-small by construction, the
    * legitimate hint) into a min(struct) two-phase aggregate (the
    * `assignCells` shape — no window sort of the |T|·k stream); the
    * ADC join keys the |T|·m code stream against the |Q|·m·k distance
    * table on (s, code) — the table side is query-batch-proportional,
    * so it is NOT hinted (AQE gates; big query sets chunk like kNN-IS);
    * the per-(q, t) total is a keyed agg with map-side combine, and
    * top-k is the bounded-heap aggregate. The m squared partials sum in
    * a FIXED order (one conditional sum per subspace, then a
    * left-associated add) so both engines run identical double
    * arithmetic regardless of row arrival order.
    *
    * Deterministic codebook (train vectors 20..35 as the k=16 codewords
    * per subspace) keeps the oracle expressible — a production build
    * would k-means each subspace (`kmeansCentroids` is the refinement
    * seam), same plan shape.
    *
    * Approximation honesty: the harness embeddings are near-uniform
    * (pairwise-L2 spread CV ≈ 6 %), PQ's documented worst case —
    * quantization error swamps the spread and recall vs the exact top-3
    * is ~3-5 % (measured identically in both engines; larger codebooks
    * barely help: k=128, m=8 reaches ~22 %). The operator's real
    * contract is the ADC identity (distance ≡ L2 to the decoded vector)
    * and coarse-geometry preservation on clustered data — both pinned
    * in AnnSearchSpec; on clustered real embeddings the compression is
    * what makes 100 TB-scale re-ranking pipelines affordable.
    */
  def pqTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    pqSearch(
      q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v")),
      t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v")),
      cb = e.filter(col("vec_id") >= 20 && col("vec_id") < 36)
        .select((col("vec_id") - 20).as("j"), col("v")),
      m = 4, k = 3)
  }

  /** PQ search. The ADC step is a PURE MAP: each query carries its m×k
    * lookup table as a nested array, each train vector its m codes, and
    * the pair distance is one fused `FusedAdc` walk (m primitive lookups
    * + sqrt) straight into the bounded-heap top-k — NO per-pair keyed
    * aggregation. Encoding is a PURE MAP too: the codebook aggregates to
    * ONE nested-array row ([subspace][codeword] pre-sliced — m·k rows,
    * known-small by construction, the legitimate broadcast), and each
    * train vector computes all m argmin codes in a single projection —
    * zero shuffle, zero sort on the corpus pass.
    *
    * Both shapes were measured into existence by PipelineScaleProbe at
    * 100 k × 1 k: the first cut equi-joined the |T|·m code stream
    * against the distance table on (s, code) and aggregated |T|·|Q|
    * groups — 159 s vs 2.8 s brute force (the join materialized
    * |T|·m·|Q| rows into a corpus×query-sized shuffle). The second cut
    * kept a min(struct)/collect_list aggregation encode — 23 s, with
    * ~2/3 of the wall in the SortAggregate the struct-min falls to and
    * the rest in interpreted nested `element_at` ADC. The map-only form
    * runs the same pair count as brute force with ~m/dim of the
    * arithmetic and, at scale, reads 2-byte codes instead of full
    * vectors.
    *
    * Divisibility: subspace slicing uses `size(v) div m`, so when m
    * does not divide the vector length the trailing `dim % m`
    * dimensions are EXCLUDED from every distance (standard PQ practice
    * pads or re-projects instead; the oracle twin truncates
    * identically, so the gate would still pass — this is a semantics
    * note, not a correctness risk). Prefer m | dim; the harness's
    * dim=16 runs m ∈ {4, 8}.
    */
  /** ONE codebook row: cbss[s+1][j+1] = codeword j's subspace-s slice —
    * m·k rows aggregated to a single nested array, the known-small
    * broadcast every PQ pipeline stage shares.
    */
  private def pqCbRow(cb: DataFrame, m: Int): DataFrame =
    cb.groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(j, v))), p -> p.v)").as("cbv"))
      .select(expr(("transform(sequence(0, " + (m - 1) + "), s -> " +
        "transform(cbv, c -> slice(c, s * (size(c) div " + m + ") + 1, size(c) div " + m + ")))"))
        .as("cbss"))

  // the row's own subspace slices, computed once per vector
  private def pqSubspaces(m: Int): Column = {
    val w = expr(s"size(v) div $m")
    transform(sequence(lit(0), lit(m - 1)), s => slice(col("v"), s * w + 1, w))
  }

  /** Encode: per train vector, per subspace, argmin codeword by
    * (dist, code) struct order — ties break to the lowest code, the
    * exact semantics of the min(struct) aggregate it replaces. Codes
    * are PRE-OFFSET (s·K + code) so the ADC gather needs no K and the
    * per-query table can stay FLAT (see FusedAdc's allocation note).
    */
  private def pqCodes(t: DataFrame, cbRow: DataFrame, m: Int): DataFrame = {
    val vs = pqSubspaces(m)
    val kSize = size(element_at(col("cbss"), lit(1)))
    t.crossJoin(broadcast(cbRow))
      .select(col("t_id"),
        transform(vs, (sv, s) =>
          s * kSize + array_min(transform(element_at(col("cbss"), s + 1), (cw, j) =>
            struct(ArrayDistance.l2sq(sv, cw).as("dist"), j.as("code"))))
            .getField("code"))
          .cast("array<int>").as("codes"))
  }

  /** Per-query m·K squared-distance table, flat subspace-major. */
  private def pqTables(q: DataFrame, cbRow: DataFrame, m: Int): DataFrame = {
    val vs = pqSubspaces(m)
    q.crossJoin(broadcast(cbRow))
      .select(col("q_id"),
        flatten(transform(vs, (sv, s) =>
          transform(element_at(col("cbss"), s + 1), cw => ArrayDistance.l2sq(sv, cw))))
          .as("tables"))
  }

  def pqSearch(q: DataFrame, t: DataFrame, cb: DataFrame, m: Int, k: Int): DataFrame = {
    val cbRow = pqCbRow(cb, m)
    val codes = pqCodes(t, cbRow, m)
    val tables = pqTables(q, cbRow, m)

    // The table side is query-batch-proportional — un-hinted, AQE
    // broadcasts genuinely-small batches (big query sets chunk, kNN-IS).
    // The explicit repartitions are load-bearing twice over: the pure-map
    // pipelines have NO exchange of their own, so (a) without a stage
    // boundary AQE never sees runtime sizes and the static full-scan
    // estimate of a filtered query side forces CartesianProductExec,
    // whose RDD re-computes the encode projection once per partition
    // PAIR (PipelineScaleProbe measured 18.6 s vs 5.5 s at 100 k × 1 k
    // on exactly that shape); (b) the boundary materializes the encode
    // exactly once. At scale the codes shuffle moves the COMPRESSED
    // corpus — m code bytes per vector, the 128× reduction that is PQ's
    // whole point — never the raw vectors.
    val par = q.sparkSession.sparkContext.defaultParallelism
    val adc = codes.repartition(par).crossJoin(tables.repartition(par))
      .select(col("q_id"), col("t_id"), ArrayDistance.adc(col("tables"), col("codes")).as("dist"))
    graft.functions.TopKAgg.knn(adc, k)
      .select(col("q_id"), col("t_id"), rnd(col("dist"), 6).as("dist"), col("rn"))
  }

  /** The kNN-IS-style chunked container for `pqSearch` — the scaladoc's
    * "big query sets chunk" made concrete: the query batch splits into
    * `blocks` id-hash blocks, each runs the full PQ pipeline with a
    * per-block distance-table side that is known-small by construction
    * (|Q|/blocks · m·K doubles — inside AQE's broadcast gate), and the
    * union is output-identical to one big run because per-query top-k
    * never crosses blocks. `eager` sequences blocks into separate jobs
    * (one table broadcast live at a time — the
    * `membershipInitChunked` lesson). Encode runs per block here; a
    * long chunk loop would hoist `codes` behind a persist/checkpoint,
    * the same seam the fknn chunked paths expose for stage-1 state.
    */
  def pqSearchChunked(q: DataFrame, t: DataFrame, cb: DataFrame,
      m: Int, k: Int, blocks: Int, eager: Boolean = false): DataFrame = {
    // blocks = -1 → auto-size from the query side's estimated bytes
    // (the kNN-IS `numIterations = -1` parity, shared with Fknn)
    val nb = if (blocks == -1) graft.core.Fknn.autoBlocks(q) else blocks
    (0 until nb).map { b =>
      val blk = pqSearch(q.filter(pmod(col("q_id"), lit(nb)) === b), t, cb, m, k)
      if (eager) blk.truncated() else blk
    }.reduce(_ unionAll _)
  }

  def pqChunkedTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    pqSearchChunked(
      q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v")),
      t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v")),
      cb = e.filter(col("vec_id") >= 20 && col("vec_id") < 36)
        .select((col("vec_id") - 20).as("j"), col("v")),
      m = 4, k = 3, blocks = 4)
  }

  /** ann_rerank — the production two-stage ANN pipeline: PQ/ADC scans
    * the compressed corpus for a per-query SHORTLIST (cheap, 2-byte
    * codes), then exact L2 runs only on the |Q|·shortlist candidate
    * pairs and re-ranks to the final top-k. This is how PQ is actually
    * deployed — ADC ranks are approximate (quantization error), so the
    * shortlist absorbs the error and the exact pass restores true
    * ordering at shortlist/corpus of the full-precision cost.
    *
    * Plan shape at 100 TB: stage 1 is `pqSearch` (map-only encode over
    * codes, fused gather); stage 2 joins the candidate ids back to the
    * raw vectors by EQUI-key (q_id, then t_id) — shuffle bounded by the
    * candidate count, never |Q|·|T|; both joins un-hinted (candidates
    * are query-proportional, AQE size-gates). The exact pass reads full
    * vectors for only the shortlisted t_ids — with a selective
    * shortlist that is the only full-precision I/O in the pipeline.
    *
    * Shortlist selection happens on UNROUNDED ADC distance inside the
    * bounded-heap top-k (ties → lower t_id), exactly mirroring the
    * oracle's row_number over the raw ADC sum, so both engines pick the
    * identical candidate set — AnnSearchSpec pins shortlist ⊇ final and
    * exactness of the reranked distances.
    */
  def pqRerank(q: DataFrame, t: DataFrame, cb: DataFrame,
      m: Int, shortlist: Int, k: Int): DataFrame = {
    val cand = pqSearch(q, t, cb, m, shortlist).select(col("q_id"), col("t_id"))
    val exact = cand
      .join(q.select(col("q_id"), col("v").as("q_v")), "q_id")
      .join(t.select(col("t_id"), col("v").as("t_v")), "t_id")
      .select(col("q_id"), col("t_id"), ArrayDistance.l2(col("q_v"), col("t_v")).as("dist"))
    graft.functions.TopKAgg.knn(exact, k)
      .select(col("q_id"), col("t_id"), rnd(col("dist"), 6).as("dist"), col("rn"))
  }

  def pqRerankTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    pqRerank(
      q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v")),
      t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v")),
      cb = e.filter(col("vec_id") >= 20 && col("vec_id") < 36)
        .select((col("vec_id") - 20).as("j"), col("v")),
      m = 4, shortlist = 10, k = 3)
  }

  /** ann_ivf_pq — the production composite index: IVF coarse cells
    * restrict WHICH vectors each query scans (a cell equi-join, the
    * `ivfSearch` read path), PQ/ADC decides HOW each scanned vector's
    * distance is computed (m table lookups over 2-byte codes, the
    * `pqSearch` arithmetic). This is the memory-AND-compute shape real
    * ANN services deploy (the Faiss IVFPQ lineage, here on raw-vector
    * PQ): at 100 TB the corpus lives as codes (128× smaller than
    * vectors), and a query touches only nprobe cells of it — the
    * ADC pair count drops from |T| per query to Σ probed-cell sizes.
    *
    * Plan: encode + per-query tables are the shared PQ pure maps
    * (broadcast codebook row); cell assignment is the shared argmin
    * aggregate; candidates come from the probe-cells ⋈ train-cells
    * equi-join (each train vector lives in exactly ONE cell, so the
    * join cannot duplicate a (q, t) pair — no distinct); the ADC walk
    * + bounded-heap top-k run only on candidates. No cross join
    * anywhere — the full-scan form (`pqSearch`) exists for the corpus
    * sizes where cells don't pay.
    */
  def ivfPqSearch(q: DataFrame, t: DataFrame, cent: DataFrame, cb: DataFrame,
      m: Int, k: Int, nprobe: Int): DataFrame = {
    val tCells = assignCells(
      t.select(col("t_id"), col("v").as("t_v")), cent) // (t_id, cell)
    val qCells = assignCellsMulti(
      q.select(col("q_id").as("t_id"), col("v").as("t_v")), cent, nprobe)
      .select(col("t_id").as("q_id"), col("cell"))
    val cbRow = pqCbRow(cb, m)
    val codes = pqCodes(t, cbRow, m)
    val tables = pqTables(q, cbRow, m)
    // candidate pairs by cell, then gather codes by t_id and the
    // query's table by q_id — both equi-joins, AQE-gated sides
    val adc = qCells.join(tCells, "cell")
      .select(col("q_id"), col("t_id"))
      .join(codes, "t_id")
      .join(tables, "q_id")
      .select(col("q_id"), col("t_id"),
        ArrayDistance.adc(col("tables"), col("codes")).as("dist"))
    graft.functions.TopKAgg.knn(adc, k)
      .select(col("q_id"), col("t_id"), rnd(col("dist"), 6).as("dist"), col("rn"))
  }

  def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    ivfPqSearch(
      q = e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v")),
      t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v")),
      cent = e.filter(col("vec_id") >= 20 && col("vec_id") % 40 === 0)
        .select(col("vec_id").as("c_id"), col("v").as("c_v")),
      cb = e.filter(col("vec_id") >= 20 && col("vec_id") < 36)
        .select((col("vec_id") - 20).as("j"), col("v")),
      m = 4, k = 3, nprobe = 3)
  }

  /** Embedding-cosine near-dup: pairs among vec_id < 200 with cosine
    * distance < 0.7 (the embedding leg of the dedup family; threshold
    * sized to the synthetic data's distance distribution — min ≈ 0.56,
    * median ≈ 1.0 — so the operator produces a non-vacuous result).
    */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).filter(col("vec_id") < 200)
    Knn.pairwise(e, e, dist = cosineDist, hintBroadcastQ = false)
      .filter(col("q_id") < col("t_id"))
      .filter(col("dist") < 0.7)
      .select(col("q_id").as("vec_id1"), col("t_id").as("vec_id2"), rnd(col("dist"), 6).as("dist"))
  }

  /** dedup_semantic — SemDeDup-style cluster-scoped embedding dedup,
    * the published SCALE path for `dedupEmbedding`'s declared quadratic:
    * vectors are assigned to coarse cells (the same deterministic stride
    * quantizer + min(struct) two-phase aggregate as `ann_ivf`), and the
    * pairwise cosine check runs only WITHIN each cell — a self
    * equi-join on the cell key, so work is Σ|cell|² (shuffle by cell,
    * AQE-balanced), never |V|². A vector with any lower-id cell-mate
    * closer than ε is marked a duplicate; keep = the canonical
    * lowest-id representative survives, every near-copy drops.
    *
    * ε = 0.75 sits at the ~5th percentile of this corpus's in-cell
    * cosine-distance distribution (min ≈ 0.53), so the flag is
    * non-vacuous. Cross-cell near-dups are the method's documented
    * recall loss (straddling pairs land in different cells) — measured
    * at 25 % of planted pairs at ~50 cells and 50 % at ~100 cells
    * (SCALE.md's straddle table), growing in the production direction.
    * This row is the HISTORICAL-ORACLE single-probe form; production
    * readers should run `dedup_semantic2` (nprobe = 2, 99.9-100 %
    * straddle recall at ~1.3× wall), declared right below.
    */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val t = e.select(col("vec_id").as("t_id"), col("v").as("t_v"))
    val cent = e.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    val cells = assignCells(t, cent)
    val dups = semanticPairScan(t.join(cells, "t_id"), 0.75)
      .select(col("id2").as("t_id")).distinct()
    cells.join(dups.withColumn("dup", lit(true)), Seq("t_id"), "left")
      .select(col("t_id").as("vec_id"), col("cell"), col("dup").isNull.as("keep"))
  }

  /** dedup_semantic2 — the PRODUCTION SemDeDup configuration: same
    * corpus, centroids, and ε as `dedup_semantic`, but every vector
    * probes its TWO nearest cells (`assignCellsMulti`), so a near-dup
    * pair straddling one cell boundary still meets in somebody's
    * runner-up cell. The probe that mandated this row: single-cell
    * recall on planted straddling pairs falls from 74.6 % at ~50 cells
    * to 49.3 % at ~100 cells, while nprobe = 2 recovers 99.9-100 % at
    * ~1.3× wall (SCALE.md straddle table) — and Σ|cell|² forces MORE
    * cells as the corpus grows, so the loss grows in exactly the
    * production direction. Output surface matches `dedup_semantic`
    * (vec_id, primary cell, keep) — only the dup set widens; work is
    * ~nprobe² of the single-probe scan, still Σ|cell|², never |V|².
    */
  def dedupSemantic2(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val t = e.select(col("vec_id").as("t_id"), col("v").as("t_v"))
    val cent = e.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    val dups = semanticDupPairs(t, cent, 0.75, nprobe = 2)
      .select(col("id2").as("t_id")).distinct()
    assignCells(t, cent).join(dups.withColumn("dup", lit(true)), Seq("t_id"), "left")
      .select(col("t_id").as("vec_id"), col("cell"), col("dup").isNull.as("keep"))
  }

  /** The cell-scoped pair scan shared by the declared `dedup_semantic`
    * row and the multi-probe harness path: self equi-join on the cell
    * key, canonical id1 < id2, cosine-ε filter, pair-distinct (a pair
    * that meets in several probe cells emits once).
    */
  private def semanticPairScan(et: DataFrame, eps: Double): DataFrame =
    et.select(col("t_id").as("id1"), col("t_v").as("v1"), col("cell"))
      .join(et.select(col("t_id").as("id2"), col("t_v").as("v2"), col("cell")), Seq("cell"))
      .filter(col("id1") < col("id2"))
      .filter(cosineDist(col("v1"), col("v2")) < eps)
      .select(col("id1"), col("id2")).distinct()

  /** SemDeDup pair detection over arbitrary frames with `nprobe` probe
    * cells per vector — `nprobe = 1` is the declared row's single-cell
    * scan; 2-3 recovers straddling pairs at ~nprobe² in-cell work
    * (PipelineScaleProbe's semantic-straddle leg puts numbers on both).
    */
  private[graft] def semanticDupPairs(t: DataFrame, cent: DataFrame,
      eps: Double, nprobe: Int = 1): DataFrame = {
    val cells =
      if (nprobe <= 1) assignCells(t, cent) else assignCellsMulti(t, cent, nprobe)
    semanticPairScan(t.join(cells, "t_id"), eps)
  }

  /** embedding_quantize — int8 SCALAR quantization, the other embedding
    * compression path (PQ quantizes subvectors to codewords; this
    * quantizes each dimension to one of 256 levels on a per-vector
    * [min, max] grid — 8× smaller than float64, trivially reversible,
    * the storage format embedding stores default to). Declared output is
    * the quantization audit a pipeline actually checks: per vector, the
    * grid (mn, scale) and the L2 reconstruction error — bounded by
    * √dim·scale/2, AnnSearchSpec pins it. Pure map, zero shuffle; the
    * degenerate constant vector (scale 0) round-trips exactly via the
    * identical CASE in both engines.
    */
  def embeddingQuantize(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).filter(col("vec_id") < 200)
    e.select(col("vec_id"), col("v"),
        array_min(col("v")).as("mn"), array_max(col("v")).as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
      .withColumn("vhat", when(col("scale") > 0,
          expr("transform(v, x -> mn + floor((x - mn) / scale + 0.5e0) * scale)"))
        .otherwise(col("v")))
      .select(col("vec_id"), rnd(col("mn"), 6).as("mn"), rnd(col("scale"), 6).as("scale"),
        rnd(ArrayDistance.l2(col("v"), col("vhat")), 6).as("q_err"))
  }

  /** embedding_normalize — L2 unit-normalization, the projection every
    * cosine-similarity pipeline runs at ingest. LONG FORM output
    * (vec_id, pos, x) so the gate compares scalars, never
    * engine-formatted arrays; the normalize itself is a zero-shuffle
    * map (posexplode is for the oracle's benefit — the library form
    * would keep the array column). Sliced to vec_id < 50 to bound the
    * |V|×dim row expansion at bench SFs.
    */
  def embeddingNormalize(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).filter(col("vec_id") < 50)
      .withColumn("nrm", sqrt(ArrayDistance.dot(col("v"), col("v"))))
    e.select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .join(e.select(col("vec_id"), col("nrm")), "vec_id")
      .select(col("vec_id"), col("pos"), rnd(col("x") / col("nrm"), 6).as("xn"))
  }

  /** embedding_centroid — per-label mean vector (class prototypes: the
    * seed for quantizers, nearest-centroid classifiers, drift checks).
    * Long form (label, pos, mean): one (label, dim)-keyed aggregation
    * with map-side partial avg — the same shuffle shape as
    * `kmeansCentroids`' mean step.
    */
  def embeddingCentroid(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(rnd(avg(col("x")), 6).as("m"))

  /** embedding_silhouette — centroid-based (simplified) silhouette of
    * the LABELED clustering: per vector, a = L2 to its own label's
    * centroid, b = min L2 to any other label's, s = (b − a)/max(a, b);
    * reported per label (n, mean silhouette, mean a, mean b) — the
    * fourth index-health read-out ("are these labels separable in
    * embedding space") next to cell balance, dim stats, and the norm
    * histogram. The simplified form (Hruschka et al.) replaces the
    * O(n²) pairwise silhouette with distances to ≤|labels| centroids —
    * the LINEAR form that survives 100 TB. Centroids are edge-rounded
    * per (label, dim) so both engines measure against identical
    * prototypes; distances ride the fused `ArrayDistance.l2` (≡
    * DuckDB's list fold, DistanceSpec). One corpus × |labels| broadcast
    * cross (the `assignCells` shape, BNLJ-whitelisted), then keyed aggs.
    */
  def embeddingSilhouette(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cent = e
      .select(col("label").as("c_label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("c_label"), col("pos")).agg(rnd(avg(col("x")), 6).as("m"))
      .groupBy(col("c_label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("c_v"))
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"),
        (col("label") === col("c_label")).as("own"),
        ArrayDistance.l2(col("v"), col("c_v")).as("dist"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("own"), col("dist"))).as("a"),
        min(when(!col("own"), col("dist"))).as("b"))
      .select(col("label"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil"),
        col("a"), col("b"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), rnd(avg(col("sil")), 6).as("mean_sil"),
        rnd(avg(col("a")), 6).as("mean_a"), rnd(avg(col("b")), 6).as("mean_b"))
  }

  /** embedding_drift — per-label centroid shift between two corpus
    * slices (even vs odd vec_ids stand in for "reference vs current"
    * ingest snapshots): the L2 distance between slice centroids, the
    * drift monitor a training pipeline evaluates per batch. Two
    * (label, dim)-keyed mean aggregations, one (label, dim) join, one
    * label-keyed sum — every shuffle is vocab-dimensional (labels ×
    * dims), never corpus-scale.
    */
  def embeddingDrift(s: SparkSession, d: String): DataFrame = {
    def cent(half: Int) = emb(s, d).filter(pmod(col("vec_id"), lit(2)) === half)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as(s"m$half"))
    cent(0).join(cent(1), Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(rnd(sqrt(sum((col("m0") - col("m1")) * (col("m0") - col("m1")))), 6).as("drift"))
  }

  /** embedding_dim_stats — per-DIMENSION corpus health: n, mean,
    * variance, min, max for each embedding coordinate — the feature
    * screen that catches dead dimensions (variance ≈ 0), saturated
    * ones (range pinned), and mean drift per coordinate before they
    * poison a quantizer codebook or an IVF clustering
    * (`embedding_centroid` is the per-LABEL view; this is the
    * per-coordinate one). Variance via explicit raw moments
    * avg(x²) − avg(x)² — the `agg_moments` discipline, so no
    * engine-internal M2 merge order enters. One posexplode + one
    * (dim)-keyed aggregation with map-side partials: d cells per
    * partition regardless of corpus rows.
    */
  def embeddingDimStats(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(
        count(lit(1)).as("n"),
        rnd(avg(col("x")), 6).as("mean"),
        rnd(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")), 6).as("variance"),
        rnd(min(col("x")), 6).as("mn"),
        rnd(max(col("x")), 6).as("mx"))

  /** embedding_norm_hist — distribution of vector L2 norms in 0.1-wide
    * buckets: the third index-health read-out next to
    * `embedding_cell_balance` (occupancy) and `embedding_dim_stats`
    * (per-coordinate) — a bimodal or drifting norm histogram is the
    * first sign a corpus mixes unnormalized embedding versions, which
    * silently breaks dot-product ≈ cosine assumptions in IVF/PQ. Norm
    * via the left-fold `aggregate` HOF (≡ DuckDB list_sum — the fused
    * element-order parity contract), ROUNDED 6dp before the bucket
    * floor (the calibration-bins rule: bin edges compare identical
    * doubles). One map + one ≤O(norm-range) keyed aggregate.
    */
  def embeddingNormHist(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .select(rnd(sqrt(expr("aggregate(v, 0d, (a, x) -> a + x * x)")), 6).as("nrm"))
      .select(floor(col("nrm") * 10).cast("long").as("bucket"), col("nrm"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), rnd(avg(col("nrm")), 6).as("avg_norm"))

  /** embedding_pca — one deterministic power-iteration step toward the
    * corpus's top principal direction (the dimensionality-reduction /
    * whitening primitive under SemDeDup-style pipelines and PQ rotation):
    * v₁ ∝ Σᵢ (xᵢ·v₀)·xᵢ with the fixed seed v₀ = 1⃗/√d, emitted as the
    * unit-normalized long-form (pos, pc1). Distributed shape: the dot
    * scores are a per-row map (the same left-fold the fused expressions
    * use), the component sums are ONE (dim)-keyed aggregation with
    * map-side partials — d cells per partition regardless of corpus
    * rows, the `sketch_countmin` constant-state property — and the
    * normalizer is a one-row broadcast. Further Lloyd-style rounds
    * would ride the `Ckpt.truncate` seam like `kmeansCentroids`; one
    * seeded round keeps the row oracle-gated (the iterative variant is
    * `ann_ivf_kmeans`'s rows-only precedent).
    */
  def embeddingPca(s: SparkSession, d: String): DataFrame = {
    val dim = 64
    val scored = emb(s, d).withColumn("sc",
      expr("aggregate(v, 0d, (a, x) -> a + x)") / sqrt(lit(dim.toDouble)))
    val comps = scored
      .select(col("sc"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(col("sc") * col("x")).as("c"))
    val nrm = comps.agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
    comps.crossJoin(broadcast(nrm))
      .select(col("pos"), rnd(col("c") / col("nrm"), 6).as("pc1"))
  }

  // ---- ann_hamming: binary sign-sketch search ---------------------------

  /** 64-bit sign signature of a 64-dim vector, as two 32-bit halves —
    * bit i of half h set iff v[32h + i] ≥ 0. Two halves because bit 63
    * of a single BIGINT signature is its sign bit (1L << 63 overflows
    * the value range); two sub-2³² halves sidestep it and cost one
    * extra xor/popcount.
    */
  private def signHalf(v: Column, half: Int): Column =
    (0 until 32).map(i =>
      when(element_at(v, 32 * half + i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** ann_hamming — brute-force top-3 by Hamming distance over binarized
    * sign sketches: the memory-bandwidth end of the ANN spectrum (the
    * binary-code regime of the ITQ/LSH literature). Distance =
    * popcount(xor) per half, summed — pure integer, so the row is
    * exactly reproducible and tie-break (dist, t_id) total. Candidates
    * ride the kNN-IS bounded-heap aggregate (`TopKAgg`), queries
    * broadcast: one linear scan of the code table per batch, no shuffle
    * of the corpus.
    *
    * Where the gain actually is (SCALE.md round 8, MEASURED — not the naive
    * bytes-ratio story): over STORED codes at production embedding
    * widths — dim = 768, 80 M pairs: code scan 1.43 s vs float scan
    * 12.19 s (8.5×), code row 16 B vs 6 KB. At dim = 64 the scans TIE
    * (~1 s at 20 M pairs): Spark's per-pair row pipeline (~550 ns/pair
    * at 32 cores), not the distance arithmetic, is the floor there, and
    * an inline-derived code scan reads every float anyway. So at 100 TB:
    * build codes ONCE, store them, scan codes, rerank survivors against
    * floats (`ann_rerank`'s shape).
    */
  def hammingTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    hammingTopKOf(e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20), 3)
  }

  /** Core of `ann_hamming` over (vec_id, v) query/target frames — the
    * round-8 scale run (SCALE.md) drove this against the float scan at
    * 10⁵-10⁶ codes.
    */
  /** (vec_id, lo, hi) sign-code table for a (vec_id, v) frame — the
    * BUILD step. At scale this is what gets persisted: the scan-rate
    * gain of binary codes exists only against a STORED code table
    * (deriving codes inline still reads every float — SCALE.md round 8
    * measured the inline form no faster than the float scan, 2.3 vs
    * 1.4 s at 20 M pairs, both parquet-IO-bound; over stored codes the
    * same scan is ~4×+ faster and the table 32× smaller).
    */
  private[graft] def signCodes(df: DataFrame): DataFrame =
    df.select(col("vec_id"), signHalf(col("v"), 0).as("lo"), signHalf(col("v"), 1).as("hi"))

  private[graft] def hammingTopKOf(qv: DataFrame, tv: DataFrame, k: Int): DataFrame =
    hammingTopKCodes(signCodes(qv), signCodes(tv), k)

  /** Top-k by Hamming over pre-built (vec_id, lo, hi) code frames. */
  private[graft] def hammingTopKCodes(qc: DataFrame, tc: DataFrame, k: Int): DataFrame = {
    val q = qc.select(col("vec_id").as("q_id"), col("lo").as("q_lo"), col("hi").as("q_hi"))
    // same small-input re-spread as the float kernel (Knn.pairwise):
    // a one-footer parquet corpus arrives as 1 scan partition, and a
    // broadcast-streamed scan over 1 partition runs on 1 core — the
    // SCALE.md round 8: the code scan ran 36× SLOWER than the float scan
    // (34.3 s vs 0.94 s at 20 M pairs) for exactly this reason
    val t = Knn.ensureParallelism(
      tc.select(col("vec_id").as("t_id"), col("lo").as("t_lo"), col("hi").as("t_hi")))
    val pairs = broadcast(q).crossJoin(t)
      .select(col("q_id"), col("t_id"),
        (expr("bit_count(q_lo ^ t_lo)") + expr("bit_count(q_hi ^ t_hi)"))
          .cast("double").as("dist"))
    graft.functions.TopKAgg.knn(pairs, k)
      .select(col("q_id"), col("t_id"), col("dist").cast("long").as("hamming"), col("rn"))
  }

  // ---- ann_pq_distortion: quantization error read-out -------------------

  /** ann_pq_distortion — the reconstruction-error distribution of the
    * PQ codebook over the train corpus: per vector, the L2 distance to
    * its quantized reconstruction (√Σ per-subspace min codeword
    * distance²), summarized as n / min / discrete-rank median / max —
    * codebook quality as an alertable row (`ann_recall`'s sibling for
    * the PQ leg: distortion creep = the codebook no longer fits the
    * corpus, retrain before recall silently decays). Same m = 4
    * codebook slicing as `ann_pq`; the per-subspace min is a pure
    * selection, the 4-term sum folds in fixed subspace order (the adc
    * p0+p1+p2+p3 discipline), and the median is the rank-⌊(n+1)/2⌋
    * selection under (dist, t_id). Encode is the same broadcast-
    * codebook map as the PQ index build — one corpus scan, three
    * one-row aggregates.
    */
  def pqDistortion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
    val t = e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v"))
    val cb = e.filter(col("vec_id") >= 20 && col("vec_id") < 36)
      .select((col("vec_id") - 20).as("j"), col("v"))
    val m = 4
    val vs = pqSubspaces(m)
    val dists = t.crossJoin(broadcast(pqCbRow(cb, m)))
      .select(col("t_id"),
        transform(vs, (sv, s) =>
          array_min(transform(element_at(col("cbss"), s + 1),
            cw => ArrayDistance.l2sq(sv, cw)))).as("mins"))
      .select(col("t_id"), sqrt(expr("aggregate(mins, 0d, (a, x) -> a + x)")).as("dist"))
    val agg = broadcast(dists.agg(count(lit(1)).as("n"),
      min(col("dist")).as("mn"), max(col("dist")).as("mx")))
    val med = broadcast(dists.crossJoin(agg.select(col("n").as("nn")))
      .withColumn("rk", row_number().over(Window.orderBy(col("dist"), col("t_id"))))
      .filter(col("rk") === expr("(nn + 1) div 2"))
      .select(col("dist").as("median_dist")))
    agg.crossJoin(med)
      .select(col("n"), rnd(col("mn"), 6).as("min_dist"),
        rnd(col("median_dist"), 6).as("median_dist"), rnd(col("mx"), 6).as("max_dist"))
  }

  // ---- ann_recall: measured index quality as a query --------------------

  /** ann_recall — recall@3 of the sign-LSH bucket index against the
    * exact brute-force ranking, per query: |LSH top-3 ∩ exact top-3|/3.
    * The `similarity_minhash_est` discipline applied to ANN: the
    * SCALE.md nprobe recall table is a probe artifact; this row makes
    * index quality a FIRST-CLASS, oracle-gated query a pipeline can
    * alert on (recall collapse = embedding drift or bucket skew —
    * `embedding_drift`'s actionable sibling). Both rankings use the
    * shared (dist, t_id) total order, so the set intersection is exact
    * and deterministic. Queries missing from the LSH output (alone in
    * their bucket) surface with recall 0 via the left join — exactly
    * the alert case.
    *
    * Scale: the two rankings are the two declared operators' plans
    * (broadcast query block × map-scan + bucket equi-join); the
    * intersection joins two 20×3-row frames.
    */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 20)
    val t = e.filter(col("vec_id") >= 20)
    val brute = Knn.knn(q, t, k = 3, dist = cosineDist)
      .select(col("q_id"), col("t_id"))
    val qb = q.select(col("vec_id").as("q_id"), col("v").as("q_v"),
      bucketCol(col("v")).as("bucket"))
    val tb = t.select(col("vec_id").as("t_id"), col("v").as("t_v"),
      bucketCol(col("v")).as("bucket"))
    val lsh = graft.functions.TopKAgg.knn(
        broadcast(qb).join(tb, "bucket")
          .select(col("q_id"), col("t_id"),
            cosineDist(col("q_v"), col("t_v")).as("dist")), 3)
      .select(col("q_id"), col("t_id"))
    val hits = brute.join(lsh, Seq("q_id", "t_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    brute.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        rnd(coalesce(col("n_hit"), lit(0L)) / lit(3.0), 6).as("recall"))
  }

  // ---- ann_ndcg: graded ranking quality of the bucketed search ----------

  /** ann_ndcg — NDCG@3 of the LSH-bucketed search against the exact
    * ranking (graded: the exact rank-1 neighbor is worth rel = 3, rank
    * 2 → 2, rank 3 → 1), the companion to `ann_recall`'s set-overlap
    * view — recall can't see that an index returning the right SET in
    * the wrong ORDER is still degrading rerank budgets. DCG is a FIXED
    * three-term expression (gain at each position via max-of-case over
    * exact integers — never a float sum whose order varies), divided by
    * the constant ideal; log2 meets libm identically in both engines
    * under the 6-dp edge (the `metrics_logloss` ln precedent).
    * Bucket-isolated queries score 0, the `ann_recall` convention.
    */
  def annNdcg(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < 20)
    val t = e.filter(col("vec_id") >= 20)
    val brute = Knn.knn(q, t, k = 3, dist = cosineDist)
      .select(col("q_id"), col("t_id"), (lit(4) - col("rn")).cast("long").as("rel"))
    val qb = q.select(col("vec_id").as("q_id"), col("v").as("q_v"),
      bucketCol(col("v")).as("bucket"))
    val tb = t.select(col("vec_id").as("t_id"), col("v").as("t_v"),
      bucketCol(col("v")).as("bucket"))
    val lsh = graft.functions.TopKAgg.knn(
        broadcast(qb).join(tb, "bucket")
          .select(col("q_id"), col("t_id"),
            cosineDist(col("q_v"), col("t_v")).as("dist")), 3)
      .select(col("q_id"), col("t_id"), col("rn"))
    val gains = lsh.join(brute, Seq("q_id", "t_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        coalesce(max(when(col("rn") === 1, col("rel"))), lit(0L)).as("r1"),
        coalesce(max(when(col("rn") === 2, col("rel"))), lit(0L)).as("r2"),
        coalesce(max(when(col("rn") === 3, col("rel"))), lit(0L)).as("r3"))
    val dcg = col("r1") + col("r2") / expr("log2(3.0d)") + col("r3") / lit(2.0)
    val idcg = lit(3.0) + lit(2.0) / expr("log2(3.0d)") + lit(0.5)
    brute.select(col("q_id")).distinct()
      .join(gains, Seq("q_id"), "left")
      .select(col("q_id"),
        rnd(coalesce(dcg, lit(0.0)), 6).as("dcg"),
        rnd(coalesce(dcg / idcg, lit(0.0)), 6).as("ndcg"))
  }

  // ---- embedding_knn_graph: bucketed all-corpus k-NN graph --------------

  /** embedding_knn_graph — the k-nearest-neighbor GRAPH over the whole
    * corpus (every vector a query, k = 3, within its sign-LSH bucket):
    * the build step under SemDeDup clustering, label propagation over
    * embeddings, and graph-based ANN — `ann_lsh_bucket` answers 20
    * queries; this materializes the all-pairs-quotient structure
    * downstream graph ops consume. Same bucket equi-join scale shape
    * (Σ|b|² pairs, never n²), self-pairs excluded, bounded-heap top-k
    * per source vector. Isolated vectors (alone in their bucket) have
    * no rows — the consumer's signal to widen probes, same contract as
    * the bucket search itself.
    */
  def knnGraph(s: SparkSession, d: String, k: Int = 3): DataFrame =
    knnGraphOf(emb(s, d), k)

  /** Core of `knnGraph` over any (vec_id, v) frame — split out so
    * `graphSearch` can build its navigation graph over the target set
    * only (round 13).
    */
  def knnGraphOf(e0: DataFrame, k: Int): DataFrame = {
    val e = e0.select(col("vec_id"), col("v"), bucketCol(col("v")).as("bucket"))
    val pairs = e.select(col("vec_id").as("q_id"), col("v").as("q_v"), col("bucket"))
      .join(e.select(col("vec_id").as("t_id"), col("v").as("t_v"), col("bucket")), "bucket")
      .filter(col("q_id") =!= col("t_id"))
      .select(col("q_id"), col("t_id"), cosineDist(col("q_v"), col("t_v")).as("dist"))
    graft.functions.TopKAgg.knn(pairs, k)
      .select(col("q_id").as("src"), col("t_id").as("dst"),
        rnd(col("dist"), 6).as("dist"), col("rn"))
  }

  /** True top-k adjacency of the `qNodes` sources over the full `nodes`
    * corpus — `knnGraphOf` with the query side restricted, so the work
    * is Σ|sample-in-bucket|·|bucket| instead of the full Σ|b|² build
    * (round 15: the sampled staleness measurement `RunAnn.maintainGraph`
    * compares stored adjacency against). Output (src, dst), self-pairs
    * excluded, same bucket/tie conventions as the build.
    */
  def knnTruthOf(qNodes: DataFrame, nodes: DataFrame, k: Int): DataFrame = {
    val qb = qNodes.select(col("vec_id").as("q_id"), col("v").as("q_v"),
      bucketCol(col("v")).as("bucket"))
    val tb = nodes.select(col("vec_id").as("t_id"), col("v").as("t_v"),
      bucketCol(col("v")).as("bucket"))
    val pairs = qb.join(tb, "bucket")
      .filter(col("q_id") =!= col("t_id"))
      .select(col("q_id"), col("t_id"), cosineDist(col("q_v"), col("t_v")).as("dist"))
    graft.functions.TopKAgg.knn(pairs, k)
      .select(col("q_id").as("src"), col("t_id").as("dst"))
  }

  /** PERSIST the k-NN navigation graph (round 14, VERDICT r13 #6 —
    * the lifecycle LSH and IVF already had: `graphSearchOf` accepted a
    * prebuilt `edges0` but nothing owned its storage or growth):
    * `$path/nodes` = (vec_id, v), `$path/edges` = (src, dst, dist).
    * The rank column is deliberately dropped at the boundary — search
    * navigates (src, dst) only, and appends below add supplementary
    * reverse links that have no rank in the original per-src top-k.
    */
  def saveKnnGraph(e: DataFrame, path: String, k: Int = 3): Unit = {
    e.select(col("vec_id"), col("v")).write.mode("overwrite").parquet(s"$path/nodes")
    knnGraphOf(e, k).select(col("src"), col("dst"), col("dist"))
      .write.mode("overwrite").parquet(s"$path/edges")
    // a full rebuild overwrites nodes+edges, so any pending tombstones
    // (removeFromKnnGraph without a compaction) are meaningless — left in
    // place they would anti-join freshly built nodes out of loadKnnGraph's
    // live view whenever a rebuilt id was once retracted (round-16 ADVICE)
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    p.getFileSystem(e.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Crash-safe REBUILD of a persisted kNN graph in place (round-16
    * ADVICE): `saveKnnGraph`'s plain overwrite is fine for a first build
    * into an empty path, but a maintenance rebuild overwriting the ONLY
    * copy loses the graph if it crashes mid-write. This writes the
    * rebuilt tables to `.compact_` siblings and swaps them in with the
    * checked rename-swap (`compactKnnGraph` discipline) — a crash in the
    * window leaves either the old graph or a recoverable intermediate.
    * Tombstones are cleared last: the rebuild input is expected to be
    * the live (tombstone-filtered) node set, so after the swap they are
    * both applied and meaningless.
    */
  def rebuildKnnGraph(e: DataFrame, path: String, k: Int = 3): Unit = {
    val s = e.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.sources.Sinks.recoverSwap(fs, path, "nodes")
    graft.sources.Sinks.recoverSwap(fs, path, "edges")
    e.select(col("vec_id"), col("v"))
      .write.mode("overwrite").parquet(s"$path/.compact_nodes")
    knnGraphOf(e, k).select(col("src"), col("dst"), col("dist"))
      .write.mode("overwrite").parquet(s"$path/.compact_edges")
    graft.sources.Sinks.swapIn(fs, path, "nodes")
    graft.sources.Sinks.swapIn(fs, path, "edges")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
  }

  /** The retracted-ids frame of a persisted kNN graph, if any — the
    * graph twin of the LSH/IVF tombstone tables (round 15: the third
    * index family's retraction leg).
    */
  private def knnGraphTombstones(s: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(p.toString).select(col("vec_id")).distinct())
    else None
  }

  /** RETRACT nodes from a persisted kNN navigation graph (round 15 —
    * lifecycle parity with `removeFromLshIndex`/`removeFromIvfIndex`):
    * appends the ids to the graph's tombstone table; `loadKnnGraph`
    * (every search, append, and the maintenance trigger go through it)
    * filters the nodes AND every edge touching them from the next query
    * on. Physical deletion is `compactKnnGraph`'s job. Note the search-
    * quality consequence retraction uniquely has here: surviving
    * neighbors LOSE out-edges (their stored top-k referenced the
    * retracted node), so heavy retraction degrades navigability the
    * same way no-rewire appends do — `RunAnn.maintainGraph`'s adjacency
    * recall measures exactly that and prices the rebuild.
    */
  def removeFromKnnGraph(ids: DataFrame, path: String): Unit =
    ids.select(col("vec_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  /** Physically apply tombstones to the node and edge tables and clear
    * them — sibling-write + checked rename-swap per table
    * (`compactIvfIndex` discipline; tombstones are deleted only after
    * BOTH swaps land, so a crash between them leaves a state every
    * reader still filters correctly and a re-run completes).
    */
  def compactKnnGraph(s: SparkSession, path: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    graft.sources.Sinks.recoverSwap(fs, path, "nodes")
    graft.sources.Sinks.recoverSwap(fs, path, "edges")
    val (nodes, edges) = loadKnnGraph(s, path)
    nodes.write.mode("overwrite").parquet(s"$path/.compact_nodes")
    edges.write.mode("overwrite").parquet(s"$path/.compact_edges")
    graft.sources.Sinks.swapIn(fs, path, "nodes")
    graft.sources.Sinks.swapIn(fs, path, "edges")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
  }

  /** Lazy frames over a persisted navigation graph: (nodes, edges) —
    * retraction-aware: tombstoned nodes and every edge touching them
    * are filtered (takedown semantics, `removeFromKnnGraph`).
    */
  def loadKnnGraph(s: SparkSession, path: String): (DataFrame, DataFrame) = {
    val nodes0 = s.read.parquet(s"$path/nodes")
    val edges0 = s.read.parquet(s"$path/edges")
    knnGraphTombstones(s, path) match {
      case None => (nodes0, edges0)
      case Some(tomb) =>
        (nodes0.join(tomb, Seq("vec_id"), "left_anti"),
          edges0
            .join(tomb.select(col("vec_id").as("src")), Seq("src"), "left_anti")
            .join(tomb.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
            .select(col("src"), col("dst"), col("dist")))
    }
  }

  /** APPEND a batch to a persisted k-NN navigation graph WITHOUT
    * rewiring stored nodes — the NSW-style insert, completing the
    * third index family's incremental loop (`appendToLshIndex` /
    * `appendToIvfIndex` discipline: stored rows are never rewritten;
    * drift is measured, and the rebuild cadence is an offline call):
    *
    *  - each NEW vector gets its top-k out-edges over the stored ∪
    *    batch candidates sharing its sign-LSH bucket (the same bucketed
    *    Σ|b|² candidate shape as the build — never batch × corpus);
    *  - every selected (new → old) edge also appends its REVERSE
    *    (old → new) link, so walks can reach the new region from the
    *    stored graph (out-degree of touched stored nodes grows past k —
    *    append-only supplementation, not a rewrite; this is what NSW
    *    bidirectional insertion does and what keeps recall from
    *    cratering as the graph grows without rewire).
    *
    * What appends do NOT do: re-rank stored nodes' original top-k
    * against the new vectors (a stored node whose true k-NN set now
    * includes a new vector keeps its stale list until a rebuild).
    * SCALE.md round 14 (navigation-graph lifecycle) measures that decay;
    * the SCALE.md table is the rebuild-cadence guidance.
    */
  def appendToKnnGraph(s: SparkSession, newVecs: DataFrame, path: String,
      k: Int = 3, checkIds: Boolean = true): Unit = {
    val tomb = knnGraphTombstones(s, path)
    if (checkIds) {
      // clash = against the LIVE (tombstone-filtered) view, not the raw
      // nodes table — a tombstoned-but-uncompacted id is NOT "already
      // present"; but it is not appendable either: the pending tombstone
      // would hide the new row in loadKnnGraph and the next compaction
      // would physically delete it (silent loss). Re-adding a retracted
      // id therefore requires compactKnnGraph first, and the two cases
      // get distinct errors (round-16 ADVICE).
      val nodes0 = s.read.parquet(s"$path/nodes").select(col("vec_id"))
      val live = tomb.fold(nodes0)(t => nodes0.join(t, Seq("vec_id"), "left_anti"))
      require(live.join(newVecs.select(col("vec_id")), Seq("vec_id"), "left_semi").isEmpty,
        s"appendToKnnGraph: batch vec_ids already present in the graph at $path " +
          "(vector ids must be new; refreshes belong to a rebuild pass)")
      tomb.foreach { t =>
        require(t.join(newVecs.select(col("vec_id")), Seq("vec_id"), "left_semi").isEmpty,
          s"appendToKnnGraph: batch vec_ids are tombstoned at $path — run " +
            "compactKnnGraph before re-adding a retracted id, or the pending " +
            "tombstone hides (then deletes) the re-ingested vector")
      }
    }
    // candidates from the LIVE view (round 15): a new node must never
    // select a tombstoned neighbor — the retracted node's blocks may be
    // compacted away before the next search walks the edge
    val stored0 = s.read.parquet(s"$path/nodes")
    val stored = tomb.fold(stored0)(t =>
      stored0.join(t, Seq("vec_id"), "left_anti"))
    val all = stored.unionByName(newVecs.select(col("vec_id"), col("v")))
      .select(col("vec_id"), col("v"), bucketCol(col("v")).as("bucket"))
    val nb = newVecs
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        bucketCol(col("v")).as("bucket"))
    val pairs = nb
      .join(all.select(col("vec_id").as("t_id"), col("v").as("t_v"), col("bucket")),
        "bucket")
      .filter(col("q_id") =!= col("t_id"))
      .select(col("q_id"), col("t_id"), cosineDist(col("q_v"), col("t_v")).as("dist"))
    // materialized once: the forward edges feed BOTH the append and the
    // reverse-link derivation — and the truncation makes every read of
    // the stored NODES table happen before anything is written below
    val fwd = graft.core.Ckpt.truncate(
      graft.functions.TopKAgg.knn(pairs, k)
        .select(col("q_id").as("src"), col("t_id").as("dst"),
          rnd(col("dist"), 6).as("dist")))
    // old endpoints only — via anti-join against the BATCH ids (dst ∈
    // stored ∪ batch, so ∉ batch ⟺ old), not a join with the stored
    // nodes frame: `stored` is a lazy parquet scan and the nodes append
    // below lands first
    val rev = fwd
      .join(newVecs.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
      .select(col("dst").as("src"), col("src").as("dst"), col("dist"))
    // nodes BEFORE edges (round-15 ADVICE): a crash between the two
    // writes then leaves a node without edges — unreachable but valid,
    // and the re-run path is a rebuild either way — where the old order
    // left edge rows referencing vec_ids absent from the node table
    newVecs.select(col("vec_id"), col("v"))
      .write.mode("append").parquet(s"$path/nodes")
    fwd.unionByName(rev).write.mode("append").parquet(s"$path/edges")
    graft.core.Ckpt.release(fwd)
  }

  // ---- ann_graph_search: beam search over the k-NN navigation graph -----

  /** ann_graph_search — GRAPH-based ANN (round 13): greedy beam search
    * over the `embedding_knn_graph` navigation structure, the third
    * index family next to the hash buckets (LSH) and the partition
    * cells (IVF/PQ) — the NSW/HNSW-lineage search pattern reduced to
    * its deterministic single-layer core. Per query (vec_id < 20): the
    * beam is SEEDED from the query's sign-LSH bucket (best in-bucket
    * target by (cosine distance, id); global-min-id fallback for empty
    * buckets) — the coarse-quantizer descent production graph-ANN uses
    * in place of HNSW's upper layers, composed here from the library's
    * own `ann_lsh_bucket` structure — then each of 3 hops expands the
    * beam's out-neighbors in the k = 3 graph over the target set,
    * scores them against the query, and keeps the best 4 by (true
    * cosine distance, id); the final top-3 is the answer. The beam
    * only improves monotonically (candidates = beam ∪ neighbors), so
    * revisit tracking is unnecessary. (The fixed-single-entry form was
    * measured (SCALE.md round 13) at recall ≈ 0 on 100 k unclustered
    * vectors — a k-NN graph has no long-range links to navigate from
    * one fixed node to an arbitrary query region; bucket seeding is
    * what makes the walk a REFINEMENT of the coarse index.)
    *
    * Scale shape: per-hop work is |queries| × beam × k rows — the
    * frontier join is keyed on node id against the edge table and the
    * scoring join is keyed on (q_id)/(t_id) against two pruned vector
    * projections; per-hop state per query is O(beam). The graph build
    * is the `embedding_knn_graph` bucket shape and amortizes across
    * every query batch (persisted in production, rebuilt here —
    * declared-row convention). Recall improves with beam/entry-count
    * knobs exactly as nprobe does for IVF; `ann_recall` is the
    * measurement row for that trade.
    */
  def graphSearch(s: SparkSession, d: String, beam: Int = 4, hops: Int = 3,
      k: Int = 3): DataFrame = {
    val e = emb(s, d)
    graphSearchOf(
      e.filter(col("vec_id") < 20).select(col("vec_id").as("q_id"), col("v").as("q_v")),
      e.filter(col("vec_id") >= 20).select(col("vec_id").as("t_id"), col("v").as("t_v")),
      beam, hops, k)
  }

  /** Core of `graphSearch` over arbitrary query/target frames
    * ((q_id, q_v) / (t_id, t_v)) — SCALE.md round 13 records the
    * beam/hops recall-cost trade at generated scale through this.
    */
  def graphSearchOf(q0: DataFrame, t0: DataFrame, beam: Int, hops: Int,
      k: Int, edges0: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ownership discipline (the Ckpt.isTruncated contract): an input the
    // caller already materialized is used as-is and NOT released here —
    // truncating it again would copy the blocks, and releasing it would
    // kill the caller's only copy. The QUERY frame is truncated too
    // (round-13 review): un-truncated, its lineage re-ran inside the
    // seeding join, the fallback, and every hop's score join.
    val qOwned = !Ckpt.isTruncated(q0)
    val qT = if (qOwned) Ckpt.truncate(q0) else q0
    val q = broadcast(qT)
    val tOwned = !Ckpt.isTruncated(t0)
    val t = if (tOwned) Ckpt.truncate(t0) else t0
    // `edges0`: a PREBUILT (src, dst) navigation graph — production
    // persists the graph and amortizes the build across query batches
    // (SCALE.md round 13 times the two stages separately through
    // this); the declared row rebuilds per run (row convention).
    val eOwned = edges0.forall(e => !Ckpt.isTruncated(e))
    val edges = edges0 match {
      case Some(e) if !eOwned => e
      case Some(e) => Ckpt.truncate(e)
      case None => Ckpt.truncate(
        knnGraphOf(t.select(col("t_id").as("vec_id"), col("t_v").as("v")), k)
          .select(col("src"), col("dst")))
    }
    val wBeam = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("t_id"))
    // ENTRY = the best target sharing the query's sign-LSH bucket (the
    // library's own coarse quantizer seeding the walk — how production
    // graph-ANN descends into the graph; SCALE.md round 13 measured the
    // single-global-entry form at recall ≈ 0 on 100 k unclustered
    // vectors: a k-NN graph has no long-range links, so a fixed entry
    // cannot navigate to an arbitrary query's region in O(hops)).
    // Queries whose bucket holds no target fall back to the global
    // minimum id.
    val qb = q.withColumn("bucket", bucketCol(col("q_v")))
    val tb = t.withColumn("bucket", bucketCol(col("t_v")))
    // materialized once: referenced by BOTH the fallback anti-join and
    // the seed union below (round-13 review — the target-set-wide
    // seeding join otherwise ran twice per call)
    val inBucket = Ckpt.truncate(qb.join(tb, "bucket")
      .select(col("q_id"), col("t_id"),
        cosineDist(col("q_v"), col("t_v")).as("dist"))
      .withColumn("rn", row_number().over(wBeam))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("t_id"), col("dist")))
    val fallback = q.join(inBucket.select(col("q_id")), Seq("q_id"), "left_anti")
      .crossJoin(broadcast(t.agg(min(col("t_id")).as("t_id"))))
      .join(t, "t_id")
      .select(col("q_id"), col("t_id"),
        cosineDist(col("q_v"), col("t_v")).as("dist"))
    var beamDf = Ckpt.truncate(inBucket.unionAll(fallback))
    Ckpt.release(inBucket)
    for (_ <- 1 to hops) {
      val nbr = beamDf.join(edges, beamDf("t_id") === edges("src"))
        .select(col("q_id"), col("dst").as("t_id")).distinct()
        .join(t, "t_id").join(q, "q_id")
        .select(col("q_id"), col("t_id"),
          cosineDist(col("q_v"), col("t_v")).as("dist"))
      val prev = beamDf
      beamDf = Ckpt.truncate(
        beamDf.unionAll(nbr)
          .groupBy(col("q_id"), col("t_id")).agg(min(col("dist")).as("dist"))
          .withColumn("rn", row_number().over(wBeam))
          .filter(col("rn") <= beam)
          .select(col("q_id"), col("t_id"), col("dist")))
      Ckpt.release(prev)
    }
    val out = Ckpt.truncate(
      beamDf.withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("t_id"), rnd(col("dist"), 6).as("dist"), col("rn")))
    Ckpt.release(beamDf)
    if (eOwned) Ckpt.release(edges)
    if (tOwned) Ckpt.release(t)
    if (qOwned) Ckpt.release(qT)
    out
  }

  // ---- embedding_outliers: robust distance-to-median outlier screen -----

  /** embedding_outliers — Iglewicz-Hoaglin modified z-score over each
    * vector's L2 distance to the corpus MEDIAN vector (per-dimension
    * discrete-rank medians): the embedding-space garbage detector run
    * before centroids/codebooks are fit (a mean centroid is itself
    * dragged by the outliers it should expose; `ts_mad`'s rationale).
    *
    * Every step is exactly reproducible, which a mean-centroid variant
    * would NOT be: per-dim medians are rank-⌈n/2⌉ SELECTIONS of raw
    * float values under the total order (x, vec_id) — no float sum
    * whose partial-merge order the engine owns — the distance is the
    * bit-identical fused left-fold (DistanceSpec), and med/MAD of the
    * distances are again discrete-rank selections. The 3.5 cutoff
    * compares doubles both engines derived from identical inputs.
    *
    * Scale: per-dim medians are d independent rank selections (one
    * (pos)-keyed window over posexploded rows — d × n rows but the
    * partition key is pos, so parallelism = d and no partition exceeds
    * corpus rows); the 64-double median vector broadcasts; distances
    * are a map; the global med/MAD selections sort the per-VECTOR
    * distance table (one row per vector). At petabyte scale the exact
    * global median would become `agg_approx_quantiles`' sketch — this
    * row pins the exact semantics.
    */
  def embeddingOutliers(s: SparkSession, d: String): DataFrame =
    embeddingOutliersOf(emb(s, d))

  /** Core of `embeddingOutliers` over any (vec_id, v: array<double>)
    * frame — split out so specs can plant a known outlier.
    */
  def embeddingOutliersOf(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dimW = Window.partitionBy(col("pos")).orderBy(col("x"), col("vec_id"))
    val medVec = broadcast(
      e.select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("rk", row_number().over(dimW))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("pos"))))
        // Column `/` is double division — `div` keeps the ⌊(n+1)/2⌋ rank integral
        .filter(col("rk") === expr("(n + 1) div 2"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, x))), p -> p.x)")
          .as("medv")))
    val dists = e.crossJoin(medVec)
      .select(col("vec_id"), Distance.l2(col("v"), col("medv")).as("dist"))
      .truncated()
    val n1 = broadcast(dists.agg(count(lit(1)).as("n")))
    def rankMedian(df: DataFrame, c: String): DataFrame =
      df.crossJoin(n1)
        .withColumn("rk", row_number().over(Window.orderBy(col(c), col("vec_id"))))
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col(c).as("m"))
    val med = broadcast(rankMedian(dists, "dist").select(col("m").as("med")))
    val absdev = dists.crossJoin(med)
      .withColumn("ad", abs(col("dist") - col("med")))
    val mad = broadcast(rankMedian(absdev.select(col("vec_id"), col("ad")), "ad")
      .select(col("m").as("mad")))
    absdev.crossJoin(mad)
      .withColumn("mz",
        when(col("mad") === 0, lit(0.0))
          .otherwise(lit(0.6745) * (col("dist") - col("med")) / col("mad")))
      .select(col("vec_id"), rnd(col("dist"), 6).as("dist"),
        rnd(col("mz"), 6).as("mz"), (col("mz") > 3.5).as("is_outlier"))
  }

  /** embedding_cell_balance — IVF index health read-out: per-cell
    * vector count, share of the corpus, and ratio to the mean cell
    * size. The imbalance this surfaces is the ann_ivf latency model:
    * probe cost is proportional to the PROBED cells' sizes, so a 10×
    * hot cell makes every query that probes it 10× slower — rebalance
    * (re-train centroids, split hot cells) when ratio_to_mean drifts.
    * Same stride centroids + `assignCells` min(struct) assignment as
    * the declared `ann_ivf` row; one cell-keyed count on top (cells
    * with zero vectors still report, via the left join from the
    * centroid table — an empty cell is an index defect worth seeing).
    */
  def cellBalance(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val t = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("t_id"), col("v").as("t_v"))
    val cent = e.filter(col("vec_id") >= 20 && col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))
    val sizes = cent.select(col("c_id").as("cell"))
      .join(assignCells(t, cent).groupBy("cell").agg(count(lit(1)).as("nv")),
        Seq("cell"), "left")
      .select(col("cell"), coalesce(col("nv"), lit(0L)).as("n"))
    val tot = broadcast(sizes.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_cells")))
    sizes.crossJoin(tot)
      .select(col("cell"), col("n"),
        rnd(col("n") / col("total").cast("double"), 6).as("share"),
        rnd(col("n") * col("n_cells") / col("total").cast("double"), 6)
          .as("ratio_to_mean"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embedding_cell_balance" -> cellBalance,
    "ann_cosine_topk" -> cosineTopK,
    "embedding_mmr" -> mmrSelect,
    "ann_lsh_bucket" -> lshBucketTopK,
    "ann_range_search" -> ((s, d) => rangeSearch(s, d)),
    "ann_ivf" -> ivfTopK,
    "ann_ivf_kmeans" -> Ckpt.scopedQ(ivfKmeansTopK),
    "ann_pq" -> pqTopK,
    "ann_pq_chunked" -> pqChunkedTopK,
    "ann_rerank" -> pqRerankTopK,
    "ann_ivf_pq" -> ivfPqTopK,
    "dedup_embedding" -> ((s, d) => dedupEmbedding(s, d)),
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic2" -> dedupSemantic2,
    "embedding_quantize" -> embeddingQuantize,
    "embedding_normalize" -> embeddingNormalize,
    "embedding_centroid" -> embeddingCentroid,
    "embedding_silhouette" -> embeddingSilhouette,
    "embedding_drift" -> embeddingDrift,
    "embedding_pca" -> embeddingPca,
    "embedding_dim_stats" -> embeddingDimStats,
    "embedding_norm_hist" -> embeddingNormHist,
    "ann_hamming" -> hammingTopK,
    "embedding_outliers" -> Ckpt.scopedQ(embeddingOutliers),
    "embedding_knn_graph" -> ((s, d) => knnGraph(s, d)),
    "ann_graph_search" -> ((s, d) => graphSearch(s, d)),
    "ann_recall" -> annRecall,
    "ann_ndcg" -> annNdcg,
    "ann_pq_distortion" -> pqDistortion,
  )

  private def dotSql(a: String, b: String): String = graft.rel.Queries.dotSql(a, b)
  private def l2Sql(a: String, b: String): String = graft.rel.Queries.l2Sql(a, b)

  /** Unrolled Lloyd rounds for the `ann_ivf_kmeans` oracle: round r
    * assigns `tr` to cent(r−1) by the (dist, c_id) argmin, takes the
    * per-(cell, dim) mean ROUNDED exactly like the Spark twin's
    * `roundTo = 6`, rebuilds the centroid list, and carries empty
    * cells' previous centroids. MATERIALIZED per round — a plain CTE
    * referenced k times re-evaluates its whole upstream chain k^rounds
    * times (the graph_kcore oracle lesson).
    */
  private def kmeansCentSql(rounds: Int): String =
    (1 to rounds).map { r =>
      val prev = s"cent${r - 1}"
      s"d$r AS (SELECT t.t_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist " +
        s"FROM tr t CROSS JOIN $prev c), " +
        s"a$r AS MATERIALIZED (SELECT t_id, c_id AS cell FROM " +
        s"(SELECT t_id, c_id, row_number() OVER (PARTITION BY t_id ORDER BY dist, c_id) AS rn " +
        s"FROM d$r) WHERE rn = 1), " +
        s"m$r AS MATERIALIZED (SELECT cell, i::INT AS pos, rnd(avg(v[i::INT]), 6) AS m FROM " +
        s"(SELECT a$r.cell, t.v, unnest(range(1, len(t.v) + 1)) AS i " +
        s"FROM tr t JOIN a$r ON t.t_id = a$r.t_id) GROUP BY 1, 2), " +
        s"n$r AS (SELECT cell AS c_id, list(m ORDER BY pos) AS v FROM m$r GROUP BY 1), " +
        s"cent$r AS MATERIALIZED (SELECT * FROM n$r UNION ALL SELECT c.c_id, c.v " +
        s"FROM $prev c WHERE c.c_id NOT IN (SELECT c_id FROM n$r))"
    }.mkString(", ")
  private def l2sqSql(a: String, b: String): String = graft.rel.Queries.l2sqSql(a, b)

  private def cosSql(a: String, b: String): String =
    s"1e0 - ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  private val bucketSql: String =
    (0 until 8).map(i => s"CASE WHEN v[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END").mkString(" + ")

  /** Shared PQ/ADC oracle chain (through `ad` = per-pair ADC distance):
    * identical subspace slicing (1-based inclusive list slices = Spark's
    * slice(start, length)), identical squared-L2 folds, min-(dist, j)
    * encoding, and the same fixed-order partial sum. `ann_pq` tops it
    * with a direct top-3; `ann_rerank` shortlists top-10 then re-ranks
    * by exact L2.
    */
  private lazy val pqChainSql: String =
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "sub AS (SELECT unnest(range(0, 4)) AS s), " +
      "cbv AS (SELECT vec_id - 20 AS j, v FROM e WHERE vec_id >= 20 AND vec_id < 36), " +
      "cbs AS (SELECT j, s, v[(s * (len(v) // 4) + 1)::INT:((s + 1) * (len(v) // 4))::INT] AS cw " +
      "FROM cbv CROSS JOIN sub), " +
      "ts AS (SELECT vec_id AS t_id, s, " +
      "v[(s * (len(v) // 4) + 1)::INT:((s + 1) * (len(v) // 4))::INT] AS tv " +
      "FROM e CROSS JOIN sub WHERE vec_id >= 20), " +
      "qsub AS (SELECT vec_id AS q_id, s, " +
      "v[(s * (len(v) // 4) + 1)::INT:((s + 1) * (len(v) // 4))::INT] AS qv " +
      "FROM e CROSS JOIN sub WHERE vec_id < 20), " +
      "encd AS (SELECT t_id, ts.s AS s, j, " +
      s"${l2sqSql("tv", "cw")} AS dist FROM ts JOIN cbs ON ts.s = cbs.s), " +
      "enc AS (SELECT t_id, s, j AS code FROM (SELECT t_id, s, j, dist, " +
      "row_number() OVER (PARTITION BY t_id, s ORDER BY dist, j) AS rn FROM encd) " +
      "WHERE rn = 1), " +
      "dt AS (SELECT q_id, qsub.s AS s, j, " +
      s"${l2sqSql("qv", "cw")} AS pd FROM qsub JOIN cbs ON qsub.s = cbs.s), " +
      "adc AS (SELECT q_id, t_id, " +
      "sum(CASE WHEN dt.s = 0 THEN pd END) AS p0, " +
      "sum(CASE WHEN dt.s = 1 THEN pd END) AS p1, " +
      "sum(CASE WHEN dt.s = 2 THEN pd END) AS p2, " +
      "sum(CASE WHEN dt.s = 3 THEN pd END) AS p3 " +
      "FROM enc JOIN dt ON dt.s = enc.s AND dt.j = enc.code GROUP BY 1, 2), " +
      "ad AS (SELECT q_id, t_id, sqrt(p0 + p1 + p2 + p3) AS dist FROM adc)"

  /** Sign-signature half in DuckDB — identical bit assembly to
    * `signHalf` (list_sum over BIGINT shifts; cast back from HUGEINT).
    */
  private def signHalfSql(v: String, half: Int): String =
    s"list_sum(list_transform(range(0, 32), i -> CASE WHEN $v[${32 * half} + i + 1] >= 0 " +
      "THEN 1::BIGINT << i ELSE 0::BIGINT END))::BIGINT"

  val rawOracles: Map[String, String] = Map(
    "ann_hamming" ->
      // same two-half popcount(xor) integer distance; DuckDB ^ is POWER
      // so xor() is spelled out; bit_count is TINYINT → the sum casts
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        s"sg AS (SELECT vec_id, ${signHalfSql("v", 0)} AS lo, " +
        s"${signHalfSql("v", 1)} AS hi FROM e), " +
        "qp AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, " +
        "(bit_count(xor(a.lo, b.lo))::BIGINT + bit_count(xor(a.hi, b.hi))::BIGINT) AS hamming " +
        "FROM sg a CROSS JOIN sg b WHERE a.vec_id < 20 AND b.vec_id >= 20), " +
        "qk AS (SELECT q_id, t_id, hamming, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY hamming, t_id) AS rn FROM qp) " +
        "SELECT q_id, t_id, hamming, rn::INT AS rn FROM qk WHERE rn <= 3"),

    "ann_pq_distortion" ->
      // the pqChainSql encd CTE's min per (t_id, s), summed in fixed
      // subspace order (the adc p0..p3 discipline), rank-selected
      // median
      (s"WITH $pqChainSql, " +
        "mind AS (SELECT t_id, s, min(dist) AS md FROM encd GROUP BY 1, 2), " +
        "dd AS (SELECT t_id, sqrt(" +
        "sum(CASE WHEN s = 0 THEN md END) + sum(CASE WHEN s = 1 THEN md END) + " +
        "sum(CASE WHEN s = 2 THEN md END) + sum(CASE WHEN s = 3 THEN md END)) AS dist " +
        "FROM mind GROUP BY 1), " +
        "ag AS (SELECT count(*) AS n, min(dist) AS mn, max(dist) AS mx FROM dd), " +
        "md2 AS (SELECT dist AS median_dist FROM " +
        "(SELECT dist, row_number() OVER (ORDER BY dist, t_id) AS rk FROM dd), ag " +
        "WHERE rk = (n + 1) // 2) " +
        "SELECT n, rnd(mn, 6) AS min_dist, rnd(median_dist, 6) AS median_dist, " +
        "rnd(mx, 6) AS max_dist FROM ag, md2"),

    "ann_ndcg" ->
      // same two rankings as ann_recall, graded by exact rank; DCG is
      // the identical fixed three-term expression
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "bq AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM e a CROSS JOIN e b WHERE a.vec_id < 20 AND b.vec_id >= 20), " +
        "brute AS (SELECT q_id, t_id, 4 - rn AS rel FROM (SELECT q_id, t_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM bq) " +
        "WHERE rn <= 3), " +
        s"eb AS (SELECT vec_id, v, $bucketSql AS bucket FROM e), " +
        "lp AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < 20 AND b.vec_id >= 20), " +
        "lsh AS (SELECT q_id, t_id, rn FROM (SELECT q_id, t_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM lp) " +
        "WHERE rn <= 3), " +
        "g AS (SELECT lsh.q_id, " +
        "coalesce(max(CASE WHEN lsh.rn = 1 THEN brute.rel END), 0)::BIGINT AS r1, " +
        "coalesce(max(CASE WHEN lsh.rn = 2 THEN brute.rel END), 0)::BIGINT AS r2, " +
        "coalesce(max(CASE WHEN lsh.rn = 3 THEN brute.rel END), 0)::BIGINT AS r3 " +
        "FROM lsh LEFT JOIN brute ON lsh.q_id = brute.q_id AND lsh.t_id = brute.t_id " +
        "GROUP BY 1), " +
        "qs AS (SELECT DISTINCT q_id FROM brute) " +
        "SELECT qs.q_id, " +
        "rnd(coalesce(r1 + r2 / log2(3.0) + r3 / 2.0e0, 0e0), 6) AS dcg, " +
        "rnd(coalesce((r1 + r2 / log2(3.0) + r3 / 2.0e0) / " +
        "(3.0e0 + 2.0e0 / log2(3.0) + 0.5e0), 0e0), 6) AS ndcg " +
        "FROM qs LEFT JOIN g ON qs.q_id = g.q_id"),

    "ann_recall" ->
      // both rankings restated; left join keeps bucket-isolated
      // queries at recall 0
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "bq AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM e a CROSS JOIN e b WHERE a.vec_id < 20 AND b.vec_id >= 20), " +
        "brute AS (SELECT q_id, t_id FROM (SELECT q_id, t_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM bq) " +
        "WHERE rn <= 3), " +
        s"eb AS (SELECT vec_id, v, $bucketSql AS bucket FROM e), " +
        "lp AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < 20 AND b.vec_id >= 20), " +
        "lsh AS (SELECT q_id, t_id FROM (SELECT q_id, t_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM lp) " +
        "WHERE rn <= 3), " +
        "hits AS (SELECT brute.q_id, count(*) AS n_hit FROM brute " +
        "JOIN lsh ON brute.q_id = lsh.q_id AND brute.t_id = lsh.t_id GROUP BY 1), " +
        "qs AS (SELECT DISTINCT q_id FROM brute) " +
        "SELECT qs.q_id, coalesce(n_hit, 0)::BIGINT AS n_hit, " +
        "rnd(coalesce(n_hit, 0) / 3e0, 6) AS recall " +
        "FROM qs LEFT JOIN hits ON qs.q_id = hits.q_id"),

    "embedding_knn_graph" ->
      // the ann_lsh_bucket oracle over ALL vectors with self-pairs
      // excluded, k = 3
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        s"eb AS (SELECT vec_id, v, $bucketSql AS bucket FROM e), " +
        "qp AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
        "qk AS (SELECT src, dst, dist, " +
        "row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn FROM qp) " +
        "SELECT src, dst, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 3"),

    "ann_graph_search" -> {
      // the knn-graph CTEs over the TARGET set + 3 unrolled beam hops;
      // beam frames MATERIALIZED (each is referenced twice per hop —
      // the bpeRoundSql inlining lesson); unrounded-dist ranking is
      // safe (fused cosine ≡ list arithmetic, DistanceSpec)
      def hop(i: Int): String =
        s"n$i AS (SELECT DISTINCT b${i - 1}.q_id, g.dst AS t_id " +
          s"FROM b${i - 1} JOIN g ON b${i - 1}.t_id = g.src), " +
          s"d$i AS (SELECT n$i.q_id, n$i.t_id, ${cosSql("q_v", "t_v")} AS dist " +
          s"FROM n$i JOIN q USING (q_id) JOIN t USING (t_id)), " +
          s"c$i AS (SELECT q_id, t_id, min(dist) AS dist FROM " +
          s"(SELECT * FROM b${i - 1} UNION ALL SELECT * FROM d$i) GROUP BY 1, 2), " +
          s"b$i AS MATERIALIZED (SELECT q_id, t_id, dist FROM " +
          s"(SELECT c$i.*, row_number() OVER (PARTITION BY q_id " +
          s"ORDER BY dist, t_id) AS rn FROM c$i) WHERE rn <= 4)"
      "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 20), " +
        "t AS (SELECT vec_id AS t_id, v AS t_v FROM e WHERE vec_id >= 20), " +
        s"eb AS (SELECT vec_id, v, $bucketSql AS bucket FROM " +
        "(SELECT t_id AS vec_id, t_v AS v FROM t)), " +
        "gp AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
        "g AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst, " +
        "row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn FROM gp) " +
        "WHERE rn <= 3), " +
        s"qb AS (SELECT vec_id AS q_id, v AS q_v, $bucketSql AS bucket FROM " +
        "(SELECT q_id AS vec_id, q_v AS v FROM q)), " +
        s"ibp AS (SELECT qb.q_id, eb.vec_id AS t_id, ${cosSql("q_v", "v")} AS dist " +
        "FROM qb JOIN eb USING (bucket)), " +
        "ib AS (SELECT q_id, t_id, dist FROM (SELECT ibp.*, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM ibp) WHERE rn = 1), " +
        "en AS (SELECT min(t_id) AS t_id FROM t), " +
        s"fb AS (SELECT q.q_id, t.t_id, ${cosSql("q_v", "t_v")} AS dist " +
        "FROM q CROSS JOIN en JOIN t ON t.t_id = en.t_id " +
        "WHERE q.q_id NOT IN (SELECT q_id FROM ib)), " +
        "b0 AS MATERIALIZED (SELECT * FROM ib UNION ALL SELECT * FROM fb), " +
        (1 to 3).map(hop).mkString(", ") +
        " SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM " +
        "(SELECT b3.*, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn " +
        "FROM b3) WHERE rn <= 3"
    },

    "embedding_outliers" ->
      // per-dim rank-selection medians under (x, vec_id); fused-fold L2
      // against the median vector; rank-selection med/MAD of distances;
      // identical ⌊(n+1)/2⌋ rank rule throughout
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "px AS (SELECT vec_id, i AS pos, v[i] AS x FROM e, " +
        "(SELECT unnest(range(1, 65)) AS i) idx), " +
        "rk AS (SELECT pos, x, row_number() OVER (PARTITION BY pos ORDER BY x, vec_id) AS r, " +
        "count(*) OVER (PARTITION BY pos) AS n FROM px), " +
        "md AS (SELECT pos, x FROM rk WHERE r = (n + 1) // 2), " +
        "mv AS (SELECT list(x ORDER BY pos) AS medv FROM md), " +
        s"ds AS (SELECT vec_id, ${l2Sql("v", "medv")} AS dist FROM e, mv), " +
        "nn AS (SELECT count(*) AS n FROM ds), " +
        "dr AS (SELECT vec_id, dist, row_number() OVER (ORDER BY dist, vec_id) AS r FROM ds), " +
        "med AS (SELECT dist AS med FROM dr, nn WHERE r = (n + 1) // 2), " +
        "ad AS (SELECT vec_id, dist, abs(dist - med) AS ad FROM ds, med), " +
        "ar AS (SELECT vec_id, ad, row_number() OVER (ORDER BY ad, vec_id) AS r FROM ad), " +
        "mad AS (SELECT ad AS mad FROM ar, nn WHERE r = (n + 1) // 2), " +
        "fin AS (SELECT vec_id, dist, CASE WHEN mad = 0e0 THEN 0e0 " +
        "ELSE 0.6745e0 * (dist - med) / mad END AS mz FROM ad, med, mad) " +
        "SELECT vec_id, rnd(dist, 6) AS dist, rnd(mz, 6) AS mz, " +
        "mz > 3.5e0 AS is_outlier FROM fin"),

    "embedding_mmr" -> {
      // shortlist + pair sims, then MmrK unrolled greedy rounds, each
      // MATERIALIZED; sims as 1 − (1 − cos) and weights as λ / (1 − λ)
      // computed — mirroring the Spark expression trees exactly
      val lam = MmrLambda
      val head =
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "qp AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, b.v AS t_v, " +
          s"1e0 - (${cosSql("a.v", "b.v")}) AS simq, " +
          s"row_number() OVER (PARTITION BY a.vec_id ORDER BY ${cosSql("a.v", "b.v")}, b.vec_id) AS rn " +
          "FROM e a CROSS JOIN e b WHERE a.vec_id < 10 AND b.vec_id >= 20), " +
          s"cand AS MATERIALIZED (SELECT q_id, t_id, t_v, simq FROM qp WHERE rn <= $MmrShortlist), " +
          "pr AS MATERIALIZED (SELECT x.q_id, x.t_id AS a_id, y.t_id AS b_id, " +
          s"y.simq AS b_simq, 1e0 - (${cosSql("x.t_v", "y.t_v")}) AS sim " +
          "FROM cand x JOIN cand y ON x.q_id = y.q_id AND x.t_id <> y.t_id), " +
          s"p1 AS MATERIALIZED (SELECT q_id, t_id, 1 AS rank, $lam * simq AS score FROM " +
          s"(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY $lam * simq DESC, t_id) AS rk " +
          "FROM cand) WHERE rk = 1), " +
          "sel1 AS MATERIALIZED (SELECT q_id, t_id FROM p1), "
      val rounds = (2 to MmrK).map { r =>
        val sel = s"sel${r - 1}"
        s"s$r AS MATERIALIZED (SELECT pr.q_id, pr.b_id, max(pr.sim) AS maxsim, " +
          s"max(pr.b_simq) AS simq FROM pr JOIN $sel ON pr.q_id = $sel.q_id " +
          s"AND pr.a_id = $sel.t_id WHERE NOT EXISTS (SELECT 1 FROM $sel z " +
          "WHERE z.q_id = pr.q_id AND z.t_id = pr.b_id) GROUP BY 1, 2), " +
          s"c$r AS MATERIALIZED (SELECT q_id, b_id AS t_id, " +
          s"$lam * simq - (1e0 - $lam) * maxsim AS score FROM s$r), " +
          s"p$r AS MATERIALIZED (SELECT q_id, t_id, $r AS rank, score FROM " +
          s"(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, t_id) AS rk " +
          s"FROM c$r) WHERE rk = 1), " +
          s"sel$r AS MATERIALIZED (SELECT q_id, t_id FROM sel${r - 1} " +
          s"UNION ALL SELECT q_id, t_id FROM p$r), "
      }.mkString
      val unionAll = (1 to MmrK).map(r => s"SELECT * FROM p$r").mkString(" UNION ALL ")
      head + rounds.stripSuffix(", ") + " " +
        s"SELECT q_id, t_id, rank::INT AS rank, rnd(score, 6) AS score FROM ($unionAll)"
    },

    "ann_cosine_topk" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "qp AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM e a CROSS JOIN e b WHERE a.vec_id < 20 AND b.vec_id >= 20), " +
        "qk AS (SELECT q_id, t_id, dist, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM qp) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 10"),

    "ann_lsh_bucket" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        s"eb AS (SELECT vec_id, v, $bucketSql AS bucket FROM e), " +
        "qp AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < 20 AND b.vec_id >= 20), " +
        "qk AS (SELECT q_id, t_id, dist, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM qp) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 3"),

    "ann_range_search" ->
      // same bucket candidates, radius predicate on the unrounded
      // bit-identical fused distance (never the rounded output column)
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        s"eb AS (SELECT vec_id, v, $bucketSql AS bucket FROM e), " +
        "qp AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, " +
        s"${cosSql("a.v", "b.v")} AS dist " +
        "FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < 20 AND b.vec_id >= 20) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist FROM qp WHERE dist <= 0.8e0"),

    "embedding_cell_balance" ->
      // same stride centroids and (dist, c_id) argmin as ann_ivf; the
      // left join keeps empty cells; counts exact to the two closing
      // doubles
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "tr AS (SELECT vec_id AS t_id, v FROM e WHERE vec_id >= 20), " +
        "cent AS (SELECT vec_id AS c_id, v FROM e WHERE vec_id >= 20 AND vec_id % 40 = 0), " +
        "asg AS (SELECT t_id, c_id, row_number() OVER (PARTITION BY t_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.t_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM tr t CROSS JOIN cent c)), " +
        "cells AS (SELECT t_id, c_id AS cell FROM asg WHERE rn = 1), " +
        "sz AS (SELECT c.c_id AS cell, count(ce.t_id)::BIGINT AS n " +
        "FROM cent c LEFT JOIN cells ce ON ce.cell = c.c_id GROUP BY 1), " +
        "tot AS (SELECT sum(n)::BIGINT AS total, count(*) AS n_cells FROM sz) " +
        "SELECT cell, n, rnd(n / total::DOUBLE, 6) AS share, " +
        "rnd(n * n_cells / total::DOUBLE, 6) AS ratio_to_mean FROM sz, tot"),

    "ann_ivf_kmeans" ->
      // the ann_ivf oracle with the stride quantizer replaced by two
      // unrolled MATERIALIZED Lloyd rounds (assignment argmin →
      // per-(cell, dim) 6-dp-rounded mean → array rebuild → empty-cell
      // carry) — the events_markov_stationary unroll discipline; the
      // Spark twin rounds each round identically (roundTo = 6)
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "tr AS (SELECT vec_id AS t_id, v FROM e WHERE vec_id >= 20), " +
        "qs AS (SELECT vec_id AS q_id, v FROM e WHERE vec_id < 20), " +
        "cent0 AS (SELECT vec_id AS c_id, v FROM e WHERE vec_id >= 20 AND vec_id % 40 = 0), " +
        kmeansCentSql(2) + ", " +
        "asg AS (SELECT t_id, c_id, row_number() OVER (PARTITION BY t_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.t_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM tr t CROSS JOIN cent2 c)), " +
        "cells AS (SELECT t_id, c_id AS cell FROM asg WHERE rn = 1), " +
        "probe AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT q.q_id, c.c_id, ${l2Sql("q.v", "c.v")} AS dist FROM qs q CROSS JOIN cent2 c)), " +
        "pr AS (SELECT q_id, c_id AS cell FROM probe WHERE rn <= 3), " +
        "pp AS (SELECT p.q_id, ce.t_id, " +
        s"${l2Sql("q.v", "t.v")} AS dist " +
        "FROM pr p JOIN cells ce ON ce.cell = p.cell " +
        "JOIN qs q ON q.q_id = p.q_id JOIN tr t ON t.t_id = ce.t_id), " +
        "qk AS (SELECT q_id, t_id, dist, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM pp) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 3"),

    "ann_ivf" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "tr AS (SELECT vec_id AS t_id, v FROM e WHERE vec_id >= 20), " +
        "qs AS (SELECT vec_id AS q_id, v FROM e WHERE vec_id < 20), " +
        "cent AS (SELECT vec_id AS c_id, v FROM e WHERE vec_id >= 20 AND vec_id % 40 = 0), " +
        "asg AS (SELECT t_id, c_id, row_number() OVER (PARTITION BY t_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.t_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM tr t CROSS JOIN cent c)), " +
        "cells AS (SELECT t_id, c_id AS cell FROM asg WHERE rn = 1), " +
        "probe AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT q.q_id, c.c_id, ${l2Sql("q.v", "c.v")} AS dist FROM qs q CROSS JOIN cent c)), " +
        "pr AS (SELECT q_id, c_id AS cell FROM probe WHERE rn <= 3), " +
        "pp AS (SELECT p.q_id, ce.t_id, " +
        s"${l2Sql("q.v", "t.v")} AS dist " +
        "FROM pr p JOIN cells ce ON ce.cell = p.cell " +
        "JOIN qs q ON q.q_id = p.q_id JOIN tr t ON t.t_id = ce.t_id), " +
        "qk AS (SELECT q_id, t_id, dist, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM pp) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 3"),

    "ann_pq" ->
      (s"WITH $pqChainSql, " +
        "qk AS (SELECT q_id, t_id, dist, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM ad) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 3"),

    "ann_ivf_pq" ->
      // the PQ ADC chain restricted to the IVF candidate pairs: same
      // cell/probe CTEs as ann_ivf, same ad CTE as ann_pq, top-k after
      // the candidate filter
      (s"WITH $pqChainSql, " +
        "cent AS (SELECT vec_id AS c_id, v FROM e WHERE vec_id >= 20 AND vec_id % 40 = 0), " +
        "asg AS (SELECT t_id, c_id, row_number() OVER (PARTITION BY t_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT e.vec_id AS t_id, c.c_id, ${l2Sql("e.v", "c.v")} AS dist " +
        "FROM e CROSS JOIN cent c WHERE e.vec_id >= 20)), " +
        "cells AS (SELECT t_id, c_id AS cell FROM asg WHERE rn = 1), " +
        "probe AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT e.vec_id AS q_id, c.c_id, ${l2Sql("e.v", "c.v")} AS dist " +
        "FROM e CROSS JOIN cent c WHERE e.vec_id < 20)), " +
        "pr AS (SELECT q_id, c_id AS cell FROM probe WHERE rn <= 3), " +
        "cand AS (SELECT p.q_id, ce.t_id FROM pr p JOIN cells ce ON ce.cell = p.cell), " +
        "adf AS (SELECT ad.q_id, ad.t_id, ad.dist FROM ad " +
        "JOIN cand ON cand.q_id = ad.q_id AND cand.t_id = ad.t_id), " +
        "qk AS (SELECT q_id, t_id, dist, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM adf) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 3"),

    // same oracle as ann_pq — the kNN-IS block split must be
    // output-invisible (the fknn_classify_chunked precedent)
    "ann_pq_chunked" ->
      (s"WITH $pqChainSql, " +
        "qk AS (SELECT q_id, t_id, dist, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM ad) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 3"),

    "ann_rerank" ->
      // shortlist = PQ top-10 on UNROUNDED ADC distance; exact L2 only
      // on the shortlisted (q, t) pairs, re-ranked to top-3
      (s"WITH $pqChainSql, " +
        "cand AS (SELECT q_id, t_id FROM (SELECT q_id, t_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM ad) " +
        "WHERE rn <= 10), " +
        "rr AS (SELECT c.q_id, c.t_id, " +
        s"${l2Sql("q.v", "t.v")} AS dist " +
        "FROM cand c " +
        "JOIN (SELECT vec_id AS q_id, v FROM e WHERE vec_id < 20) q ON q.q_id = c.q_id " +
        "JOIN (SELECT vec_id AS t_id, v FROM e WHERE vec_id >= 20) t ON t.t_id = c.t_id), " +
        "qk AS (SELECT q_id, t_id, dist, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM rr) " +
        "SELECT q_id, t_id, rnd(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= 3"),

    "embedding_normalize" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, " +
        s"sqrt(${dotSql("embedding::DOUBLE[]", "embedding::DOUBLE[]")}) AS nrm " +
        "FROM embeddings WHERE vec_id < 50) " +
        "SELECT vec_id, i::INT - 1 AS pos, rnd(v[i::INT] / nrm, 6) AS xn " +
        "FROM (SELECT vec_id, v, nrm, unnest(range(1, len(v) + 1)) AS i FROM e)"),

    "embedding_centroid" ->
      ("WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings), " +
        "long AS (SELECT label, i::INT - 1 AS pos, v[i::INT] AS x " +
        "FROM (SELECT label, v, unnest(range(1, len(v) + 1)) AS i FROM e)) " +
        "SELECT label, pos, rnd(avg(x), 6) AS m FROM long GROUP BY 1, 2"),

    "embedding_silhouette" ->
      // identical edge-rounded centroids (the embedding_centroid long
      // form), same list-fold L2, same a/b/sil expressions
      ("WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cd AS (SELECT label AS c_label, i AS pos, rnd(avg(v[i::INT]), 6) AS m " +
        "FROM (SELECT label, v, unnest(range(1, len(v) + 1)) AS i FROM e) GROUP BY 1, 2), " +
        "ct AS (SELECT c_label, list(m ORDER BY pos) AS c_v FROM cd GROUP BY 1), " +
        "dm AS (SELECT vec_id, label, c_label, " + l2Sql("v", "c_v") + " AS dist " +
        "FROM e CROSS JOIN ct), " +
        "ab AS (SELECT vec_id, label, max(CASE WHEN label = c_label THEN dist END) AS a, " +
        "min(CASE WHEN label <> c_label THEN dist END) AS b FROM dm GROUP BY 1, 2), " +
        "sl AS (SELECT label, (b - a) / greatest(a, b) AS sil, a, b FROM ab) " +
        "SELECT label, count(*) AS n, rnd(avg(sil), 6) AS mean_sil, " +
        "rnd(avg(a), 6) AS mean_a, rnd(avg(b), 6) AS mean_b FROM sl GROUP BY 1"),

    "embedding_drift" ->
      ("WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), " +
        "long AS (SELECT vec_id % 2 AS half, label, i::INT - 1 AS pos, v[i::INT] AS x " +
        "FROM (SELECT vec_id, label, v, unnest(range(1, len(v) + 1)) AS i FROM e)), " +
        "c0 AS (SELECT label, pos, avg(x) AS m0 FROM long WHERE half = 0 GROUP BY 1, 2), " +
        "c1 AS (SELECT label, pos, avg(x) AS m1 FROM long WHERE half = 1 GROUP BY 1, 2) " +
        "SELECT c0.label, rnd(sqrt(sum((m0 - m1) * (m0 - m1))), 6) AS drift " +
        "FROM c0 JOIN c1 USING (label, pos) GROUP BY 1"),

    "embedding_dim_stats" ->
      // same explicit raw moments; positions via the shared
      // unnest(range) idiom
      ("WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings), " +
        "long AS (SELECT i::INT - 1 AS pos, v[i::INT] AS x " +
        "FROM (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM e)) " +
        "SELECT pos, count(*) AS n, rnd(avg(x), 6) AS mean, " +
        "rnd(avg(x * x) - avg(x) * avg(x), 6) AS variance, " +
        "rnd(min(x), 6) AS mn, rnd(max(x), 6) AS mx FROM long GROUP BY 1"),

    "embedding_norm_hist" ->
      // list_sum ≡ the left-fold (element-order parity contract);
      // norm rounded 6dp BEFORE the bucket floor
      ("WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings), " +
        "nr AS (SELECT rnd(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS nrm FROM e) " +
        "SELECT floor(nrm * 10)::BIGINT AS bucket, count(*) AS n, " +
        "rnd(avg(nrm), 6) AS avg_norm FROM nr GROUP BY 1"),

    "embedding_pca" ->
      // same seeded power step: score = list-sum/√d (the left-fold
      // parity the shared vector fragments pin), one (pos)-keyed sum,
      // unit normalization under the shared rnd(6)
      ("WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings), " +
        "s AS (SELECT v, list_sum(v) / sqrt(64e0) AS sc FROM e), " +
        "long AS (SELECT sc, i::INT - 1 AS pos, v[i::INT] AS x " +
        "FROM (SELECT v, sc, unnest(range(1, len(v) + 1)) AS i FROM s)), " +
        "comp AS (SELECT pos, sum(sc * x) AS c FROM long GROUP BY 1), " +
        "n AS (SELECT sqrt(sum(c * c)) AS nrm FROM comp) " +
        "SELECT pos, rnd(c / nrm, 6) AS pc1 FROM comp, n"),

    "dedup_embedding" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200), " +
        "pp AS (SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2, " +
        s"${cosSql("a.v", "b.v")} AS cd " +
        "FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id) " +
        "SELECT vec_id1, vec_id2, rnd(cd, 6) AS dist FROM pp WHERE cd < 0.7e0"),

    "embedding_quantize" ->
      // identical grid arithmetic and fold order; the CASE keeps the
      // degenerate constant vector exact in both engines
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200), " +
        "m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e), " +
        "sc AS (SELECT vec_id, v, mn, (mx - mn) / 255e0 AS scale FROM m), " +
        "vh AS (SELECT vec_id, v, mn, scale, CASE WHEN scale > 0 THEN " +
        "list_transform(v, x -> mn + floor((x - mn) / scale + 0.5e0) * scale) " +
        "ELSE v END AS vhat FROM sc) " +
        "SELECT vec_id, rnd(mn, 6) AS mn, rnd(scale, 6) AS scale, " +
        s"rnd(${l2Sql("v", "vhat")}, 6) AS q_err FROM vh"),

    "dedup_semantic" ->
      // same stride quantizer + (dist, c_id) argmin as ann_ivf's asg;
      // in-cell pairs only; keep = no lower-id cell-mate under 0.75
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cent AS (SELECT vec_id AS c_id, v FROM e WHERE vec_id % 40 = 0), " +
        "asg AS (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.vec_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM e t CROSS JOIN cent c)), " +
        "cells AS (SELECT vec_id, c_id AS cell FROM asg WHERE rn = 1), " +
        "dups AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b " +
        "ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        "JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id " +
        s"WHERE ${cosSql("ea.v", "eb.v")} < 0.75e0) " +
        "SELECT c.vec_id, c.cell, d.vec_id IS NULL AS keep " +
        "FROM cells c LEFT JOIN dups d ON d.vec_id = c.vec_id"),

    "dedup_semantic2" ->
      // same quantizer ranking; each vector carries its TWO nearest
      // cells (rn <= 2) into the pair scan — a pair meeting in several
      // probe cells dedupes via DISTINCT; the reported cell stays the
      // primary (rn = 1) assignment
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "cent AS (SELECT vec_id AS c_id, v FROM e WHERE vec_id % 40 = 0), " +
        "asg AS (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.vec_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM e t CROSS JOIN cent c)), " +
        "cells AS (SELECT vec_id, c_id AS cell FROM asg WHERE rn = 1), " +
        "probes AS (SELECT vec_id, c_id AS cell FROM asg WHERE rn <= 2), " +
        "dups AS (SELECT DISTINCT b.vec_id FROM probes a JOIN probes b " +
        "ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        "JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id " +
        s"WHERE ${cosSql("ea.v", "eb.v")} < 0.75e0) " +
        "SELECT c.vec_id, c.cell, d.vec_id IS NULL AS keep " +
        "FROM cells c LEFT JOIN dups d ON d.vec_id = c.vec_id"),

    "ingest_vec_stream" ->
      // the streamed vector-ingest funnel's batch twin: standing cells =
      // rn-1 assignment to the standing stride centroids; each drop
      // probes its TWO nearest cells (the runVec nprobe = 2 setting) and
      // checks cosine < eps against the CURRENT index (standing ∪ drop-1
      // survivors for drop 2 — appendToIvfIndex never retrains, so
      // kept1's cells are its primary assignments). Heavy CTEs
      // MATERIALIZED (the graph_kcore inlining lesson: cells1 is
      // referenced three times).
      ("WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500), " +
        "cent AS MATERIALIZED (SELECT vec_id AS c_id, v FROM e " +
        "WHERE vec_id % 5 <> 1 AND vec_id % 5 <> 3 AND vec_id % 40 = 0), " +
        "standing AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 1 AND vec_id % 5 <> 3), " +
        "cells0 AS MATERIALIZED (SELECT vec_id, c_id AS cell FROM (" +
        "SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.vec_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM standing t CROSS JOIN cent c)) WHERE rn = 1), " +
        "b1 AS (SELECT vec_id, v FROM e WHERE vec_id % 5 = 1), " +
        "b1_asg AS MATERIALIZED (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.vec_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM b1 t CROSS JOIN cent c)), " +
        "dups1 AS MATERIALIZED (SELECT DISTINCT p.vec_id FROM " +
        "(SELECT vec_id, c_id AS cell FROM b1_asg WHERE rn <= 2) p " +
        "JOIN cells0 s ON p.cell = s.cell " +
        "JOIN e en ON en.vec_id = p.vec_id JOIN e ei ON ei.vec_id = s.vec_id " +
        s"WHERE ${cosSql("en.v", "ei.v")} < 0.75e0), " +
        "kept1 AS MATERIALIZED (SELECT vec_id FROM b1 " +
        "WHERE vec_id NOT IN (SELECT vec_id FROM dups1)), " +
        "cells1 AS MATERIALIZED (SELECT * FROM cells0 UNION ALL " +
        "SELECT a.vec_id, a.c_id AS cell FROM b1_asg a JOIN kept1 k ON k.vec_id = a.vec_id WHERE a.rn = 1), " +
        "b2raw AS (SELECT vec_id, v FROM e WHERE vec_id % 5 = 3 OR vec_id % 20 = 0), " +
        "b2 AS MATERIALIZED (SELECT vec_id, v FROM b2raw " +
        "WHERE vec_id NOT IN (SELECT vec_id FROM cells1)), " +
        "b2_asg AS MATERIALIZED (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.vec_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM b2 t CROSS JOIN cent c)), " +
        "dups2 AS MATERIALIZED (SELECT DISTINCT p.vec_id FROM " +
        "(SELECT vec_id, c_id AS cell FROM b2_asg WHERE rn <= 2) p " +
        "JOIN cells1 s ON p.cell = s.cell " +
        "JOIN e en ON en.vec_id = p.vec_id JOIN e ei ON ei.vec_id = s.vec_id " +
        s"WHERE ${cosSql("en.v", "ei.v")} < 0.75e0), " +
        "kept2 AS (SELECT vec_id FROM b2 WHERE vec_id NOT IN (SELECT vec_id FROM dups2)) " +
        "SELECT '0_run1_appended' AS stage, (SELECT count(*) FROM kept1)::BIGINT AS survivors " +
        "UNION ALL SELECT '1_vec_in', (SELECT count(*) FROM b2raw)::BIGINT " +
        "UNION ALL SELECT '2_vec_id_new', (SELECT count(*) FROM b2)::BIGINT " +
        "UNION ALL SELECT '3_appended', (SELECT count(*) FROM kept2)::BIGINT " +
        "UNION ALL SELECT '4_ivf_after', ((SELECT count(*) FROM standing) + " +
        "(SELECT count(*) FROM kept1) + (SELECT count(*) FROM kept2))::BIGINT"),

    "retract_vec_stream" ->
      // the streamed vector-retraction's batch twin (round 16 — the
      // ingest_vec_stream cell algebra over standing − retracted): the
      // takedown removes vec_id ≡ 0 mod 4 of the standing set from the
      // cells AND the navigation graph (graph live count = |live|); the
      // following drop's id guard sees only the LIVE rows (a re-ingested
      // retracted id is NEW), and its nprobe-2 semantic dedup checks
      // cosine < eps against live members' primary-cell assignment only
      // — the index that forgot the retracted vectors. Centroids are
      // the ORIGINAL stride quantizer: retraction compacts cells but
      // never retrains (appendToIvfIndex/compactIvfIndex contract).
      ("WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500), " +
        "cent AS MATERIALIZED (SELECT vec_id AS c_id, v FROM e " +
        "WHERE vec_id % 5 <> 1 AND vec_id % 5 <> 3 AND vec_id % 40 = 0), " +
        "standing AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 1 AND vec_id % 5 <> 3), " +
        "live AS MATERIALIZED (SELECT vec_id, v FROM standing WHERE vec_id % 4 <> 0), " +
        "cells0 AS MATERIALIZED (SELECT vec_id, c_id AS cell FROM (" +
        "SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.vec_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM live t CROSS JOIN cent c)) WHERE rn = 1), " +
        "drp AS (SELECT vec_id, v FROM e WHERE vec_id % 5 = 3 OR vec_id % 20 = 0 OR vec_id % 20 = 10), " +
        "nw AS MATERIALIZED (SELECT vec_id, v FROM drp " +
        "WHERE vec_id NOT IN (SELECT vec_id FROM live)), " +
        "nw_asg AS MATERIALIZED (SELECT vec_id, c_id, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn FROM (" +
        s"SELECT t.vec_id, c.c_id, ${l2Sql("t.v", "c.v")} AS dist FROM nw t CROSS JOIN cent c)), " +
        "dups AS MATERIALIZED (SELECT DISTINCT p.vec_id FROM " +
        "(SELECT vec_id, c_id AS cell FROM nw_asg WHERE rn <= 2) p " +
        "JOIN cells0 s ON p.cell = s.cell " +
        "JOIN e en ON en.vec_id = p.vec_id JOIN e ei ON ei.vec_id = s.vec_id " +
        s"WHERE ${cosSql("en.v", "ei.v")} < 0.75e0), " +
        "kept AS (SELECT vec_id FROM nw WHERE vec_id NOT IN (SELECT vec_id FROM dups)) " +
        "SELECT '1_standing_before' AS stage, (SELECT count(*) FROM standing)::BIGINT AS survivors " +
        "UNION ALL SELECT '2_retracted', (SELECT count(*) FROM standing WHERE vec_id % 4 = 0)::BIGINT " +
        "UNION ALL SELECT '3_graph_live', (SELECT count(*) FROM live)::BIGINT " +
        "UNION ALL SELECT '4_vec_in', (SELECT count(*) FROM drp)::BIGINT " +
        "UNION ALL SELECT '5_vec_id_new', (SELECT count(*) FROM nw)::BIGINT " +
        "UNION ALL SELECT '6_appended', (SELECT count(*) FROM kept)::BIGINT " +
        "UNION ALL SELECT '7_ivf_after', ((SELECT count(*) FROM live) + " +
        "(SELECT count(*) FROM kept))::BIGINT"),
  )
}
