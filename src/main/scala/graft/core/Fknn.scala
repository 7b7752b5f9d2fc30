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
  * every stage-2 caller reads that table (`membershipInit` stays a lazy
  * plan).
  *
  * Both stages find neighbours through `Knn.knn`'s kNN-IS kernel: the
  * block operator (`graft.plans.KnnBlock`) keeps one heap per query over
  * each train partition and emits k candidates per query, and the grouped
  * top-k merges them; the votes are hash aggregations. No driver-side
  * collect anywhere. Data movement at cluster scale: the query-block
  * broadcast and the k-rows-per-query-per-partition merge shuffle —
  * mirroring the reference's broadcast + reduceByKey. With `blocks = 1`
  * (the default) the query side carries NO broadcast hint (in stage 1 it
  * is the whole train set) and its size estimate decides the placement;
  * `blocks > 1` (the reference's `numIterations`) splits it with
  * `Knn.blockwise` into id-hash chunks, each broadcast.
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
    * pruning included) and for a `Ckpt.truncate` result its stored size,
    * so blocks grows linearly with the SF; the 64 MiB
    * default budget is the classic broadcast comfort zone (well under
    * Spark's 8 GB hard cap, small enough that `blocks` concurrent block
    * results spill nothing). Always ≥ 1 — tiny inputs run unchunked.
    */
  def autoBlocks(df: DataFrame, budgetBytes: Long = 64L << 20): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((est + budgetBytes - 1) / budgetBytes).max(1).min(Int.MaxValue).toInt
  }

  /** The k nearest `t` rows of each `q` row, (q_id, t_id, dist, rn), with
    * the query side split into `blocks` kNN-IS chunks by `Knn.blockwise`.
    * A chunk is small by construction, so it carries the broadcast hint;
    * with `blocks = 1` the query side is searched whole, unhinted.
    */
  private def nearest(q: DataFrame, t: DataFrame, k: Int, blocks: Int, dist: Dist,
      excludeSelf: Boolean): DataFrame =
    Knn.blockwise(q, "vec_id", blocks)(qb => Knn.search(qb, t, k, dist = dist,
      hintBroadcastQ = blocks != 1, excludeSelf = excludeSelf))

  /** Stage 1: long-form membership table (vec_id, class, membership) for
    * every train row × every class 0..nClasses-1 (densified).
    * `train` columns: (vec_id, v ARRAY<DOUBLE>, label). `blocks` chunks
    * the self-search's query side (`nearest`; -1 auto-sizes from the
    * train set's estimated bytes); the output does not depend on it
    * (FknnSpec asserts it).
    */
  def membershipInit(train: DataFrame, k: Int, nClasses: Int, blocks: Int = 1,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame =
    membershipFromNn(nearest(train, train, k, blocks, dist, excludeSelf = true),
      train, k, nClasses)

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
    * `blocks` chunks the query side (`nearest`; -1 auto-sizes from the
    * query set's estimated bytes), bounding each broadcast at |Q|/blocks
    * rows; the output does not depend on it (FknnSpec asserts it).
    */
  def classify(
      memberships: DataFrame,
      train: DataFrame,
      queries: DataFrame,
      k: Int,
      blocks: Int = 1,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame =
    argmaxPredicted(scoresFromNn(
      nearest(queries, train, k, blocks, dist, excludeSelf = false), memberships))

  /** Stage-2 score table (q_id, class, u) — the fuzzy membership vote
    * before the argmax; the per-class "probability" surface metrics like
    * AUC rank on.
    *
    * The query side carries NO broadcast hint (round-3 fix): the declared
    * split makes it 10 % of the corpus, which at 100× is a guaranteed
    * executor OOM if force-broadcast — Catalyst/AQE size-gates instead.
    * Known-small query chunks come from `classify`'s `blocks`.
    */
  def classifyScores(
      memberships: DataFrame,
      train: DataFrame,
      queries: DataFrame,
      k: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame =
    scoresFromNn(Knn.knn(queries, train, k, dist = dist), memberships)

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
    * Blocks are `Knn.blockwise`'s deterministic id-hash of the train side
    * (-1 auto-sizes from its estimated bytes) rather than physical
    * partitions, so results are partitioning-independent and
    * oracle-checkable. Each block is one un-hinted `Knn.knn` search (the
    * query side is the full query set, size-gated like `classifyScores`).
    */
  def classifyLocal(
      memberships: DataFrame,
      train: DataFrame,
      queries: DataFrame,
      k: Int,
      blocks: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame = {
    val nn = Knn.blockwise(train, "vec_id", blocks)(tb => Knn.knn(queries, tb, k, dist = dist))
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
    * fuzzified train set (SURVEY §4.1 row 5), `membershipInit` chunked
    * into `blocks` (`-1` auto-sizes). The checkpoint is built outside any enclosing `Ckpt.scoped`, so its
    * holder (a model, a `SharedFrames` memo, a pipeline frame) reads it
    * after that scope ends; ContextCleaner frees it once unreferenced.
    */
  def fit(train: DataFrame, k: Int, nClasses: Int, blocks: Int = 1,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame =
    Ckpt.untracked(Ckpt.truncate(membershipInit(train, k, nClasses, blocks, dist)))

  /** The full two-stage pipeline. Stage 2 reads `fit`'s table instead of
    * re-evaluating the O(N²) membership subtree inside its join (measured
    * 8× slower at N=20k, `tools.ScaleProbe`); nothing is left cached.
    */
  def classifyPipeline(train: DataFrame, queries: DataFrame, k: Int, nClasses: Int,
      dist: Dist = graft.functions.ArrayDistance.l2): DataFrame =
    classify(fit(train, k, nClasses, dist = dist), train, queries, k, dist = dist)
}
