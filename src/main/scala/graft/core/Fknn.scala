package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ArrayDistance

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
  * Stage 1 depends on the train set only: `fit` materializes it once as
  * the fitted table (vec_id, v, label, u), each train row with its
  * membership vector u — the reference's cached fuzzified train set
  * (SURVEY §4.1 row 5). Stage 2 searches that table and votes per query
  * row. The long forms (`memberships`, `classifyScores`) are views.
  *
  * Both stages find neighbours through `Knn.knn`'s kNN-IS kernel: the
  * block operator (`graft.plans.KnnBlock`) keeps one heap per query over
  * each train partition and emits k candidates per query, and the grouped
  * top-k merges them. No driver-side collect anywhere. Data movement at
  * cluster scale: the query-block broadcast and the
  * k-rows-per-query-per-partition merge shuffle — mirroring the
  * reference's broadcast + reduceByKey. With `blocks = 1` (the default)
  * the query side carries NO broadcast hint (in stage 1 it is the whole
  * train set) and its size estimate decides the placement; `blocks > 1`
  * (the reference's `numIterations`) splits it with `Knn.blockwise` into
  * id-hash chunks, each broadcast.
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

  /** A distance between two vector columns; each Fknn entry point
    * threads it through to the shared `Knn.knn` kernel. */
  type Dist = (Column, Column) => Column

  /** The distance the reference CLI's `distType` option names [LINEAGE]:
    * "l2" (Euclidean, the default everywhere) or "l1" (Manhattan). */
  def distType(name: String): Dist = name match {
    case "l2" => ArrayDistance.l2
    case "l1" => ArrayDistance.l1
    case other => throw new IllegalArgumentException(s"distType must be l2 or l1, got $other")
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

  /** Stage 1, lazy: the fitted table of `train` (vec_id, v ARRAY<DOUBLE>,
    * label). Each row's k neighbour labels are left-joined to the train
    * rows once. `blocks` chunks the self-search's query side (`nearest`);
    * the output does not depend on it (FknnSpec asserts it).
    */
  private def table(train: DataFrame, k: Int, nClasses: Int, blocks: Int, dist: Dist): DataFrame = {
    val labels = train.select(col("vec_id").as("t_id"), col("label").as("t_label"))
    val nb = nearest(train, train, k, blocks, dist, excludeSelf = true).join(labels, "t_id")
      .groupBy(col("q_id").as("vec_id"))
      .agg(collect_list(col("t_label")).as("nb"))
    train.select(col("vec_id"), col("v"), col("label"))
      .join(nb, Seq("vec_id"), "left")
      .select(col("vec_id"), col("v"), col("label"),
        transform(sequence(lit(0), lit(nClasses - 1)), j =>
          lit(0.49) * size(filter(coalesce(col("nb"), array()), _ === j)) / lit(k.toDouble) +
            when(j === col("label"), 0.51).otherwise(0.0)).as("u"))
  }

  /** Stage 1, materialized now — the reference's `cache()` of the
    * fuzzified train set: the fitted table (vec_id, v, label, u), the
    * self-search chunked into `blocks` (`-1` auto-sizes), over at least
    * `defaultParallelism` partitions so no stage-2 search re-spreads it.
    * `Knn.ensureParallelism` reads a checkpoint's real partition count
    * (of a plan, only a size estimate: for stage 1's joins the product of
    * their inputs), so the spread is decided on the checkpoint. It is
    * built outside any enclosing `Ckpt.scoped`, so its holder (a model, a
    * `SharedFrames` memo, a pipeline frame) reads it after that scope
    * ends; ContextCleaner frees it once unreferenced.
    */
  def fit(train: DataFrame, k: Int, nClasses: Int, blocks: Int = 1,
      dist: Dist = ArrayDistance.l2): DataFrame = Ckpt.untracked {
    val fitted = Ckpt.truncate(table(train, k, nClasses, blocks, dist))
    val spread = Knn.ensureParallelism(fitted)
    if (spread eq fitted) fitted else try Ckpt.truncate(spread) finally Ckpt.release(fitted)
  }

  /** Stage 1 as a lazy long view, `memberships` of the lazy fitted table. */
  def membershipInit(train: DataFrame, k: Int, nClasses: Int, blocks: Int = 1,
      dist: Dist = ArrayDistance.l2): DataFrame =
    memberships(table(train, k, nClasses, blocks, dist))

  /** The long view of a fitted table: (vec_id, class INT, membership),
    * nClasses rows a train row. */
  def memberships(fitted: DataFrame): DataFrame =
    fitted.select(col("vec_id"), posexplode(col("u")).as(Seq("class", "membership")))

  /** The fitted table of a long membership table and the train rows it
    * was computed over: each train row with its memberships in class
    * order as u. Inverts `memberships` for a dense table.
    */
  private[graft] def widen(memberships: DataFrame, train: DataFrame): DataFrame = {
    val u = memberships.groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("class"), col("membership")))).as("cm"))
      .select(col("vec_id"), transform(col("cm"), _.getField("membership")).as("u"))
    train.select(col("vec_id"), col("v"), col("label")).join(u, "vec_id")
  }

  /** Stage 2: (q_id, predicted) for each query row against `fit`'s table.
    * `blocks` chunks the query side (`nearest`; -1 auto-sizes from the
    * query set's estimated bytes), bounding each broadcast at |Q|/blocks
    * rows; the output does not depend on it (FknnSpec asserts it).
    */
  def predict(fitted: DataFrame, queries: DataFrame, k: Int, blocks: Int = 1,
      dist: Dist = ArrayDistance.l2): DataFrame =
    argmax(vote(nearest(queries, fitted, k, blocks, dist, excludeSelf = false), fitted))

  /** `predict` over a long membership table and the train rows it was
    * computed over. */
  def classify(memberships: DataFrame, train: DataFrame, queries: DataFrame, k: Int,
      blocks: Int = 1, dist: Dist = ArrayDistance.l2): DataFrame =
    predict(widen(memberships, train), queries, k, blocks, dist)

  /** Stage-2 scores, wide: (q_id, u), each query's class vector before
    * the argmax. The query side carries NO broadcast hint (round-3 fix):
    * the declared split makes it 10 % of the corpus, a guaranteed executor
    * OOM at 100× if force-broadcast — Catalyst/AQE size-gates instead.
    */
  private[graft] def scores(fitted: DataFrame, queries: DataFrame, k: Int,
      dist: Dist = ArrayDistance.l2): DataFrame =
    vote(Knn.knn(queries, fitted, k, dist = dist), fitted)

  /** Stage-2 scores, long: (q_id, class, u) — the per-class
    * "probability" surface metrics like AUC rank on. */
  def classifyScores(fitted: DataFrame, queries: DataFrame, k: Int,
      dist: Dist = ArrayDistance.l2): DataFrame =
    scoreRows(scores(fitted, queries, k, dist))

  /** The long view of wide scores: (q_id, class INT, u). */
  private[graft] def scoreRows(scores: DataFrame): DataFrame =
    scores.select(col("q_id"), posexplode(col("u")).as(Seq("class", "u")))

  /** (q_id, predicted) of wide scores: the first class of highest u, so
    * ties go to the lowest class. */
  private[graft] def argmax(scores: DataFrame): DataFrame =
    scores.select(col("q_id"),
      (array_position(col("u"), array_max(col("u"))) - 1).cast("int").as("predicted"))

  /** Keller stage-2 vote from a (q_id, t_id, dist) neighbor table: wide
    * scores (q_id, u), each query's Σ w·u / Σ w folded over its neighbours
    * in (dist, t_id) order, so the sums do not depend on arrival order. */
  private def vote(nn: DataFrame, fitted: DataFrame): DataFrame = {
    val d = greatest(col("dist"), lit(DistEps))
    nn.select(col("q_id"), col("t_id"), col("dist"), (lit(1.0) / (d * d)).as("w"))
      .join(fitted.select(col("vec_id").as("t_id"), col("u")), "t_id")
      .groupBy(col("q_id"))
      .agg(sort_array(collect_list(struct(col("dist"), col("t_id"), col("w"), col("u")))).as("nb"))
      .select(col("q_id"), aggregate(col("nb"),
        struct(array_repeat(lit(0.0), size(col("nb")(0)("u"))).as("s"), lit(0.0).as("w")),
        (acc, x) => struct(zip_with(acc("s"), x("u"), (s, m) => s + m * x("w")).as("s"),
          (acc("w") + x("w")).as("w")),
        acc => transform(acc("s"), _ / acc("w"))).as("u"))
  }

  /** "Local" (approximate) FkNN — the reference's `version=local` CLI
    * option (SURVEY §3.1 EP-3 [LINEAGE]): each train block classifies with
    * its own local k-nearest only, skipping the global merge-k; the vote
    * then runs over the union of per-block candidates (k·blocks ⊇ the
    * global top-k, so accuracy ≥ approximation intuition of the papers).
    * Blocks are `Knn.blockwise`'s deterministic id-hash of `fit`'s table
    * (-1 auto-sizes from its estimated bytes) rather than physical
    * partitions, so results are partitioning-independent and
    * oracle-checkable. Each block is one un-hinted `Knn.knn` search (the
    * query side is the full query set, size-gated like `scores`).
    */
  def classifyLocal(fitted: DataFrame, queries: DataFrame, k: Int, blocks: Int,
      dist: Dist = ArrayDistance.l2): DataFrame =
    argmax(vote(Knn.blockwise(fitted, "vec_id", blocks)(tb =>
      Knn.knn(queries, tb, k, dist = dist)), fitted))

  /** Crisp kNN majority vote (the kNN-IS sibling surface [LINEAGE]):
    * predicted = most frequent neighbor label, ties → lowest label.
    */
  def knnClassify(train: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // un-hinted (round-5 fix, same root cause as scores round 3):
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

  /** The full two-stage pipeline. Stage 2 reads `fit`'s table instead of
    * re-evaluating the O(N²) membership subtree inside its join (measured
    * 8× slower at N=20k, `tools.ScaleProbe`); nothing is left cached.
    */
  def classifyPipeline(train: DataFrame, queries: DataFrame, k: Int, nClasses: Int,
      dist: Dist = ArrayDistance.l2): DataFrame =
    predict(fit(train, k, nClasses, dist = dist), queries, k, dist = dist)
}
