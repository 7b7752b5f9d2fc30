package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.ColumnBridge

/** Grouped top-k as a bounded-heap aggregate.
  *
  * This is the reference's kNN-IS merge step (SURVEY.md §2.1 [LINEAGE]),
  * the `reduceByKey(mergeKSmallest)`, planned as a regular two-phase
  * aggregate. In `Knn.knn` the per-pair work happens before it, in the
  * block operator (`graft.plans.KnnBlock`), which hands it at most k
  * candidates per query per train partition; this aggregate merges those
  * lists into the global k. Over a plain pair stream (`Knn.topK` on
  * `Knn.pairwise`, other distances) its map-side combine keeps the k best
  * per query per task, so the shuffle still moves at most k rows per
  * (query, partition).
  *
  * Versus the window `row_number` formulation (`Knn.topKWindow`): the
  * window must shuffle and fully sort every pair; this aggregator shuffles
  * k rows per query per upstream partition. At 100 TB that difference is
  * the whole game.
  *
  * Two implementations, same semantics (KnnSpec asserts all three paths
  * equal): the hot path is the native `TopKAggExpr`
  * (TypedImperativeAggregate — no per-row Encoder work); `TopKAgg` is the
  * `Aggregator`/udaf twin kept as the executable spec.
  */
case class TopKBuf(var dists: Array[Double], var ids: Array[Long], var n: Int)

object TopKBuf {
  /** Insert (d, id) into a (dists, ids, n) buffer kept sorted ascending by
    * (d, id), bounded at k. Shared by the native expression and the
    * Aggregator spec twin.
    */
  def insert(b: TopKBuf, k: Int, d: Double, id: Long): TopKBuf = {
    val worstIdx = b.n - 1
    if (b.n == k && (d > b.dists(worstIdx) || (d == b.dists(worstIdx) && id >= b.ids(worstIdx)))) {
      return b
    }
    var i = math.min(b.n, k - 1)
    while (i > 0 && (b.dists(i - 1) > d || (b.dists(i - 1) == d && b.ids(i - 1) > id))) {
      b.dists(i) = b.dists(i - 1)
      b.ids(i) = b.ids(i - 1)
      i -= 1
    }
    b.dists(i) = d
    b.ids(i) = id
    if (b.n < k) b.n += 1
    b
  }
}

class TopKAgg(k: Int) extends Aggregator[(Double, Long), TopKBuf, Seq[(Double, Long)]] {
  require(k > 0, "k must be positive")

  def zero: TopKBuf = TopKBuf(new Array[Double](k), new Array[Long](k), 0)

  def reduce(b: TopKBuf, in: (Double, Long)): TopKBuf = TopKBuf.insert(b, k, in._1, in._2)

  def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    var i = 0
    while (i < b.n) { TopKBuf.insert(a, k, b.dists(i), b.ids(i)); i += 1 }
    a
  }

  def finish(b: TopKBuf): Seq[(Double, Long)] = {
    val out = new Array[(Double, Long)](b.n)
    var i = 0
    while (i < b.n) { out(i) = (b.dists(i), b.ids(i)); i += 1 }
    out.toSeq
  }

  def bufferEncoder: Encoder[TopKBuf] = ExpressionEncoder[TopKBuf]()
  def outputEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder[Seq[(Double, Long)]]()
}

object TopKAgg {

  /** ObjectHashAggregate falls back to sort-based aggregation once a
    * partition's hash map exceeds this many keys (Spark default: 128).
    * A kNN partition legitimately holds thousands of query ids, and the
    * fallback sorts the ENTIRE pair stream — exactly the full-sort the
    * aggregate exists to avoid (measured 4× slower than the window at
    * N=20k). 256k keys ≈ tens of MB of k-row buffers: safely in-memory,
    * far above any chunked query block (SURVEY §3.2).
    *
    * `knn()` applies `tune` on every call so ANY session running the
    * aggregate (the acceptance driver, a library user) gets the raised
    * threshold — safe because `tune` no-ops whenever the conf was set
    * explicitly (Bench/Verify/Probe builders, a user's own choice),
    * so no caller's decision is ever overridden.
    */
  val FallbackConfKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val FallbackThreshold = 262144

  /** Raise the object-hash fallback threshold for kNN-sized group counts,
    * unless the caller already set the conf EXPLICITLY (any explicit
    * value wins — including an explicit 128). Detection: `conf.get(key,
    * sentinel)` returns the sentinel only when the key was never set
    * (Spark validates but does not substitute the registered default),
    * so this never misfires if Spark changes its default.
    */
  def tune(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sentinel = Int.MinValue.toString
    if (spark.conf.get(FallbackConfKey, sentinel) == sentinel)
      spark.conf.set(FallbackConfKey, FallbackThreshold.toString)
  }

  /** (q_id, t_id, dist) pairs → (q_id, t_id, dist, rn) with rn ∈ [1,k],
    * ascending (dist, t_id) per q_id — same shape as the window top-k.
    * Native TypedImperativeAggregate path.
    */
  def knn(pairs: DataFrame, k: Int): DataFrame = {
    // every session running this aggregate needs the raised fallback
    // threshold (the 128-group sort-based path is the 4-8× regression the
    // aggregate exists to avoid); tune() respects any explicit user value
    tune(pairs.sparkSession)
    val tk = ColumnBridge.column(
      TopKAggExpr(
        ColumnBridge.expression(col("dist")),
        ColumnBridge.expression(col("t_id")),
        k).toAggregateExpression())
    explodeNn(pairs.groupBy(col("q_id")).agg(tk.as("nn")))
  }

  /** udaf/Aggregator twin of `knn` — the executable spec (slower: per-row
    * Encoder deserialization), used by tests to pin semantics.
    */
  def knnUdaf(pairs: DataFrame, k: Int): DataFrame = {
    implicit val inEnc: Encoder[(Double, Long)] = ExpressionEncoder[(Double, Long)]()
    val tk = udaf(new TopKAgg(k))
    explodeNn(
      pairs.groupBy(col("q_id")).agg(tk(col("dist"), col("t_id")).as("nn"))
        .select(col("q_id"),
          expr("transform(nn, x -> struct(x._1 AS dist, x._2 AS t_id))").as("nn")))
  }

  private def explodeNn(grouped: DataFrame): DataFrame =
    grouped
      .select(col("q_id"), posexplode(col("nn")))
      .select(col("q_id"), col("col.t_id").as("t_id"), col("col.dist").as("dist"),
        (col("pos") + 1).cast("int").as("rn"))
}
