package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Fknn, Knn}
import graft.ml.FknnClassifier

/** `fknn_scale`: the paper's kernel. Seeded synthetic vectors (N = 8 000,
  * dim 64, 10 overlapping Gaussian classes), 800 of them held out by a
  * seeded hash. `FknnClassifier.fit` runs once on the 7 200 training rows;
  * `model.transform` then serves the held-out queries as 400-query batches,
  * one after another, each materialized through a digest of every output
  * column. Every batch's predictions for a seeded sample of its queries are
  * checked against a plain-Scala Keller FkNN over the same vectors.
  */
object FknnScale extends Workload {
  val N = 8000
  val Dim = 64
  val Classes = 10
  val K = 5
  val Queries = 800
  val Batch = 400
  val SamplePerBatch = 16
  val LayerSamples = 3

  final class Data(val vecs: Array[Array[Double]], val labels: Array[Int],
      val queryOrder: Array[Int]) {
    val isQuery: Array[Boolean] = {
      val q = new Array[Boolean](N); queryOrder.foreach(q(_) = true); q
    }
    val trainIds: Array[Int] = (0 until N).filterNot(isQuery).toArray
    def batch(b: Int): Array[Int] = queryOrder.slice(b * Batch, (b + 1) * Batch)
  }

  def generate(seed: Long): Data = {
    val rnd = new java.util.Random(seed)
    val centers = Array.fill(Classes, Dim)(rnd.nextGaussian() * 0.6)
    val labels = Array.fill(N)(rnd.nextInt(Classes))
    val vecs = Array.tabulate(N)(i => Array.tabulate(Dim)(d => centers(labels(i))(d) + rnd.nextGaussian()))
    val order = (0 until N).sortBy(i => (scala.util.hashing.MurmurHash3.productHash((seed, i)), i))
    new Data(vecs, labels, order.take(Queries).toArray)
  }

  // ---- plain-Scala Keller FkNN, the output check ----------------------

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc = acc + d * d; i += 1 }
    math.sqrt(acc)
  }

  /** The k nearest training rows of `v`, ordered by (dist, t_id). */
  private def nearest(d: Data, v: Array[Double], exclude: Int): Seq[(Double, Int)] =
    d.trainIds.iterator.filter(_ != exclude).map(t => (l2(v, d.vecs(t)), t))
      .toSeq.sorted.take(K)

  /** Predicted class of query `q`; `None` when the two best classes are
    * within rounding of each other (either answer is then correct). */
  def bruteForce(d: Data, q: Int, memo: mutable.Map[Int, Array[Double]]): Option[Int] = {
    def membership(t: Int): Array[Double] = memo.getOrElseUpdate(t, {
      val n = new Array[Int](Classes)
      nearest(d, d.vecs(t), t).foreach { case (_, u) => n(d.labels(u)) += 1 }
      Array.tabulate(Classes)(j => 0.49 * n(j) / K.toDouble + (if (j == d.labels(t)) 0.51 else 0.0))
    })
    val nn = nearest(d, d.vecs(q), -1)
    val w = nn.map { case (dist, _) => val g = math.max(dist, Fknn.DistEps); 1.0 / (g * g) }
    val u = Array.tabulate(Classes)(j => nn.zip(w).map { case ((_, t), wt) => membership(t)(j) * wt }.sum / w.sum)
    val ranked = (0 until Classes).sortBy(j => (-u(j), j))
    if (math.abs(u(ranked(0)) - u(ranked(1))) <= 1e-12 * math.abs(u(ranked(0)))) None
    else Some(ranked(0))
  }

  // ---- the workload ----------------------------------------------------

  private var data: Data = _
  private var vectors: DataFrame = _

  private def split(b: Int): DataFrame =
    vectors.filter(col("split") === b).select(col("vec_id"), col("v"), col("label"))
  private def train: DataFrame = split(0)
  private def queries(b: Int): DataFrame = split(b + 1)

  def setup(ctx: Ctx): Unit = {
    data = generate(ctx.seed)
    val splitOf = new Array[Int](N)
    (0 until Queries / Batch).foreach(b => data.batch(b).foreach(splitOf(_) = b + 1))
    val rows = (0 until N).map(i =>
      Row(i.toLong, data.vecs(i).toSeq, data.labels(i), splitOf(i)))
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType)),
      StructField("label", IntegerType), StructField("split", IntegerType)))
    val path = s"${ctx.work}/fknn_vectors"
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(path)
    vectors = ctx.spark.read.parquet(path)
    // warm-up on a 400-row slice of the same vectors: JIT and code
    // generation, not the timed plan's data
    val small = vectors.filter(col("vec_id") < 400).select(col("vec_id"), col("v"), col("label"))
    val m = new FknnClassifier().setK(K).setNClasses(Classes).fit(small.filter(col("vec_id") >= 40))
    Digest.of(m.transform(small.filter(col("vec_id") < 40)))
  }

  def measure(ctx: Ctx): Result = {
    val r = new Result
    val memo = mutable.Map.empty[Int, Array[Double]]
    val (fitS, model) = ctx.timed("fknn.fit") {
      new FknnClassifier().setK(K).setNClasses(Classes).fit(train)
    }
    val batches = Queries / Batch
    val times = mutable.ArrayBuffer.empty[Double]
    val sampler = new java.util.Random(ctx.seed ^ 0x5eedL)
    var b = 0
    def more: Boolean = b < batches ||
      ctx.elapsed + times.sum / times.size <= ctx.seconds
    while (model.isDefined && more) {
      val ids = data.batch(b % batches)
      val (t, out) = ctx.timed("fknn.transform") {
        val df = model.get.transform(queries(b % batches))
        df.select(col("vec_id"), col("predicted"), Digest.rowHash(df).as("h")).collect()
      }
      times += t
      out.foreach { rows =>
        val pred = rows.map(row => row.getLong(0).toInt -> row.getInt(1)).toMap
        val problems =
          if (rows.length != ids.length || pred.keySet != ids.toSet)
            Seq(s"${rows.length} rows for ${ids.length} queries")
          else Iterator.continually(ids(sampler.nextInt(ids.length))).take(SamplePerBatch).toSeq
            .flatMap(q => bruteForce(data, q, memo).filter(_ != pred(q))
              .map(want => s"query $q: predicted ${pred(q)}, brute force $want"))
        ctx.check(s"transform batch ${b % batches}", problems)
      }
      b += 1
    }
    // totals over the fixed unit of work: the fit and one pass over the
    // queries; batches beyond it only add samples to the median
    val nTr = (N - Queries).toDouble
    val total = fitS + times.take(batches).sum
    val pairs = nTr * (nTr - 1) + Queries * nTr
    r.e2e("total_s", total, "s")
    r.e2e("op_p50_s", Stats.quantile(times, 0.5), "s")
    r.e2e("items_per_s", pairs / total, "1/s")
    r.report("fit_s", fitS, "s")
    r.report("transform_p50_s", Stats.quantile(times, 0.5), "s")
    r.report("transforms", times.size, "count")
    r.report("fknn_pairs_per_s", pairs / total, "pairs/s")
    r
  }

  /** Traced run only: each kernel layer forced on its own, on the same
    * training rows, after the timed operations. The differences below
    * (top-k minus scan, classify minus kNN) are small against the scan's
    * own run-to-run noise, so both sides are forced `LayerSamples` times in
    * alternation and a difference is the median of the paired differences:
    * a load swing then reaches both sides of a pair alike. */
  override def layers(ctx: Ctx, r: Result): Unit = {
    val tr = train
    val nTr = (N - Queries).toDouble
    def forced(name: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      ctx.tracer.span(name) { df.head() }
      (System.nanoTime() - t0) / 1e9
    }
    /** `a` and `b` forced in turn: the median seconds of `a`, and the
      * median of the paired differences b - a. */
    def paired(a: (String, () => DataFrame), b: (String, () => DataFrame)): (Double, Double) = {
      val t = Seq.fill(LayerSamples)((forced(a._1)(a._2()), forced(b._1)(b._2())))
      (Stats.quantile(t.map(_._1), 0.5), Stats.quantile(t.map { case (x, y) => y - x }, 0.5))
    }
    // distance scan: an aggregate over `dist`, so the distance is computed
    val (scan, topkSelf) = paired(
      "distance.scan" -> (() => Knn.pairwise(tr, tr).agg(sum(col("dist")))),
      "topk" -> { () =>
        val t = Knn.topK(Knn.pairwise(tr, tr).filter(col("q_id") =!= col("t_id")), K)
        t.select(Digest.rowHash(t).cast(DecimalType(20, 0)).as("h")).agg(count(lit(1)), sum(col("h")))
      })
    val rowsOut = nTr * K
    val membership = forced("fknn.membership")(
      Fknn.membershipInit(tr, K, Classes).agg(sum(col("membership"))))
    val q = queries(0)
    val mem = Fknn.membershipInit(tr, K, Classes).persist()
    mem.agg(sum(col("membership"))).head()
    val (queryKnn, vote) = paired(
      "fknn.query_knn" -> (() => Knn.knn(q, tr, K).agg(sum(col("dist")))),
      "fknn.classify" -> (() => Fknn.classify(mem, tr, q, K).agg(sum(col("predicted")))))
    mem.unpersist(blocking = true)
    r.layer("distance.scan_s", scan, "s")
    r.layer("distance.mpairs_per_s", nTr * nTr / scan / 1e6, "Mpairs/s")
    r.layer("topk.self_s", topkSelf, "s")
    r.layer("topk.rows_in", nTr * (nTr - 1), "count")
    r.layer("topk.rows_out", rowsOut, "count")
    r.layer("topk.useful_ratio", rowsOut / (nTr * (nTr - 1)), "ratio")
    r.layer("fknn.membership_s", membership, "s")
    r.layer("fknn.query_knn_s", queryKnn, "s")
    r.layer("fknn.vote_s", vote, "s")
    r.layer("fknn.fit_s", ctx.tracer.totalSeconds("fknn.fit"), "s")
  }
}
