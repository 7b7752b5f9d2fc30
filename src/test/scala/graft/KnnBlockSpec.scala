package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Distance, Knn}
import graft.functions.ArrayDistance
import graft.plans.{KnnBlockExec, KnnBlockStrategy}

/** The block kNN operator (`graft.plans.KnnBlock`) against the one-row-
  * per-pair definition `Knn.topKWindow(Knn.pairwise(...))`: the same
  * (q_id, t_id, dist, rn) rows, EXCEPT ALL empty both ways, under both
  * placements (broadcast query block, and one task per partition pair).
  */
class KnnBlockSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType))))

  private def frame(rows: Seq[(java.lang.Long, Seq[Double])], parts: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v) }, parts), schema)

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"))

  /** Integer grid points: many exact distance ties, broken by t_id. */
  private val grid: Seq[(java.lang.Long, Seq[Double])] =
    (0 until 24).map(i => (Long.box(i.toLong), Seq((i % 4).toDouble, (i / 4 % 3).toDouble, 0.0)))

  /** Checks the operator against the window top-k over pairwise with the
    * query side broadcast (hinted) and then placed per partition pair:
    * unhinted and RDD-backed, the query side has no size estimate, so it
    * is not broadcast. */
  private def assertSame(q: DataFrame, t: DataFrame, k: Int,
      dist: (Column, Column) => Column = ArrayDistance.l2, excludeSelf: Boolean = false): Unit =
    for (hint <- Seq(true, false)) {
      val qs = if (hint) q else spark.createDataFrame(q.rdd, q.schema)
      val got = Knn.search(qs, t, k, dist = dist, hintBroadcastQ = hint, excludeSelf = excludeSelf)
      val pairs = Knn.pairwise(qs, t, dist = dist)
      val want = Knn.topKWindow(
        if (excludeSelf) pairs.filter(col("q_id") =!= col("t_id")) else pairs, k)
      val placement = if (hint) "broadcast query" else "partitioned"
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("KnnBlock") && plan.contains(placement), plan)
      val cols = Seq("q_id", "t_id", "dist", "rn").map(col)
      val (g, w) = (got.select(cols: _*), want.select(cols: _*))
      assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
        s"$placement differs:\n${g.orderBy(cols: _*).collect().mkString("\n")}\nvs\n" +
          w.orderBy(cols: _*).collect().mkString("\n"))
    }

  test("≡ window top-k over pairwise: embeddings, l2 and l1") {
    val q = emb.filter(col("vec_id") % 10 === 0)
    val t = emb.filter(col("vec_id") % 10 =!= 0)
    assertSame(q, t, 5)
    assertSame(q, t, 5, ArrayDistance.l1)
  }

  test("≡ window top-k: duplicate vectors and exact ties broken by t_id") {
    val dup = grid ++ grid.take(6).map { case (id, v) => (Long.box(id + 100L), v) }
    assertSame(frame(dup.take(8)), frame(dup), 4)
    assertSame(frame(dup.take(8)), frame(dup), 4, ArrayDistance.l1)
  }

  test("≡ window top-k: self-pair exclusion, l2 and l1") {
    val f = frame(grid)
    assertSame(f, f, 3, excludeSelf = true)
    assertSame(f, f, 3, ArrayDistance.l1, excludeSelf = true)
    val e = emb.filter(col("vec_id") < 60)
    assertSame(e, e, 5, excludeSelf = true)
  }

  test("≡ window top-k: k > |T|, empty query side, empty train partitions") {
    assertSame(frame(grid.take(3)), frame(grid.slice(3, 6)), 10)
    assertSame(frame(Nil), frame(grid), 3)
    assertSame(frame(grid.take(5)), frame(grid.slice(5, 7), parts = 6), 3)
    assertSame(frame(grid.take(5)), frame(Nil), 3)
  }

  test("≡ window top-k: null vectors, null ids, vectors of unequal length") {
    val rows: Seq[(java.lang.Long, Seq[Double])] = grid.take(10) ++ Seq(
      (Long.box(50L), null), (null, Seq(1.0, 1.0, 0.0)), (Long.box(51L), Seq(1.0)),
      (Long.box(52L), Seq(2.0, 1.0, 0.0, 9.0, 9.0)), (Long.box(53L), Seq.empty[Double]))
    val f = frame(rows)
    assertSame(f, f, 4)
    assertSame(f, f, 4, ArrayDistance.l1)
    assertSame(f, f, 4, excludeSelf = true)
  }

  test("plans: fused l2 uses the block operator; cosine and the HOF l2 keep the cross join") {
    val q = emb.filter(col("vec_id") % 10 === 0)
    val t = emb.filter(col("vec_id") % 10 =!= 0)
    def plan(d: (Column, Column) => Column) =
      Knn.knn(q, t, 5, dist = d).queryExecution.executedPlan.toString
    val fused = plan(ArrayDistance.l2)
    assert(fused.contains("KnnBlock") && !fused.contains("NestedLoopJoin"), fused)
    for (d <- Seq[(Column, Column) => Column](ArrayDistance.cosine, Distance.l2)) {
      val p = plan(d)
      assert(!p.contains("KnnBlock") && p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("the operator hands the merge at most k rows per query per train partition") {
    val q = emb.filter(col("vec_id") % 10 === 0)
    val t = emb.filter(col("vec_id") % 10 =!= 0)
    val out = Knn.knn(q, t, 5)
    out.collect()
    val exec = collect(out.queryExecution.executedPlan) { case e: KnnBlockExec => e }.head
    val nq = q.count()
    val parts = t.rdd.getNumPartitions.max(spark.sparkContext.defaultParallelism)
    val rows = exec.metrics("numOutputRows").value
    assert(rows > 0 && rows <= 5 * nq * parts, s"$rows rows for $nq queries")
    assert(exec.metrics("numPairs").value === nq * t.count())
  }

  test("cold install: 4 threads on a fresh session add the strategy once, rows equal a serial run") {
    def rows(s: SparkSession): Seq[String] = {
      val e = Tables.embeddings(s, sfDir)
        .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"))
      Knn.knn(e.filter(col("vec_id") % 10 === 0), e.filter(col("vec_id") % 10 =!= 0), 5)
        .collect().map(_.toString).sorted.toSeq
    }
    val serial = rows(spark)
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(KnnBlockStrategy))
    val pool = Executors.newFixedThreadPool(4)
    val results =
      try pool.invokeAll(Seq.fill(4)((() => rows(fresh)): Callable[Seq[String]]).asJava,
          5, TimeUnit.MINUTES).asScala.map(_.get())
      finally pool.shutdownNow()
    results.foreach(r => assert(r === serial))
    assert(fresh.experimental.extraStrategies.count(_ == KnnBlockStrategy) === 1)
  }
}
