package graft.plans

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.{NarrowDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, ExprId}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnknownPartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

import graft.functions.TopKBuf

/** The kNN-IS block kernel as a logical operator: for every query row of
  * `query`, the k nearest rows of `train`, as (q_id, t_id, dist) rows.
  *
  * Each task holds a block of query rows as one flat `double[]` plus ids,
  * reads each of its train rows' vectors once, and keeps a `TopKBuf` heap
  * per query row (the (dist, t_id) order of `TopKBuf.insert`). At the end
  * of its train partition it emits at most k rows per query row; the
  * grouped `TopKAggExpr` above merges them across partitions. So the
  * operator hands the merge k·|Q| rows per train partition where a cross
  * join hands it |Q|·|T|.
  *
  * Distances are those of `FusedL2` / `FusedL1`: the same element-order
  * fold over `min(len)` elements, then `sqrt` for l2. A null vector or a
  * null t_id gives no candidate (the cross-join path's null `dist` or
  * null id is skipped by the aggregate); with `excludeSelf`, neither does
  * the pair q_id = t_id nor a null q_id (the `q_id =!= t_id` filter).
  *
  * `graft.core.Knn` builds this node; `KnnBlockStrategy` plans it. The
  * query side is broadcast when `broadcastQuery` (the caller's hint) is
  * set or its size estimate fits the broadcast threshold; otherwise each
  * (query partition, train partition) pair is one task, the placement of
  * a cartesian product.
  */
case class KnnBlock(
    query: LogicalPlan,
    train: LogicalPlan,
    qId: Attribute,
    qVec: Attribute,
    tId: Attribute,
    tVec: Attribute,
    dist: AttributeReference,
    l1: Boolean,
    k: Int,
    excludeSelf: Boolean,
    broadcastQuery: Boolean)
  extends BinaryNode {

  require(k > 0, "k must be positive")

  override def left: LogicalPlan = query
  override def right: LogicalPlan = train
  override def output: Seq[Attribute] = Seq(qId, tId, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)

  override def simpleString(maxFields: Int): String =
    s"KnnBlock ${KnnBlock.describe(l1, k, excludeSelf)}" +
      s"${if (broadcastQuery) ", broadcast hint" else ""} ${output.mkString("[", ", ", "]")}"

  /** The output `dist` is this node's own attribute: give it one id in
    * the canonical form, so two builds of the same search compare equal
    * (as the cross join's `dist` alias does). */
  override protected def doCanonicalize(): LogicalPlan =
    super.doCanonicalize().asInstanceOf[KnnBlock].copy(dist = KnnBlock.canonicalDist)

  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): KnnBlock =
    copy(query = l, train = r)
}

object KnnBlock {
  private[plans] val canonicalDist = AttributeReference("none", DoubleType, nullable = false)(ExprId(-1))

  private[plans] def describe(l1: Boolean, k: Int, excludeSelf: Boolean): String =
    s"${if (l1) "l1" else "l2"}, k=$k${if (excludeSelf) ", excludeSelf" else ""}"
}

/** Plans `KnnBlock` into `KnnBlockExec`, choosing the placement. */
object KnnBlockStrategy extends SparkStrategy with JoinSelectionHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case b: KnnBlock =>
      val bcast = b.broadcastQuery || canBroadcastBySize(b.query, SQLConf.get)
      KnnBlockExec(planLater(b.query), planLater(b.train), b.qId, b.qVec, b.tId, b.tVec,
        b.dist, b.l1, b.k, b.excludeSelf, bcast) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `spark`'s planner unless it is already there
    * (a session built with `GraftExtensions` has it). Sessions made
    * without the extension get it from the first `KnnBlock` built on
    * them; the lock makes concurrent first uses add it once. */
  def install(spark: SparkSession): Unit = synchronized {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.sessionState.planner.strategies.contains(KnnBlockStrategy))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ KnnBlockStrategy
  }
}

case class KnnBlockExec(
    query: SparkPlan,
    train: SparkPlan,
    qId: Attribute,
    qVec: Attribute,
    tId: Attribute,
    tVec: Attribute,
    dist: Attribute,
    l1: Boolean,
    k: Int,
    excludeSelf: Boolean,
    broadcastQuery: Boolean)
  extends BinaryExecNode {

  override def left: SparkPlan = query
  override def right: SparkPlan = train
  override def output: Seq[Attribute] = Seq(qId, tId, dist)
  override def producedAttributes: AttributeSet = AttributeSet(dist)
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)

  override def requiredChildDistribution: Seq[Distribution] =
    if (broadcastQuery) BroadcastDistribution(IdentityBroadcastMode) :: UnspecifiedDistribution :: Nil
    else UnspecifiedDistribution :: UnspecifiedDistribution :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPairs" -> SQLMetrics.createMetric(sparkContext, "number of pairs"))

  override def simpleString(maxFields: Int): String =
    s"KnnBlock ${KnnBlock.describe(l1, k, excludeSelf)}, " +
      s"${if (broadcastQuery) "broadcast query" else "partitioned"} ${output.mkString("[", ", ", "]")}"

  override protected def doCanonicalize(): SparkPlan =
    super.doCanonicalize().asInstanceOf[KnnBlockExec].copy(dist = KnnBlock.canonicalDist)

  override protected def doExecute(): RDD[InternalRow] = {
    def ordinal(p: SparkPlan, a: Attribute) = p.output.indexWhere(_.exprId == a.exprId)
    val kernel = KnnKernel(ordinal(query, qId), ordinal(query, qVec), ordinal(train, tId),
      ordinal(train, tVec), l1, k, excludeSelf)
    val rowsOut = longMetric("numOutputRows")
    val pairs = longMetric("numPairs")
    if (broadcastQuery) {
      val block = query.executeBroadcast[Array[InternalRow]]()
      train.execute().mapPartitions(ts => kernel.run(block.value.iterator, ts, rowsOut, pairs))
    } else {
      new BlockPairRDD(sparkContext, query.execute(), train.execute(),
        (qs: Iterator[InternalRow], ts: Iterator[InternalRow]) => kernel.run(qs, ts, rowsOut, pairs))
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): KnnBlockExec =
    copy(query = l, train = r)
}

/** One task's work: the query rows as a flat block, the train rows
  * streamed past it in tiles of `Tile` rows. Within a tile the loop runs
  * query-major, so a query's vector and heap stay hot while the tile's
  * vectors (`Tile` × dim doubles) stay in cache. A heap's content does
  * not depend on insertion order, because (dist, t_id) is a total order.
  */
private[plans] case class KnnKernel(
    qIdIdx: Int, qVecIdx: Int, tIdIdx: Int, tVecIdx: Int,
    l1: Boolean, k: Int, excludeSelf: Boolean) {

  def run(queries: Iterator[InternalRow], train: Iterator[InternalRow],
      rowsOut: SQLMetric, pairsOut: SQLMetric): Iterator[InternalRow] = {
    // the query block, flat: ids, a null flag per id, and each vector's
    // offset and length in `qv`
    val qIds = ArrayBuilder.make[Long]
    val qNull = ArrayBuilder.make[Boolean]
    val qOff = ArrayBuilder.make[Int]
    val qLen = ArrayBuilder.make[Int]
    val qvB = ArrayBuilder.make[Double]
    var used = 0
    queries.foreach { r =>
      val nullId = r.isNullAt(qIdIdx)
      if (!r.isNullAt(qVecIdx) && !(excludeSelf && nullId)) {
        val a = r.getArray(qVecIdx)
        val n = a.numElements()
        qIds += (if (nullId) 0L else r.getLong(qIdIdx))
        qNull += nullId
        qOff += used
        qLen += n
        var i = 0
        while (i < n) { qvB += a.getDouble(i); i += 1 }
        used += n
      }
    }
    val ids = qIds.result(); val idNull = qNull.result()
    val off = qOff.result(); val len = qLen.result(); val qv = qvB.result()
    val nq = ids.length
    if (nq == 0) return Iterator.empty
    val heaps = Array.fill(nq)(TopKBuf(new Array[Double](k), new Array[Long](k), 0))

    val tileIds = new Array[Long](KnnKernel.Tile)
    val tileVecs = new Array[Array[Double]](KnnKernel.Tile)
    var tn = 0
    var pairs = 0L

    val d4 = new Array[Double](4)
    def offer(h: TopKBuf, qid: Long, d: Double, tid: Long): Unit =
      if (!excludeSelf || tid != qid) TopKBuf.insert(h, k, d, tid)

    def flush(): Unit = {
      var q = 0
      while (q < nq) {
        val h = heaps(q)
        val qo = off(q)
        val ql = len(q)
        val qid = ids(q)
        var j = 0
        while (j < tn) {
          val n = math.min(ql, tileVecs(j).length)
          if (j + 4 <= tn && n == math.min(ql, tileVecs(j + 1).length) &&
              n == math.min(ql, tileVecs(j + 2).length) && n == math.min(ql, tileVecs(j + 3).length)) {
            KnnKernel.dist4(l1, qv, qo, n, tileVecs(j), tileVecs(j + 1), tileVecs(j + 2),
              tileVecs(j + 3), d4)
            offer(h, qid, d4(0), tileIds(j))
            offer(h, qid, d4(1), tileIds(j + 1))
            offer(h, qid, d4(2), tileIds(j + 2))
            offer(h, qid, d4(3), tileIds(j + 3))
            j += 4
          } else {
            offer(h, qid, KnnKernel.dist(l1, qv, qo, n, tileVecs(j)), tileIds(j))
            j += 1
          }
        }
        q += 1
      }
      pairs += nq.toLong * tn
      tn = 0
    }

    train.foreach { r =>
      if (!r.isNullAt(tIdIdx) && !r.isNullAt(tVecIdx)) {
        tileIds(tn) = r.getLong(tIdIdx)
        tileVecs(tn) = r.getArray(tVecIdx).toDoubleArray()
        tn += 1
        if (tn == KnnKernel.Tile) flush()
      }
    }
    if (tn > 0) flush()
    pairsOut += pairs

    val w = new UnsafeRowWriter(3)
    var q = 0
    var i = 0
    new Iterator[InternalRow] {
      def hasNext: Boolean = {
        while (q < nq && i >= heaps(q).n) { q += 1; i = 0 }
        q < nq
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val h = heaps(q)
        w.reset()
        w.zeroOutNullBytes()
        if (idNull(q)) w.setNullAt(0) else w.write(0, ids(q))
        w.write(1, h.ids(i))
        w.write(2, h.dists(i))
        i += 1
        rowsOut += 1
        w.getRow
      }
    }
  }
}

private[plans] object KnnKernel {
  val Tile = 32

  /** One pair's distance over the first `n` elements of the query vector
    * at `qv(qo)` and `t`: FusedL1's or FusedL2's fold, in element order. */
  def dist(l1: Boolean, qv: Array[Double], qo: Int, n: Int, t: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    if (l1) {
      while (i < n) { acc = acc + math.abs(qv(qo + i) - t(i)); i += 1 }
      acc
    } else {
      while (i < n) { val d = qv(qo + i) - t(i); acc = acc + d * d; i += 1 }
      math.sqrt(acc)
    }
  }

  /** `dist` for four train vectors at once, into `out`. Each sum is its
    * own chain in element order, so the results are those of `dist`; the
    * four independent chains let the CPU overlap their additions, which
    * one chain's add latency otherwise bounds. */
  def dist4(l1: Boolean, qv: Array[Double], qo: Int, n: Int, t0: Array[Double],
      t1: Array[Double], t2: Array[Double], t3: Array[Double], out: Array[Double]): Unit = {
    var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
    var i = 0
    if (l1) {
      while (i < n) {
        val x = qv(qo + i)
        a0 = a0 + math.abs(x - t0(i)); a1 = a1 + math.abs(x - t1(i))
        a2 = a2 + math.abs(x - t2(i)); a3 = a3 + math.abs(x - t3(i))
        i += 1
      }
      out(0) = a0; out(1) = a1; out(2) = a2; out(3) = a3
    } else {
      while (i < n) {
        val x = qv(qo + i)
        val d0 = x - t0(i); val d1 = x - t1(i); val d2 = x - t2(i); val d3 = x - t3(i)
        a0 = a0 + d0 * d0; a1 = a1 + d1 * d1; a2 = a2 + d2 * d2; a3 = a3 + d3 * d3
        i += 1
      }
      out(0) = math.sqrt(a0); out(1) = math.sqrt(a1); out(2) = math.sqrt(a2); out(3) = math.sqrt(a3)
    }
  }
}

/** One partition per (query partition, train partition) pair, computed by
  * `f` over the two partitions' rows: the placement of Spark's cartesian
  * product, with the pair's work handed to one function. */
private[plans] class BlockPairRDD(
    sc: SparkContext,
    var queries: RDD[InternalRow],
    var train: RDD[InternalRow],
    f: (Iterator[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow])
  extends RDD[InternalRow](sc, Nil) {

  private val nT = train.partitions.length

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](queries.partitions.length * nT)(i =>
      BlockPairPartition(i, queries.partitions(i / nT), train.partitions(i % nT)))

  override def getDependencies: Seq[org.apache.spark.Dependency[_]] = Seq(
    new NarrowDependency(queries) { def getParents(id: Int): Seq[Int] = Seq(id / nT) },
    new NarrowDependency(train) { def getParents(id: Int): Seq[Int] = Seq(id % nT) })

  override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[BlockPairPartition]
    f(queries.iterator(p.q, ctx), train.iterator(p.t, ctx))
  }

  override def clearDependencies(): Unit = {
    super.clearDependencies()
    queries = null
    train = null
  }
}

private[plans] case class BlockPairPartition(index: Int, q: Partition, t: Partition)
  extends Partition
