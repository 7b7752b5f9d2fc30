package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Distance, Fknn, Knn}
import graft.llm.AnnSearch
import graft.ml.FknnClassifier

/** Keller/Gray/Givens FkNN semantics against the hand-computed toy2d
  * fixture (FIXTURES.md §B) plus the algebraic invariants — the
  * independent check the DuckDB oracle can't give (a formula copy-pasted
  * wrong into BOTH twins would pass the gate; it can't pass a hand
  * computation).
  */
class FknnSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("label", IntegerType)))

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** FIXTURES.md §B toy2d, min-max normalized by /10 per the KEEL header
    * ranges [0,10]. Classes: A→0, B→1.
    */
  private def fixture: (DataFrame, DataFrame) = {
    val train = df(Seq(
      Row(0L, Array(0.10, 0.10), 0), // A
      Row(1L, Array(0.15, 0.12), 0), // A
      Row(2L, Array(0.80, 0.85), 1), // B
      Row(3L, Array(0.82, 0.80), 1), // B
      Row(4L, Array(0.50, 0.50), 0)  // A
    ))
    val queries = df(Seq(
      Row(10L, Array(0.20, 0.20), 0),
      Row(11L, Array(0.80, 0.80), 1)))
    (train, queries)
  }

  test("stage-1 memberships match the hand-computed Keller init (k=3)") {
    val (train, _) = fixture
    val mem = Fknn.membershipInit(train, k = 3, nClasses = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    // hand-computed 3-NN neighbor classes (see FIXTURES.md §B):
    // x=0 (A): nbrs {1,4,3} → n0=2,n1=1 ; x=1 (A): {0,4,3} → n0=2,n1=1
    // x=2 (B): {3,4,1} → n0=2,n1=1     ; x=3 (B): {2,4,1} → n0=2,n1=1
    // x=4 (A): {3,2,1} → n0=1,n1=2
    val third = 0.49 / 3.0
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(close(mem((0L, 0)), 0.51 + 2 * third) && close(mem((0L, 1)), 1 * third))
    assert(close(mem((1L, 0)), 0.51 + 2 * third) && close(mem((1L, 1)), 1 * third))
    assert(close(mem((2L, 1)), 0.51 + 1 * third) && close(mem((2L, 0)), 2 * third))
    assert(close(mem((3L, 1)), 0.51 + 1 * third) && close(mem((3L, 0)), 2 * third))
    assert(close(mem((4L, 0)), 0.51 + 1 * third) && close(mem((4L, 1)), 2 * third))
  }

  test("stage-2 predictions on the fixture: near-A query → 0, near-B → 1") {
    val (train, queries) = fixture
    val mem = Fknn.membershipInit(train, k = 3, nClasses = 2)
    val pred = Fknn.classify(mem, train, queries, k = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pred === Map(10L -> 0, 11L -> 1))
  }

  test("membership rows sum to exactly 0.51 + 0.49 per instance and own-class ≥ 0.51") {
    val train = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
      .filter(col("vec_id") < 200)
    // the lazy stage-1 view and the long view of the fitted table alike
    val fitted = Fknn.fit(train, k = 5, nClasses = 10)
    for (mem <- Seq(Fknn.membershipInit(train, k = 5, nClasses = 10), Fknn.memberships(fitted))) {
      val sums = mem.groupBy("vec_id").agg(sum("membership").as("s"), count(lit(1)).as("n"))
        .filter(abs(col("s") - 1.0) > 1e-9 || col("n") =!= 10)
      assert(sums.count() === 0, "Σ_j u_j(x) must be 1.0 (Σ_j n_j = k) over 10 classes")
      val own = mem.join(train.select(col("vec_id"), col("label")), "vec_id")
        .filter(col("class") === col("label") && col("membership") < 0.51)
      assert(own.count() === 0, "own-class membership must be ≥ 0.51")
    }
    graft.core.Ckpt.release(fitted)
  }

  test("chunked membershipInit ≡ unchunked (kNN-IS numIterations analogue)") {
    val train = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
      .filter(col("vec_id") < 150)
    val a = collectSet(Fknn.membershipInit(train, 5, 10))
    val b = collectSet(Fknn.membershipInit(train, 5, 10, blocks = 4))
    assert(a === b)
  }

  test("chunked classify ≡ unchunked for blocks=1 and blocks=3 (stage-2 numIterations)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val train = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 300)
    val queries = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 300)
    val mem = Fknn.membershipInit(train, 5, 10).persist()
    try {
      val global = collectSet(Fknn.classify(mem, train, queries, 5))
      assert(collectSet(Fknn.classify(mem, train, queries, 5, blocks = 1)) === global)
      assert(collectSet(Fknn.classify(mem, train, queries, 5, blocks = 3)) === global)
      assert(global.nonEmpty)
    } finally mem.unpersist()
  }

  test("autoBlocks: scales with estimated bytes, floors at 1, and blocks=-1 ≡ manual output") {
    val train = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
      .filter(col("vec_id") < 150)
    // a huge budget → 1 block (tiny inputs run unchunked); shrinking the
    // budget must grow the count monotonically, ~linearly in 1/budget
    assert(Knn.autoBlocks(train, budgetBytes = 1L << 40) === 1)
    val b64k = Knn.autoBlocks(train, budgetBytes = 64L << 10)
    val b16k = Knn.autoBlocks(train, budgetBytes = 16L << 10)
    assert(b16k >= b64k && b16k >= 1)
    // the auto path must be output-invisible, exactly like manual chunking
    val manual = collectSet(Fknn.membershipInit(train, 5, 10))
    assert(collectSet(Fknn.membershipInit(train, 5, 10, blocks = -1)) === manual)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val tr = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 300)
    val q = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 300)
    val mem = Fknn.membershipInit(tr, 5, 10).persist()
    try {
      assert(collectSet(Fknn.classify(mem, tr, q, 5, blocks = -1)) ===
        collectSet(Fknn.classify(mem, tr, q, 5)))
    } finally mem.unpersist()
  }

  test("numIterations = -1 on a checkpointed input sizes blocks from the stored bytes") {
    // a join checkpoint: Spark's estimate of the join it replaced is the
    // product of its sides' sizes, hundreds of GB for these few MB
    val n = 20000
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      array((1 to 16).map(i => sin(col("id") * i)): _*).as("v"))
    val labels = spark.range(n).select(col("id").as("vec_id"), (col("id") % 10).cast("int").as("label"))
    val ck = graft.core.Ckpt.truncate(vecs.join(labels, "vec_id").repartition(4))
    assert(Knn.autoBlocks(ck) === 1)
    val blocked = Knn.blockwise(ck, "vec_id", -1)(identity)
    assert(blocked eq ck, blocked.queryExecution.analyzed.treeString)
    graft.core.Ckpt.release(ck)
  }

  test("blocked paths keep negative and null ids: each row lands in exactly one block") {
    // `vec_id % n` is negative for negative ids, so a `% n === b` block
    // split would drop them; `Knn.blockwise` uses pmod and puts null in 0
    def vec(x: Double) = Array(math.sin(x * 0.37), math.cos(x * 0.53), (x % 7) / 7.0)
    val train = df((-30 until 30).map(i => Row(i.toLong, vec(i), Math.floorMod(i, 3))))
    val queries = df((-12 until 0).map(i => Row(i * 10L, vec(i + 0.5), 0)) :+
      Row(null, vec(40.5), 0))
    assert(collectSet(Fknn.membershipInit(train, 5, 3, blocks = 4)) ===
      collectSet(Fknn.membershipInit(train, 5, 3)))
    val mem = Fknn.membershipInit(train, 5, 3).persist()
    try {
      val global = collectSet(Fknn.classify(mem, train, queries, 5))
      assert(global.size === 13 && global.exists(_.head == null))
      assert(collectSet(Fknn.classify(mem, train, queries, 5, blocks = 3)) === global)
    } finally mem.unpersist()
    def viaMl(n: Int) = collectSet(new FknnClassifier().setK(5).setNClasses(3)
      .setNumIterations(n).fit(train).transform(queries).select(col("vec_id"), col("predicted")))
    val chunked = viaMl(3)
    assert(chunked.size === 12, "every negative-id query is classified")
    assert(chunked === viaMl(1))
    // blocks = 0 is rejected up front, not as an empty union
    intercept[IllegalArgumentException] {
      AnnSearch.pqSearchChunked(queries.select(col("vec_id").as("q_id"), col("v")),
        train.select(col("vec_id").as("t_id"), col("v")),
        train.select(col("vec_id").as("j"), col("v")), m = 1, k = 3, blocks = 0)
    }
  }

  test("distType=l1 threads through both stages and changes the metric, not the shape") {
    val (train, queries) = fixture
    val l1: Fknn.Dist = graft.functions.ArrayDistance.l1
    val mem1 = Fknn.membershipInit(train, 3, 2, dist = l1)
    // membership invariant holds under any metric
    val sums = mem1.groupBy("vec_id").agg(sum("membership").as("s")).collect()
    sums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
    val pred = Fknn.classify(mem1, train, queries, 3, dist = l1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the fixture is cleanly separated — l1 must classify it like l2
    assert(pred === Map(10L -> 0, 11L -> 1))
  }

  test("d=0 guard: an exact-match neighbor dominates the vote") {
    val (train, _) = fixture
    // query identical to train point 2 (class B) → must predict B (1)
    val schema = train.schema
    val q = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(20L, Array(0.80, 0.85), 0)), 1), schema)
    val mem = Fknn.membershipInit(train, k = 3, nClasses = 2)
    val pred = Fknn.classify(mem, train, q, k = 3).collect()
    assert(pred.head.getInt(1) === 1)
  }

  test("local FkNN with blocks=1 ≡ global classify; blocks=4 still sane") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val train = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 300)
    val queries = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 300)
    val mem = Fknn.membershipInit(train, 5, 10)
    val global = collectSet(Fknn.classify(mem, train, queries, 5))
    val fitted = Fknn.fit(train, 5, 10)
    val local1 = collectSet(Fknn.classifyLocal(fitted, queries, 5, blocks = 1))
    assert(local1 === global, "one block = no locality = exact global FkNN")
    val local4 = Fknn.classifyLocal(fitted, queries, 5, blocks = 4)
    assert(local4.count() === queries.count(), "one prediction per query")
    graft.core.Ckpt.release(fitted)
  }

  test("the fitted table's u and each query's vote equal a plain-Scala Keller fold, exactly") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val train = e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 300)
    val queries = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 300)
    val (k, nc) = (5, 10)
    val fitted = Fknn.fit(train, k, nc)
    val rows = fitted.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getInt(2), r.getSeq[Double](3).toArray)).toMap
    // FusedL2's element-order fold
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      a.indices.foreach { i => val d = a(i) - b(i); acc = acc + d * d }
      math.sqrt(acc)
    }
    def nearest(v: Array[Double], exclude: Long): Seq[(Double, Long)] =
      rows.toSeq.collect { case (t, (tv, _, _)) if t != exclude => (l2(v, tv), t) }.sorted.take(k)
    // stage 1: u_j = 0.49·n_j/k, + 0.51 on the own class
    rows.foreach { case (id, (v, label, u)) =>
      val n = nearest(v, id).map { case (_, t) => rows(t)._2 }
      val want = Array.tabulate(nc)(j =>
        0.49 * n.count(_ == j) / k.toDouble + (if (j == label) 0.51 else 0.0))
      assert(u.toSeq === want.toSeq, s"train row $id")
    }
    // stage 2: Σ u·w / Σ w folded over the neighbours in (dist, t_id) order
    val votes = queries.collect().map { r =>
      val (num, den) = nearest(r.getSeq[Double](1).toArray, Long.MinValue)
        .foldLeft((Array.fill(nc)(0.0), 0.0)) { case ((s, ws), (d, t)) =>
          val g = math.max(d, Fknn.DistEps)
          val w = 1.0 / (g * g)
          (s.zip(rows(t)._3).map { case (a, m) => a + m * w }, ws + w)
        }
      r.getLong(0) -> num.map(_ / den).toSeq
    }.toMap
    val scores = Fknn.classifyScores(fitted, queries, k).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    assert(scores === votes)
    val argmax = votes.map { case (q, u) => q -> u.indexOf(u.max) }
    assert(Fknn.predict(fitted, queries, k).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ===
      argmax)
    graft.core.Ckpt.release(fitted)
  }

  test("an exact tie between two classes predicts the lower class") {
    // two train rows at distance 1 from the query, one voting all for
    // class 2, one all for class 1: u(q) = (0, 0.5, 0.5) exactly. The
    // class-2 row has the lower id, so it is folded first.
    val fitted = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Array(1.0, 0.0), 2, Array(0.0, 0.0, 1.0)),
      Row(2L, Array(-1.0, 0.0), 1, Array(0.0, 1.0, 0.0)),
      Row(3L, Array(9.0, 9.0), 0, Array(1.0, 0.0, 0.0))), 2),
      StructType(schema.fields :+ StructField("u", ArrayType(DoubleType))))
    val q = df(Seq(Row(10L, Array(0.0, 0.0), 0)))
    assert(Fknn.classifyScores(fitted, q, k = 2).collect()
      .map(r => r.getInt(1) -> r.getDouble(2)).toMap === Map(0 -> 0.0, 1 -> 0.5, 2 -> 0.5))
    assert(Fknn.predict(fitted, q, k = 2).collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq ===
      Seq(10L -> 1))
  }

  test("crisp kNN majority vote on the fixture") {
    val (train, queries) = fixture
    val pred = Fknn.knnClassify(train, queries, k = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pred === Map(10L -> 0, 11L -> 1))
  }
}
