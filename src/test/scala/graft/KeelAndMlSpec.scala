package graft

import java.nio.file.Files

import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._

import graft.core.{Ckpt, Distance, Fknn}
import graft.ml.{FknnClassifier, FknnModel}
import graft.sources.KeelSource

/** KEEL compatibility source (header-range min-max normalization, nominal
  * encoding) and the spark.ml Pipeline wrapper, both against the toy2d
  * fixture whose FkNN outcomes are hand-verified in FknnSpec.
  */
class KeelAndMlSpec extends SparkSpecBase {

  private val keel =
    """@relation toy2d
      |@attribute x real [0.0, 10.0]
      |@attribute y real [0.0, 10.0]
      |@attribute class {A, B}
      |@inputs x, y
      |@outputs class
      |@data
      |1.0, 1.0, A
      |1.5, 1.2, A
      |8.0, 8.5, B
      |8.2, 8.0, B
      |5.0, 5.0, A
      |""".stripMargin

  private def writeKeel(): String = {
    val f = Files.createTempFile("toy2d", ".dat")
    Files.writeString(f, keel)
    f.toString
  }

  test("KEEL source: header-range normalization + nominal label encoding") {
    val df = KeelSource.read(spark, writeKeel()).orderBy("id").collect()
    assert(df.length === 5)
    val first = df.head
    assert(first.getSeq[Double](1) === Seq(0.1, 0.1)) // 1.0/10, header range [0,10]
    assert(first.getInt(2) === 0) // A → 0
    assert(df(2).getSeq[Double](1) === Seq(0.8, 0.85))
    assert(df(2).getInt(2) === 1) // B → 1
  }

  test("KEEL header parse: attribute kinds and io declarations") {
    val s = KeelSource.parseHeader(keel.linesIterator.toSeq)
    assert(s.relation === "toy2d")
    assert(s.inputs === Seq("x", "y"))
    assert(s.output === "class")
    assert(s.attrs.map(_.name) === Seq("x", "y", "class"))
    assert(s.attrs(2).kind === KeelSource.NominalAttr(Seq("A", "B")))
  }

  test("KEEL → Fknn end-to-end reproduces the hand-verified fixture predictions") {
    val train = KeelSource.read(spark, writeKeel())
      .withColumnRenamed("id", "vec_id")
    val mem = Fknn.membershipInit(train, k = 3, nClasses = 2)
    // the same query points as FknnSpec (already normalized)
    import spark.implicits._
    val q = Seq((10L, Seq(0.2, 0.2), 0), (11L, Seq(0.8, 0.8), 1))
      .toDF("vec_id", "v", "label")
    val pred = Fknn.classify(mem, train, q, k = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pred === Map(10L -> 0, 11L -> 1))
  }

  /** The sf train/query split every classifier test uses. */
  private def split(): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    (e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < 300),
      e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 300))
  }

  /** Cross joins in a frame's analyzed plan: one per `Knn.pairwise`
    * search, plus stage 1's class densify. */
  private def crossJoins(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case j: Join if j.joinType == Cross => j }.size

  test("spark.ml FknnClassifier pipeline ≡ direct Fknn calls") {
    val (train, queries) = split()

    val model = new FknnClassifier().setK(5).setNClasses(10).fit(train)
    val viaMl = model.transform(queries)
      .select(col("vec_id").as("q_id"), col("predicted"))
    val direct = Fknn.classify(Fknn.membershipInit(train, 5, 10), train, queries, 5)
    assert(collectSet(viaMl) === collectSet(direct))
    // transform keeps the input columns and appends predicted
    assert(model.transform(queries).columns.toSeq ===
      Seq("vec_id", "v", "label", "predicted"))
  }

  test("FknnClassifier version/numIterations params mirror the CLI variants") {
    val (train, queries) = split()

    // numIterations chunks both stages — output-invisible vs the default
    val chunked = new FknnClassifier().setK(5).setNClasses(10)
      .setNumIterations(3).fit(train).transform(queries)
      .select(col("vec_id").as("q_id"), col("predicted"))
    val exact = Fknn.classify(Fknn.membershipInit(train, 5, 10), train, queries, 5)
    assert(collectSet(chunked) === collectSet(exact))

    // version=local runs the per-block approximate variant ≡ classifyLocal
    val mem = Fknn.membershipInit(train, 5, 10)
    val local = new FknnClassifier().setK(5).setNClasses(10)
      .setVersion("local").setNumIterations(4).fit(train).transform(queries)
      .select(col("vec_id").as("q_id"), col("predicted"))
    val directLocal = Fknn.classifyLocal(mem, train, queries, 5, blocks = 4)
    assert(collectSet(local) === collectSet(directLocal))

    // invalid variant rejected at set time
    intercept[IllegalArgumentException] {
      new FknnClassifier().setVersion("turbo")
    }
  }

  test("FknnClassifier distType=l1 and numIterations=-1 (auto) mirror the CLI options") {
    val (train, queries) = split()

    // auto chunking (numIterations = -1) is output-invisible
    val auto = new FknnClassifier().setK(5).setNClasses(10)
      .setNumIterations(-1).fit(train).transform(queries)
      .select(col("vec_id").as("q_id"), col("predicted"))
    val exact = Fknn.classify(Fknn.membershipInit(train, 5, 10), train, queries, 5)
    assert(collectSet(auto) === collectSet(exact))

    // distType threads through: ≡ the direct l1 pipeline
    val l1: Fknn.Dist = graft.functions.ArrayDistance.l1
    val viaMl = new FknnClassifier().setK(5).setNClasses(10)
      .setDistType("l1").fit(train).transform(queries)
      .select(col("vec_id").as("q_id"), col("predicted"))
    val direct = Fknn.classify(Fknn.membershipInit(train, 5, 10, dist = l1),
      train, queries, 5, dist = l1)
    assert(collectSet(viaMl) === collectSet(direct))

    intercept[IllegalArgumentException] { new FknnClassifier().setDistType("cosine") }
    intercept[IllegalArgumentException] { new FknnClassifier().setNumIterations(0) }
  }

  test("FknnClassifier.fit is eager: it runs stage 1 and keeps the memberships as a checkpoint") {
    val (train, _) = split()
    val group = "fknn-eager-fit"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "FknnClassifier.fit")
    val model =
      try new FknnClassifier().setK(5).setNClasses(10).fit(train)
      finally sc.clearJobGroup()
    assert(Ckpt.isTruncated(model.memberships))
    // the job records reach the status store through the listener bus
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty, "fit ran no job")
    }
  }

  test("FknnModel.transform runs only stage 2: no train × train self-join, twice over") {
    val (train, queries) = split()
    val model = new FknnClassifier().setK(5).setNClasses(10).fit(train)
    val direct = collectSet(Fknn.classify(Fknn.membershipInit(train, 5, 10), train, queries, 5))
    // stage 1 alone plans two cross joins (the self-join and the densify)
    assert(crossJoins(Fknn.membershipInit(train, 5, 10)) === 2)
    (1 to 2).foreach { _ =>
      val out = model.transform(queries)
      assert(crossJoins(out) === 1, "only the query × train search: " +
        out.queryExecution.analyzed.treeString)
      assert(collectSet(out.select(col("vec_id").as("q_id"), col("predicted"))) === direct)
    }
  }

  test("a model fitted inside Ckpt.scoped still transforms after the scope exits") {
    val (train, queries) = split()
    def preds(m: FknnModel) = m.transform(queries).select(col("vec_id"), col("predicted"))
    var model: FknnModel = null
    val inScope = collectSet(Ckpt.scoped {
      model = new FknnClassifier().setK(5).setNClasses(10).fit(train)
      preds(model)
    })
    // the scope released nothing the model reads: its membership blocks
    // are still pinned, and a transform after the scope finds them
    val rdd = model.memberships.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd
    }.get
    assert(rdd.getStorageLevel != StorageLevel.NONE)
    assert(collectSet(preds(model)) === inScope)
  }

  test("FknnModel save → load → transform ≡ the original fitted model") {
    val (train, queries) = split()
    val model = new FknnClassifier().setK(5).setNClasses(10)
      .setVersion("global").setNumIterations(3).setDistType("l2").fit(train)
    val path = java.nio.file.Files.createTempDirectory("fknnmodel").toString
    model.save(path)
    val loaded = graft.ml.FknnModel.load(spark, path)
    assert(loaded.getK === 5 && loaded.getNClasses === 10 &&
      loaded.getVersion === "global" && loaded.getNumIterations === 3 &&
      loaded.getDistType === "l2")
    assert(collectSet(loaded.transform(queries)
        .select(col("vec_id"), col("predicted"))) ===
      collectSet(model.transform(queries).select(col("vec_id"), col("predicted"))))
  }
}
