package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{IntParam, Param, ParamMap, ParamValidators, Params}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.core.Fknn

/** spark.ml Pipeline wrapper for the FkNN core — the "MLlib pipeline +
  * DataFrame operations" surface named in BASELINE.json. `fit` is eager,
  * as spark.ml estimators are: it runs stage 1 (Keller class-membership
  * degrees over train) once and materializes `Fknn.fit`'s table, each
  * train row with its membership vector; `transform` runs only stage 2,
  * searching that table, against any query frame. This is the
  * reference's fit-once serving shape (SURVEY §4.1 row 5): one
  * train-side pass amortised over every query batch.
  *
  * Parameter parity with the reference's CLI surface (SURVEY §3.1
  * [LINEAGE]): `k`, `nClasses`, plus `version` ("global" exact /
  * "local" per-block approximate — the reference's EP-3 option) and
  * `numIterations` (the kNN-IS memory bound: > 1 splits the query side
  * of BOTH stages into that many `Knn.blockwise` id-hash blocks, each
  * individually broadcast; -1 auto-sizes from Catalyst statistics, the
  * reference's `numIterations = -1`; for version=local it is the train
  * block count, at least 2) and
  * `distType` ("l2" Euclidean / "l1" Manhattan — the reference CLI's
  * metric option, threaded through both stages). Defaults reproduce
  * the exact single-pass Euclidean pipeline.
  *
  * Input contract (both stages): columns `vec_id BIGINT`,
  * `v ARRAY<DOUBLE>`, `label INT` — the engine's classification-relation
  * shape (SURVEY §1.2); the model appends `predicted INT`.
  */
trait FknnParams extends Params {
  final val k = new IntParam(this, "k", "number of neighbors", ParamValidators.gt(0))
  final val nClasses = new IntParam(this, "nClasses", "number of classes", ParamValidators.gt(1))
  final val version = new Param[String](this, "version",
    "classification variant: global (exact) or local (per-block approximate)",
    ParamValidators.inArray(Array("global", "local")))
  final val numIterations = new IntParam(this, "numIterations",
    "kNN-IS chunk count (1 = single pass; > 1 bounds per-broadcast memory at |Q|/n; " +
      "-1 auto-sizes from Catalyst statistics)",
    (v: Int) => v > 0 || v == -1)
  final val distType = new Param[String](this, "distType",
    "distance metric: l2 (Euclidean) or l1 (Manhattan)",
    ParamValidators.inArray(Array("l2", "l1")))
  def getK: Int = $(k)
  def getNClasses: Int = $(nClasses)
  def getVersion: String = $(version)
  def getNumIterations: Int = $(numIterations)
  def getDistType: String = $(distType)
  protected def distFn: Fknn.Dist = Fknn.distType(getDistType)
  setDefault(k -> 5, nClasses -> 10, version -> "global", numIterations -> 1,
    distType -> "l2")

  protected def validate(schema: StructType): StructType = {
    require(Seq("vec_id", "v", "label").forall(n => schema.fieldNames.contains(n)),
      s"expected columns (vec_id, v, label), got ${schema.fieldNames.mkString(", ")}")
    StructType(schema.fields :+ StructField("predicted", IntegerType, nullable = false))
  }
}

class FknnClassifier(override val uid: String) extends Estimator[FknnModel] with FknnParams {
  def this() = this(Identifiable.randomUID("fknn"))

  def setK(value: Int): this.type = set(k, value)
  def setNClasses(value: Int): this.type = set(nClasses, value)
  def setVersion(value: String): this.type = set(version, value)
  def setNumIterations(value: Int): this.type = set(numIterations, value)
  def setDistType(value: String): this.type = set(distType, value)

  /** Runs stage 1 now through `Fknn.fit`. The model owns the fitted
    * table's checkpoint (a local one, or a reliable one when a checkpoint
    * dir is set), so a model fitted inside a `Ckpt.scoped` query still
    * transforms after the scope ends. ContextCleaner frees the local
    * blocks once the model is unreachable; reliable checkpoint files
    * follow the file-lifetime rule in `Ckpt`'s scaladoc.
    */
  override def fit(dataset: Dataset[_]): FknnModel = {
    val train = dataset.select(col("vec_id"), col("v"), col("label"))
    val model = new FknnModel(uid, Fknn.fit(train, getK, getNClasses, getNumIterations, distFn))
    copyValues(model.setParent(this))
  }

  override def transformSchema(schema: StructType): StructType = validate(schema)
  override def copy(extra: ParamMap): FknnClassifier = defaultCopy(extra)
}

/** A fitted FkNN classifier: `Fknn.fit`'s table, each train row
  * (vec_id, v, label) with its stage-1 membership vector u. Stage 2
  * searches that table and reads u from it. After `fit` the table is a
  * materialized checkpoint (after `FknnModel.load`, a plan over parquet
  * scans), so `transform` never recomputes stage 1.
  */
class FknnModel(
    override val uid: String,
    val fitted: DataFrame)
  extends Model[FknnModel] with FknnParams {

  override def transform(dataset: Dataset[_]): DataFrame = {
    val queries = dataset.select(col("vec_id"), col("v"), col("label"))
    val n = getNumIterations
    val pred = getVersion match {
      case "local" => Fknn.classifyLocal(fitted, queries, getK,
        blocks = if (n == 1) 2 else n, dist = distFn)
      case "global" => Fknn.predict(fitted, queries, getK, blocks = n, dist = distFn)
    }
    dataset.toDF().join(pred.withColumnRenamed("q_id", "vec_id"), "vec_id")
  }

  override def transformSchema(schema: StructType): StructType = validate(schema)
  override def copy(extra: ParamMap): FknnModel =
    copyValues(new FknnModel(uid, fitted)).setParent(parent)

  /** Persist the fitted model — fit once, serve later (round 9, the
    * `saveIvfIndex` discipline applied to the classifier): the train
    * rows (vec_id, v, label) and the long membership view
    * (vec_id, class, membership) as parquet plus the params as one JSON
    * row. Parquet/JSON via Spark writers, so the model
    * round-trips on any storage a cluster can reach (object store,
    * HDFS), not just the local FS.
    */
  def save(path: String): Unit = {
    val spark = fitted.sparkSession
    import spark.implicits._
    fitted.select(col("vec_id"), col("v"), col("label"))
      .write.mode("overwrite").parquet(s"$path/train")
    Fknn.memberships(fitted).write.mode("overwrite").parquet(s"$path/memberships")
    Seq((uid, getK, getNClasses, getVersion, getNumIterations, getDistType))
      .toDF("uid", "k", "nClasses", "version", "numIterations", "distType")
      .coalesce(1).write.mode("overwrite").json(s"$path/params")
  }

  private[ml] def withParams(kV: Int, ncV: Int, verV: String, nitV: Int,
      dtV: String): this.type = {
    set(k, kV); set(nClasses, ncV); set(version, verV)
    set(numIterations, nitV); set(distType, dtV); this
  }
}

object FknnModel {
  /** Load a model previously written by `FknnModel.save`, by this
    * version or an earlier one (the files are the same). The fitted table
    * is `Fknn.widen` of the two parquet directories, lazy — `transform`
    * composes against it exactly as against the fit-time table
    * (KeelAndMlSpec pins save → load → transform ≡ the original).
    */
  def load(spark: SparkSession, path: String): FknnModel = {
    val p = spark.read.json(s"$path/params").head()
    new FknnModel(p.getAs[String]("uid"),
      Fknn.widen(spark.read.parquet(s"$path/memberships"), spark.read.parquet(s"$path/train")))
      .withParams(p.getAs[Long]("k").toInt, p.getAs[Long]("nClasses").toInt,
        p.getAs[String]("version"), p.getAs[Long]("numIterations").toInt,
        p.getAs[String]("distType"))
  }
}
