package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions entry point in a dedicated session: SQL function names
  * resolve to the fused expressions, and the top-k rule and the block kNN
  * strategy are installed.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions=graft.GraftExtensions registers functions + rule") {
    // extensions only apply at session CREATION: tear down the suite-shared
    // session first (suites run serially; later suites getOrCreate anew)
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        "SELECT fused_l2(array(0D, 3D), array(4D, 0D)) AS l2, " +
          "fused_l1(array(0D, 3D), array(4D, 0D)) AS l1, " +
          "fused_dot(array(1D, 2D), array(3D, 4D)) AS dot").head()
      assert(r.getDouble(0) === 5.0)
      assert(r.getDouble(1) === 7.0)
      assert(r.getDouble(2) === 11.0)
      assert(spark.sessionState.optimizer.batches.flatMap(_.rules)
        .exists(_ == graft.plans.GroupedTopKRewrite))
      // the block kNN strategy comes from the extension, so first use
      // does not add a second copy
      assert(spark.sessionState.planner.strategies.count(_ == graft.plans.KnnBlockStrategy) === 1)
      graft.plans.KnnBlockStrategy.install(spark)
      assert(spark.sessionState.planner.strategies.count(_ == graft.plans.KnnBlockStrategy) === 1)
    } finally {
      // stop + clear so the next suite's getOrCreate builds a fresh,
      // extension-free session
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
