package graft

import org.apache.spark.sql.functions.col

import graft.core.{Ckpt, Distance, Fknn}

/** Stage 1 is owned by `Fknn.fit`'s checkpoint, not by a cached plan: the
  * three declared FkNN rows and `Fknn.classifyPipeline` leave the
  * session's CacheManager empty with no `clearCache()` from the caller,
  * and predict exactly what the lazy two-stage composition predicts.
  */
class FknnFitLifecycleSpec extends SparkSpecBase {

  test("FkNN rows and classifyPipeline register nothing with the CacheManager") {
    spark.catalog.clearCache() // start from an empty registry, whatever ran before
    SparkEntry.releaseShared() // so the rows build the memberships memo here
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val q = e.filter(col("vec_id") % 10 === 0)
    val t = e.filter(col("vec_id") % 10 =!= 0)
    val mem = Fknn.membershipInit(t, 5, 10)
    val global = collectSet(Fknn.classify(mem, t, q, 5))
    val fitted = Fknn.fit(t, 5, 10)
    val local = collectSet(Fknn.classifyLocal(fitted, q, 5, blocks = 4))
    Ckpt.release(fitted)
    assert(spark.sharedState.cacheManager.isEmpty)

    def row(name: String) = collectSet(SparkEntry.queries(name)(spark, sfDir))
    assert(row("fknn_classify") === global)
    assert(row("fknn_classify_chunked") === global)
    assert(row("fknn_classify_local") === local)
    assert(collectSet(Fknn.classifyPipeline(t, q, 5, 10)) === global)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a stage-1 frame is still registered with the CacheManager")
    SparkEntry.releaseShared()
  }
}
