package graft.tools

import org.apache.spark.storage.StorageLevel

import graft.{Bench, Session, SparkEntry}
import graft.core.Ckpt

/** Dev probe for declared queries:
  * `tools/run.sh graft.tools.Probe <sfdir> <query> [query ...]`.
  *
  * Per query: Bench's untimed sf0.001 warm-up, the formatted physical
  * plan, then two construction-inclusive timed runs (Bench's shape: the
  * iterative operators do their work in eager checkpoints while the
  * DataFrame is built, so timing only the action reads ~0 s on them).
  * After each run it prints every job and stage of at least `HotSeconds`
  * with its call site and task count, and every persisted RDD the run
  * left resident with its creation site.
  *
  * Conf A/Bs need no code: SparkConf reads `spark.*` JVM system
  * properties, e.g.
  * `tools/run.sh -Dspark.sql.adaptive.enabled=false graft.tools.Probe …`.
  */
object Probe {
  val HotSeconds = 0.25

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfdir> <query> [query ...]")
    val sfDir = args(0)
    val spark = Session()
    val tally = Tally.on(spark)
    def pinned() = spark.sparkContext.getPersistentRDDs.values
      .filter(_.getStorageLevel != StorageLevel.NONE)
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      Bench.warmUp(spark, Seq(fn))
      println(s"===== $name")
      fn(spark, sfDir).explain("formatted")
      spark.catalog.clearCache()
      System.gc()
      tally.take()
      (1 to 2).foreach { i =>
        val before = pinned().map(_.id).toSet
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val t = tally.take()
        println(f"[probe] $name run$i wall=$wall%.2f s rows=$rows " +
          f"shuffle_write=${t.shuffleMb}%.1f MB peak_exec_mem=${t.peakExecMemMb}%.1f MB")
        t.spans.filter(_.wall >= HotSeconds).foreach { s =>
          println(f"  [hot] ${s.what}%-11s wall=${s.wall}%6.2f s tasks=${s.tasks}%4d  ${s.site}")
        }
        pinned().filterNot(r => before(r.id)).toSeq.sortBy(_.id).foreach { r =>
          val site = Some(Ckpt.siteOf(r.id)).filter(_ != "?").getOrElse(r.toString)
          println(s"  [resident] rdd=${r.id} site=$site")
        }
        spark.catalog.clearCache()
        System.gc()
      }
    }
    spark.stop()
  }
}
