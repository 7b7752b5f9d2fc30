package graft.run

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One step of a runner's report: its name, the rows it counted (a
  * funnel stage's survivors, a section's sunk rows, a stage's metric)
  * and its wall seconds.
  */
case class StageResult(name: String, survivors: Long, wall: Double)

/** The stage recorder of the `graft.run` runners: it times named steps
  * into `StageResult`s, persists and counts frame stages, and `release()`
  * unpersists exactly the frames it persisted. Runners release their
  * recorder instead of clearing the session's cache, so whatever the
  * caller cached survives a run.
  */
private[run] final class Stages {
  private val recorded = ArrayBuffer.empty[StageResult]
  private val owned = ArrayBuffer.empty[DataFrame]

  def results: Seq[StageResult] = recorded.toSeq

  /** Time `body`, which returns its value and the count to record. */
  def apply[A](name: String)(body: => (A, Long)): A = {
    val ((a, n), wall) = Stages.timed(body)
    record(name, n, wall)
    a
  }

  /** A frame stage: persist the frame `body` builds and count it. */
  def frame(name: String)(body: => DataFrame): DataFrame =
    apply(name) { val df = persist(body); (df, df.count()) }

  def record(name: String, survivors: Long, wall: Double): Unit =
    recorded += StageResult(name, survivors, wall)

  /** Persist `df` until `release()`; a frame already cached stays its
    * owner's (the caller's, or an earlier stage's) to release.
    */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) { df.persist(); owned += df }
    df
  }

  def release(): Unit = {
    owned.reverseIterator.foreach(_.unpersist(blocking = false))
    owned.clear()
  }
}

private[run] object Stages {

  /** A clock started now: each call returns the seconds since. */
  def clock(): () => Double = {
    val t0 = System.nanoTime()
    () => (System.nanoTime() - t0) / 1e9
  }

  def timed[A](body: => A): (A, Double) = {
    val elapsed = clock()
    val a = body
    (a, elapsed())
  }

  /** Run `body` on a fresh temp dir named `prefix…`, deleted afterwards
    * whether `body` returns or throws; what `body` returns must no
    * longer read the dir.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try body(tmp.toString)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Report lines `  name count sec`. */
  def table(stages: Seq[StageResult]): String =
    stages.map(st => f"  ${st.name} ${st.survivors} ${st.wall}%.3f").mkString("\n")

  /** Funnel lines `  name survivors dropped sec`, each drop counted
    * against the stage before (the first stage's against `in`).
    */
  def funnel(in: Long, stages: Seq[StageResult]): String =
    stages.zip(in +: stages.map(_.survivors)).map { case (st, prev) =>
      f"  ${st.name} ${st.survivors} ${prev - st.survivors} ${st.wall}%.3f"
    }.mkString("\n")

  /** Sink each section's frame to `outDir/<name>` as one parquet file
    * and record the sunk rows.
    */
  def sinkSections(spark: SparkSession, sfDir: String, outDir: String,
      sections: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[StageResult] = {
    val stages = new Stages
    sections.foreach { case (name, fn) =>
      stages(name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        ((), spark.read.parquet(s"$outDir/$name").count())
      }
    }
    stages.results
  }
}
