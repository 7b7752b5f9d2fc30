package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, sequential suites —
  * getOrCreate returns the same session; torn down at JVM exit).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = Session(4)

  /** sf0.001 driver test data (read-only, deterministic, seed=42). */
  val sfDir = "/root/testdata/sf0.001"

  def collectSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}
