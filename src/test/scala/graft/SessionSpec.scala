package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKAgg

/** Pins the conf every graft main (Bench and Verify included) runs
  * under. Builds its own session from scratch: the suite-shared one may
  * already carry a conf that `TopKAgg.tune` set, and the test JVM's
  * `spark.*` system properties would otherwise supply UTC and UI-off
  * whether or not the factory does. */
class SessionSpec extends AnyFunSuite {
  test("Session(n): local[n], n shuffle partitions, UTC, UI off, explicit top-k fallback threshold") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val props = Seq("spark.sql.session.timeZone", "spark.ui.enabled")
    val saved = props.map(p => p -> Option(System.clearProperty(p)))
    val spark = try Session(3) finally saved.foreach {
      case (p, v) => v.foreach(System.setProperty(p, _))
    }
    try {
      assert(spark.sparkContext.master === "local[3]")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
      // set explicitly, not inherited from the JVM's default time zone
      assert(spark.conf.getAll.get("spark.sql.session.timeZone") === Some("UTC"))
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
      assert(spark.sparkContext.uiWebUrl.isEmpty)
      // explicitly set (not the conf's default), which is what makes
      // `TopKAgg.tune` leave it alone
      assert(spark.conf.get(TopKAgg.FallbackConfKey, "unset") === TopKAgg.FallbackThreshold.toString)
    } finally {
      // the next suite's getOrCreate builds a fresh shared session
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
