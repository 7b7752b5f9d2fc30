package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session a graft JVM runs on: `local[n]` with `n` shuffle
  * partitions, UTC session time, no UI, and the object-hash fallback
  * threshold set explicitly (so `TopKAgg.tune` leaves it alone). `n`
  * defaults to SPARK_GRAFT_CPUS, or 4 when that is unset.
  */
object Session {
  def apply(n: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(functions.TopKAgg.FallbackConfKey, functions.TopKAgg.FallbackThreshold.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The shuffle width operators size their explicit exchanges by: the
    * session's `spark.sql.shuffle.partitions`, which `apply` sets to the
    * core count. The one place that reads it, so a width rule changes
    * here and nowhere else.
    */
  def width(df: DataFrame): Int = df.sparkSession.sessionState.conf.numShufflePartitions
}
