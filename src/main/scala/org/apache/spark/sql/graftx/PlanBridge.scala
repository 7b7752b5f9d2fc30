package org.apache.spark.sql.graftx

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Wraps a Catalyst logical plan as a DataFrame. `Dataset.ofRows` is
  * `private[sql]` in Spark 4.x; this shim sits under `org.apache.spark.sql`
  * for that access qualifier only, as `ColumnBridge` does for columns.
  * The block-manager reads below need the same package for `private[spark]`.
  */
object PlanBridge {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `lr` as a frame whose size estimate is `bytes`; output, partitioning,
    * ordering and constraints stay `lr`'s. */
  def sized(spark: SparkSession, lr: LogicalRDD, bytes: BigInt): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    frame(s, lr.copy()(s, Some(Statistics(sizeInBytes = bytes)), Some(lr.constraints)))
  }

  /** Bytes the block manager master lists for `rdd`'s blocks, memory plus
    * disk, one replica per block (the per-partition read Spark's own
    * `CachedRDDBuilder.isCachedRDDLoaded` makes). Runs no job. */
  def storedBytes(rdd: RDD[_]): BigInt = {
    val master = SparkEnv.get.blockManager.master
    rdd.partitions.iterator.map { p =>
      master.getBlockStatus(RDDBlockId(rdd.id, p.index), askStorageEndpoints = false)
        .valuesIterator.map(s => BigInt(s.memSize + s.diskSize)).maxOption.getOrElse(BigInt(0))
    }.sum
  }

  /** `storedBytes` of `df`'s cache entry; 0 when `df` is not cached. */
  def cachedBytes(df: DataFrame): BigInt = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(c => storedBytes(c.cachedRepresentation.cacheBuilder.cachedColumnBuffers))
      .getOrElse(BigInt(0))
  }
}
