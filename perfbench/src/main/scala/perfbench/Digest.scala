package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a frame: its row count and the sum of one
  * 64-bit hash per row. Every output column enters the row hash, so no
  * column can be pruned from the timed action; doubles are rounded to six
  * decimals (and -0.0 folded into 0.0) so the digest does not depend on
  * summation order; the hash sum is taken as DECIMAL(30,0), which cannot
  * overflow under ANSI mode.
  */
final case class Digest(rows: Long, hashSum: java.math.BigDecimal) {
  override def toString: String = s"$rows:${hashSum.toPlainString}"
}

object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
    case _: StructType | _: MapType | _: ArrayType => to_json(c)
    case _ => c
  }

  /** One hash per row over every column. */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)

  /** The digest of `df`, computed by one Spark action. */
  def of(df: DataFrame): Digest = {
    val r = df.select(rowHash(df).cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast(DecimalType(30, 0))))
      .head()
    Digest(r.getLong(0), r.getDecimal(1))
  }
}
