package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.rel.Rank

/** `Rank.prefixSum` ≡ the plain ordered-window running sum it replaces,
  * at range widths that put several partitions — or none — under one
  * group. The window twin runs every row of a group through one task;
  * the prefix sum must agree with it row for row whatever the width.
  */
class RankSpec extends SparkSpecBase {

  private def windowTwin(df: DataFrame, keys: Seq[String], order: Seq[Column],
      measure: Column, as: String): DataFrame =
    df.withColumn(as, sum(measure).over(
      Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  private def assertTwin(df: DataFrame, keys: Seq[String], order: Seq[Column],
      measure: Column, parts: Int): Unit = {
    val got = Rank.prefixSum(df, keys, order, measure, "ps", parts)
    assert(got.columns.toSeq === df.columns.toSeq :+ "ps")
    val want = collectSet(windowTwin(df, keys, order, measure, "ps"))
    assert(collectSet(got) === want)
    assert(got.count() === df.count())
  }

  /** id unique, v with ties, w signed: (id, k, v, w). */
  private def rows(n: Int, keyOf: Int => String): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to n).map(i => (i.toLong, keyOf(i), rnd.nextInt(20).toLong, rnd.nextInt(11).toLong - 5))
      .toDF("id", "k", "v", "w")
  }

  test("unkeyed count ≡ row_number over the same total order") {
    val df = rows(500, _ => "x")
    val order = Seq(col("v").desc, col("id"))
    val got = Rank.prefixSum(df, Nil, order, lit(1L), "grank", parts = 5)
    val want = df.withColumn("grank", row_number().over(Window.orderBy(order: _*)).cast("long"))
    assert(collectSet(got) === collectSet(want))
    // globalRank is this call at the session width
    assert(collectSet(Rank.globalRank(df, order)) === collectSet(want))
  }

  test("unkeyed signed sum ≡ global running-sum window") {
    assertTwin(rows(500, _ => "x"), Nil, Seq(col("v"), col("id")), col("w"), parts = 5)
  }

  test("keyed sum with a hot key spread over ≥ 3 range partitions ≡ keyed window") {
    // 400 rows on one key, 8 on each of five small keys
    val df = rows(440, i => if (i <= 400) "hot" else s"k${i % 5}")
    val order = Seq(col("v"), col("id"))
    val hotParts = df.repartitionByRange(6, col("k") +: order: _*)
      .filter(col("k") === "hot").select(spark_partition_id()).distinct().count()
    assert(hotParts >= 3, s"hot key spans only $hotParts range partitions")
    assertTwin(df, Seq("k"), order, col("w"), parts = 6)
  }

  test("one partition, more partitions than rows, and empty input") {
    val df = rows(12, i => s"k${i % 3}")
    val order = Seq(col("v"), col("id"))
    assertTwin(df, Seq("k"), order, col("w"), parts = 1)
    assertTwin(df, Nil, order, col("w"), parts = 1)
    assertTwin(df, Seq("k"), order, col("w"), parts = 40)
    assertTwin(df, Nil, order, lit(1L), parts = 40)
    val empty = df.filter(lit(false))
    assertTwin(empty, Seq("k"), order, col("w"), parts = 4)
    assertTwin(empty, Nil, order, lit(1L), parts = 4)
  }

  test("sf docs packing: unkeyed prefixSum at 7 partitions ≡ global window") {
    val docs = Tables.documents(spark, sfDir)
    def packed(df: DataFrame, cum: Column): Map[Long, (Long, Long)] =
      df.select(col("doc_id"), (cum - col("n_chars")).as("start"))
        .select(col("doc_id"), floor(col("start") / 2048).cast("long"), col("start") % 2048)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = packed(Rank.prefixSum(docs, Nil, Seq(col("doc_id")), col("n_chars"), "cum",
      parts = 7), col("cum"))
    val twin = packed(docs, sum(col("n_chars")).over(Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(got == twin)
    assert(got.size == docs.count())
  }

  test("Zipf vocab rank (unkeyed prefixSum count) ≡ global row_number window") {
    def ranks(docs: DataFrame, parts: Int): Unit = {
      val counts = docs.select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val order = Seq(col("n").desc, col("tok"))
      val got = Rank.prefixSum(counts, Nil, order, lit(1L), "r", parts)
        .select(col("tok"), col("r"))
      val want = counts.select(col("tok"),
        row_number().over(Window.orderBy(order: _*)).cast("long").as("r"))
      assert(collectSet(got) === collectSet(want))
    }
    ranks(Tables.documents(spark, sfDir), 7)
    // exact power-law corpus: token w_r appears round(1000 / r) times
    import spark.implicits._
    val words = (1 to 50).flatMap(r => Seq.fill(math.round(1000.0 / r).toInt)(s"w$r"))
    ranks(words.grouped(100).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text"), 5)
  }
}
