package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.run.RunIngestStream

/** The streamed ingest cycle, measured in traced `declared_mix` runs: writes
  * beside reads. The standing state (LSH index and source-partitioned
  * corpus) is bootstrapped from a seeded 80 % of `documents`. Two crawl
  * drops then land one at a time, each 125 fresh documents plus 25 re-crawls
  * of standing documents under fresh ids, and
  * `RunIngestStream.runWithStages` drains each one. After the second drop a
  * takedown drop of 115 standing ids is drained by
  * `RunIngestStream.runRetract`.
  */
object IngestStream {
  val Fresh = 125
  val Recrawls = 25
  val Takedown = 115
  val Drops = 2

  private def takedown(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id").select(col("doc_id"), lit(null).cast("long").as("vec_id"))
  }

  def run(ctx: Ctx, docsDir: String, r: Result): Unit = {
    val spark = ctx.spark
    val probe = ctx.probe.get
    def dir(p: String): String = s"${ctx.work}/ingest/$p"
    val docs = graft.Tables.documents(spark, docsDir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars")).cache()
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val rnd = new scala.util.Random(ctx.seed)
    val shuffled = rnd.shuffle(ids)
    val standing = shuffled.take(ids.size * 4 / 5).sorted
    val pool = shuffled.drop(ids.size * 4 / 5)
    val out = dir("state")
    val corp0 = docs.filter(col("doc_id").isin(standing: _*))
    val (bootS, _) = ctx.timed("bootstrap") {
      ctx.tracer.span("bootstrap.index")(graft.llm.Dedup.saveLshIndex(corp0, s"$out/index"))
      ctx.tracer.span("bootstrap.corpus")(
        graft.sources.Sinks.writePartitioned(corp0, s"$out/corpus", Seq("source")))
    }
    val standing0 = spark.read.parquet(s"$out/corpus").count()
    val ingestT = mutable.ArrayBuffer.empty[Double]
    // listener deltas of each ingest drain
    val ingestD = mutable.ArrayBuffer.empty[String => Double]
    var landed, batchIn, appended = 0L
    /** Seconds, result and listener deltas of one drain. */
    def drain[T](name: String)(body: => T): (Double, Option[T], String => Double) = {
      val before = probe.snapshot()
      val (t, v) = ctx.timed(name)(body)
      val after = probe.snapshot()
      (t, v, Probe.delta(before, after, _))
    }
    for (drop <- 0 until Drops) {
      val fresh = pool.slice(drop * Fresh, (drop + 1) * Fresh)
      val again = Seq.fill(Recrawls)(standing(rnd.nextInt(standing.size))).distinct
      val dropDf = docs.filter(col("doc_id").isin(fresh: _*)).unionByName(
        docs.filter(col("doc_id").isin(again: _*))
          .withColumn("doc_id", lit(1000000L + drop * 1000L) + col("doc_id"))
          .withColumn("text", concat(col("text"), lit(" dup")))
          .withColumn("n_chars", col("n_chars") + 4))
      dropDf.coalesce(1).write.mode("append").parquet(dir("drops"))
      val n = dropDf.count()
      landed += n
      val (t, runs, d) = drain("ingest.drain") {
        RunIngestStream.runWithStages(spark, dir("drops"), out)
      }
      ingestT += t
      ingestD += d
      runs.foreach { rs =>
        val problems = mutable.ArrayBuffer.empty[String]
        if (rs.size != 1) problems += s"drained in ${rs.size} micro-batches"
        rs.foreach { case (_, stages, kept) =>
          val counts = stages.map(_.survivors) :+ kept
          if (counts.head != n) problems += s"batch_in ${counts.head}, landed $n"
          if (counts.zip(counts.tail).exists { case (a, b) => b > a })
            problems += s"funnel increases: ${counts.mkString(" ")}"
          batchIn += counts.head
          appended += kept
        }
        ctx.check(s"ingest drop $drop", problems)
      }
    }
    val gone = rnd.shuffle(standing).take(Takedown)
    takedown(spark, gone).coalesce(1).write.mode("append").parquet(dir("takedown"))
    val (retractS, report, rd) = drain("retract.drain") {
      RunIngestStream.runRetract(spark, dir("takedown"), out)
    }
    val corpus = spark.read.parquet(s"$out/corpus")
    val total = corpus.count()
    // the takedown is the last operation of the cycle, so the corpus closure
    // is checked with it
    report.foreach { text =>
      val batches = text.linesIterator.count(_.startsWith("micro-batch"))
      ctx.check("takedown", Option.when(batches != 1)(s"drained in $batches micro-batches") ++
        Option.when(total != standing0 + appended - gone.size)(
          s"corpus $total != $standing0 + $appended - ${gone.size}"))
    }
    // appended text bytes: the landed documents that made it into the corpus
    val kept = corpus.filter(!col("doc_id").isin(standing: _*)).agg(sum(col("n_chars"))).head()
    val keptBytes = if (kept.isNullAt(0)) 0L else kept.getLong(0)
    val trig = probe.triggers.asScala.toSeq.filter(_._1 == "ingest_stream").map(_._2)
    def med(k: String): Double = Stats.quantile(trig.flatMap(_.get(k)).map(_.toDouble), 0.5)
    r.layer("bootstrap.index_s", ctx.tracer.totalSeconds("bootstrap.index"), "s")
    r.layer("bootstrap.corpus_s", ctx.tracer.totalSeconds("bootstrap.corpus"), "s")
    r.layer("ingest.bootstrap_s", bootS, "s")
    r.layer("ingest.batch_p50_s", Stats.quantile(ingestT, 0.5), "s")
    // one takedown drop, so its median is its one drain
    r.layer("retract.batch_p50_s", retractS, "s")
    r.layer("ingest.docs_per_s", landed / ingestT.sum, "docs/s")
    def perBatch(k: String): Double = Stats.quantile(ingestD.map(_(k)), 0.5)
    def ingestSum(k: String): Double = ingestD.map(_(k)).sum
    r.layer("ingest.jobs_per_batch", perBatch("jobs"), "count")
    r.layer("ingest.stages_per_batch", perBatch("stages"), "count")
    r.layer("ingest.tasks_per_batch", perBatch("tasks"), "count")
    r.layer("ingest.actions_per_batch", perBatch("actions"), "count")
    r.layer("ingest.plan_ms_per_batch", perBatch("plan_ms"), "ms")
    r.layer("ingest.driver_share",
      1.0 - ingestSum("task_run_s") / (ingestT.sum * Main.Cores), "ratio")
    r.layer("io.read_mb", ingestSum("io_read_mb"), "MB")
    r.layer("io.write_mb", ingestSum("io_write_mb"), "MB")
    r.layer("retract.jobs_per_batch", rd("jobs"), "count")
    r.layer("ingest.survivor_ratio", appended.toDouble / batchIn, "ratio")
    r.layer("io.write_amp", ingestSum("io_write_mb") * 1048576.0 / math.max(1L, keptBytes), "ratio")
    r.layer("stream.trigger_ms", med("triggerExecution"), "ms")
    r.layer("stream.add_batch_ms", med("addBatch"), "ms")
    r.layer("stream.planning_ms", med("queryPlanning"), "ms")
    r.layer("stream.wal_commit_ms", med("walCommit"), "ms")
    docs.unpersist()
  }
}
