package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `declared_mix`: the library's breadth. A fixed list of `SparkEntry.queries`
  * rows with at least one row from every query module, run once each in list
  * order over the generated tables, with every shared-frame memo released
  * before the pass, so the rows that build a memo pay for it. The order is
  * fixed because a row's time depends on the rows before it (shared memos,
  * code paths run for the first time). Each
  * row is timed from the call that builds its frame to the end of one
  * action that digests every output column; the digest must equal the
  * golden one recorded for the same generated tables.
  */
object DeclaredMix extends Workload {
  val Rows: Seq[String] = Seq(
    "fknn_classify", "accuracy",                  // core; accuracy builds the score memo
    "sql_q5",                                     // rel.Queries
    "ts_theil_sen",                               // rel.TimeSeries
    "graph_link_pred", "graph_random_walk",       // rel.Graph; the walk builds the edge and walk memos
    "dedup_cluster",                              // llm.Dedup; builds the cluster memo
    "tokenizer_bpe",                              // llm.TextAnalysis; builds the BPE memo
    "text_tokenize",                              // llm.TextOps
    "ann_cosine_topk",                            // llm.AnnSearch
    "ingest_manifest",                            // llm.Curation; builds the ingest-pairs memo
    "stream_tumbling",                            // llm.Streaming
    "multimodal_meta")                            // llm.Multimodal

  val WarmRows: Seq[String] = Seq("join_shuffle", "agg_groupby", "window_rank", "knn_topk")

  /** The query modules, in the order `SparkEntry.queries` concatenates
    * their maps; a row belongs to the last module that declares it. */
  lazy val modules: Seq[(String, Set[String])] = {
    val named = Seq(
      "rel.Queries" -> graft.rel.Queries.queries.keySet,
      "llm.TextOps" -> graft.llm.TextOps.queries.keySet,
      "llm.Streaming" -> graft.llm.Streaming.queries.keySet,
      "llm.Dedup" -> graft.llm.Dedup.queries.keySet,
      "llm.AnnSearch" -> graft.llm.AnnSearch.queries.keySet,
      "llm.TextAnalysis" -> graft.llm.TextAnalysis.queries.keySet,
      "llm.Multimodal" -> graft.llm.Multimodal.queries.keySet,
      "llm.Curation" -> graft.llm.Curation.queries.keySet,
      "rel.TimeSeries" -> graft.rel.TimeSeries.queries.keySet,
      "rel.Graph" -> graft.rel.Graph.queries.keySet)
    ("core" -> (SparkEntry.queries.keySet -- named.flatMap(_._2))) +: named
  }

  def moduleOf(row: String): String =
    modules.reverse.find(_._2.contains(row)).map(_._1).getOrElse("core")

  /** Drop every shared-frame memo the query modules keep. */
  def releaseMemos(): Unit = {
    SparkEntry.releaseShared()
    graft.llm.Dedup.releaseShared()
    graft.rel.Graph.releaseShared()
    graft.rel.Graph.releaseSharedEdges()
    graft.llm.Curation.releaseShared()
    graft.llm.TextAnalysis.releaseShared()
    graft.llm.TextAnalysis.releaseBpeShared()
  }

  def setup(ctx: Ctx): Unit = {
    // warm-up on the small tables: rows outside the mix that exercise the
    // shared machinery (parquet scans, joins, aggregates, windows), so the
    // timed pass still pays each mix row's own first-run costs
    for (row <- WarmRows; warm <- ctx.opts.get("warm")) {
      try Digest.of(SparkEntry.queries(row)(ctx.spark, warm))
      catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $row: $e") }
      ctx.spark.catalog.clearCache()
    }
    releaseMemos()
  }

  private def golden(ctx: Ctx): Map[String, String] =
    ctx.opts.get("golden").filter(p => Files.exists(Paths.get(p))).map { p =>
      Files.readAllLines(Paths.get(p)).asScala.map(_.trim).filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap
    }.getOrElse(Map.empty)

  /** Wait (untimed) for the context cleaner to drop frames nothing holds. */
  private def drain(ctx: Ctx, base: Int): Int = {
    var i = 0
    while (i < 3 && ctx.resident() > base) { Thread.sleep(100); System.gc(); i += 1 }
    ctx.resident()
  }

  def measure(ctx: Ctx): Result = {
    val r = new Result
    val want = golden(ctx)
    val record = ctx.opts.get("record")
    val got = mutable.LinkedHashMap.empty[String, String]
    val traced = ctx.probe.isDefined
    val ambient = if (traced) drain(ctx, 0) else 0
    val times = mutable.ArrayBuffer.empty[(String, Double, Double)] // row, seconds, jobs
    var coldRows = 0
    var coldS = 0.0
    for (row <- Rows) {
      val before = ctx.probe.map(_.snapshot())
      val res0 = if (traced) ctx.resident() else 0
      val (t, d) = ctx.timed("declared.row") {
        val df = ctx.tracer.span("declared.build")(SparkEntry.queries(row)(ctx.spark, ctx.data))
        ctx.tracer.span("declared.action")(Digest.of(df))
      }
      ctx.spark.catalog.clearCache()
      val jobs = (for (b <- before; p <- ctx.probe) yield Probe.delta(b, p.snapshot(), "jobs")).getOrElse(0.0)
      if (traced && drain(ctx, res0) > res0) { coldRows += 1; coldS += t }
      times += ((row, t, jobs))
      d.foreach { dg =>
        got(row) = dg.toString
        if (record.isEmpty)
          ctx.check(row, Option.when(!want.get(row).contains(dg.toString))(
            s"digest $dg, golden ${want.getOrElse(row, "missing")}"))
      }
    }
    record.foreach(p => Files.writeString(Paths.get(p),
      got.toSeq.sortBy(_._1).map { case (k, v) => s"$k $v" }.mkString("", "\n", "\n")))
    val secs = times.map(_._2).toSeq
    val total = secs.sum
    r.e2e("total_s", total, "s")
    r.e2e("op_p50_s", Stats.quantile(secs, 0.5), "s")
    r.e2e("items_per_s", secs.size / total, "1/s")
    r.report("mix_s", total, "s")
    r.report("query_p50_s", Stats.quantile(secs, 0.5), "s")
    r.report("query_p75_s", Stats.quantile(secs, 0.75), "s")
    r.report("rows", secs.size, "count")
    times.sortBy(-_._2).foreach { case (row, t, _) => System.err.println(f"[perfbench] row $row%-28s $t%8.3f s") }
    if (traced) {
      r.layer("mix.query_p75_s", Stats.quantile(secs, 0.75), "s")
      for ((m, _) <- modules) {
        val mine = times.filter(x => moduleOf(x._1) == m)
        r.layer(s"mod.$m.wall_s", mine.map(_._2).sum, "s")
        r.layer(s"mod.$m.jobs", mine.map(_._3).sum, "count")
      }
      r.layer("declared.build_s", ctx.tracer.totalSeconds("declared.build"), "s")
      r.layer("declared.action_s", ctx.tracer.totalSeconds("declared.action"), "s")
      r.layer("memo.cold_rows", coldRows, "count")
      r.layer("memo.cold_s", coldS, "s")
      releaseMemos()
      ctx.spark.catalog.clearCache()
      r.layer("ckpt.resident_leak", drain(ctx, ambient) - ambient, "count")
    }
    r
  }

  /** Traced run only: the streamed ingest cycle, after the pass. */
  override def layers(ctx: Ctx, r: Result): Unit =
    ctx.opts.get("ingest").foreach(IngestStream.run(ctx, _, r))
}
