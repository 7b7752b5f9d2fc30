package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A metric as the benchmark prints it. */
final case class Metric(name: String, value: Double, unit: String)

/** What one workload measured: the end-to-end metrics every workload
  * reports under the same names, the per-layer metrics of a traced run, and
  * the workload's own figures under their workload-specific names.
  */
final class Result {
  val e2eMetrics = mutable.ArrayBuffer.empty[Metric]
  val layerMetrics = mutable.ArrayBuffer.empty[Metric]
  val reportMetrics = mutable.ArrayBuffer.empty[Metric]
  def e2e(n: String, v: Double, u: String): Unit = e2eMetrics += Metric(n, v, u)
  def layer(n: String, v: Double, u: String): Unit = layerMetrics += Metric(n, v, u)
  def report(n: String, v: Double, u: String): Unit = reportMetrics += Metric(n, v, u)
}

trait Workload {
  /** Untimed: build the inputs and warm the JVM up. */
  def setup(ctx: Ctx): Unit
  /** The timed operations, with their output checks. */
  def measure(ctx: Ctx): Result
  /** Traced run only: per-layer figures that need their own work. */
  def layers(ctx: Ctx, r: Result): Unit = ()
}

object Stats {
  /** Linear-interpolated quantile (NaN for no samples). */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** State of one benchmark run, shared by the workload's operations. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, traced: Boolean, val opts: Map[String, String]) {
  val work: String = opts("work")
  val data: String = opts("data")
  val tracer = new Tracer(s"$workload-$seed", traced)
  val probe: Option[Probe] = if (traced) Some(new Probe(spark)) else None
  var attempted = 0L
  var failed = 0L
  private var heapMaxMb = 0.0
  private var startNs = System.nanoTime()

  def startMeasuring(): Unit = { startNs = System.nanoTime() }
  def elapsed: Double = (System.nanoTime() - startNs) / 1e9
  def retainedHeapMb: Double = heapMaxMb

  /** Time one operation. An exception counts it as failed. After it, two
    * full collections give the heap the operation left behind: the context
    * cleaner drops the Spark state (broadcasts, shuffles) of unreachable
    * frames only after the first one, so reading there would count it. */
  def timed[T](name: String)(body: => T): (Double, Option[T]) = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try Some(tracer.span(name)(body))
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    val t = (System.nanoTime() - t0) / 1e9
    System.gc()
    Thread.sleep(200)
    System.gc()
    heapMaxMb = math.max(heapMaxMb,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    (t, out)
  }

  /** The output checks of one completed operation. Every problem is
    * logged; the operation counts as failed once if there is any. */
  def check(op: String, problems: Iterable[String]): Unit = {
    problems.foreach(p => System.err.println(s"[perfbench] $op: output check failed: $p"))
    if (problems.nonEmpty) failed += 1
  }

  /** Resident persisted or checkpointed RDDs. */
  def resident(): Int = spark.sparkContext.getPersistentRDDs.values
    .count(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <dir> [--warm <dir>] [--golden <file>] [--ingest <dir>]`.
  * Prints the workload's figures,
  * then one JSON line: `correct`, `attempted`, `failed` and `metrics` (the
  * end-to-end metrics, or with `--trace 1` the per-layer ones).
  */
object Main {
  val Cores = 4
  val workloads: Map[String, Workload] = Map(
    "fknn_scale" -> FknnScale, "declared_mix" -> DeclaredMix)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val traced = opt.getOrElse("trace", "0") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.functions.TopKAgg.FallbackConfKey, graft.functions.TopKAgg.FallbackThreshold.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, name, opt("seed").toLong, opt("seconds").toDouble, traced, opt)
    w.setup(ctx)
    System.gc()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val before = ctx.probe.map(_.snapshot())
    ctx.startMeasuring()
    val r = w.measure(ctx)
    val wall = ctx.elapsed
    r.e2e("setup_s", setupS, "s")
    r.e2e("ok_frac", 1.0 - ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    r.e2e("retained_heap_mb", ctx.retainedHeapMb, "MB")
    r.report("failed_frac", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    ctx.probe.foreach { p =>
      // the shared layers cover the timed operations only; `layers` runs
      // after them, and a workload whose own layers scope a figure more
      // closely (the ingest cycle's I/O) reports it itself
      val after = p.snapshot()
      def d(k: String): Double = Probe.delta(before.get, after, k)
      r.e2eMetrics.find(_.name == "total_s").foreach(m => r.layer("trace.total_s", m.value, "s"))
      r.e2eMetrics.find(_.name == "op_p50_s").foreach(m => r.layer("trace.op_p50_s", m.value, "s"))
      w.layers(ctx, r)
      val shared = Seq(
        Metric("planner.plan_ms", d("plan_ms"), "ms"),
        Metric("planner.actions", d("actions"), "count"),
        Metric("scheduler.jobs", d("jobs"), "count"),
        Metric("scheduler.stages", d("stages"), "count"),
        Metric("scheduler.tasks", d("tasks"), "count"),
        Metric("scheduler.driver_share", 1.0 - d("task_run_s") / (wall * Cores), "ratio"),
        Metric("executor.task_cpu_s", d("task_cpu_s"), "s"),
        Metric("executor.task_run_s", d("task_run_s"), "s"),
        Metric("executor.gc_s", d("gc_s"), "s"),
        Metric("executor.peak_exec_mem_mb", after.getOrElse("peak_exec_mem_mb", 0.0), "MB"),
        Metric("shuffle.write_mb", d("shuffle_write_mb"), "MB"),
        Metric("shuffle.read_mb", d("shuffle_read_mb"), "MB"),
        Metric("shuffle.spill_mb", d("spill_mb"), "MB"),
        Metric("io.read_mb", d("io_read_mb"), "MB"),
        Metric("io.write_mb", d("io_write_mb"), "MB"))
      val own = r.layerMetrics.map(_.name).toSet
      r.layerMetrics ++= shared.filterNot(m => own(m.name))
      ctx.tracer.write(s"${ctx.work}/spans.jsonl")
    }
    val shown = if (traced) r.layerMetrics else r.e2eMetrics
    (r.reportMetrics ++ r.e2eMetrics ++ (if (traced) r.layerMetrics else Nil)).foreach(m =>
      println(f"$name%-14s ${m.name}%-32s ${m.value}%16.6f ${m.unit}"))
    val metrics = shown.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")
    val correct = ctx.failed == 0
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":$metrics}""")
    ctx.probe.foreach(_.stop())
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
