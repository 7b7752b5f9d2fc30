package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into the engine. `parent` is the id of
  * the span that was open when this one started (0 at the top level).
  */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for one run and written out when it ends. The
  * client is a single thread, so a stack gives each span its parent; with
  * tracing off `span` only runs its body.
  */
final class Tracer(val run: String, val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.map(_._1).getOrElse(0)
      open.push((id, name, System.nanoTime()))
      try body
      finally {
        val (_, _, start) = open.pop()
        done += Span(id, parent, name, run, start, System.nanoTime())
      }
    }

  def totalSeconds(name: String): Double = done.filter(_.name == name).map(_.seconds).sum

  def write(path: String): Unit = {
    val childNs = done.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum)
    val lines = done.sortBy(_.startNs).map { s =>
      val self = (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)
      s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Engine-wide counters taken from Spark's own listener interfaces: the
  * scheduler (jobs, stages, tasks and task metrics), the SQL planner
  * (per-action planning phases) and Structured Streaming (per-trigger
  * durations). Registered by the benchmark on the session it drives; read
  * as snapshots, so an operation's share is the difference of two reads.
  */
final class Probe(spark: SparkSession) {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = c.merge(k, v, (a: Double, b: Double) => a + b)
  private def max(k: String, v: Double): Unit = c.merge(k, v, (a: Double, b: Double) => math.max(a, b))

  /** (query name, durationMs map) per streaming trigger, in arrival order. */
  val triggers = new ConcurrentLinkedQueue[(String, Map[String, Long])]()

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("task_run_s", m.executorRunTime / 1e3)
        add("gc_s", m.jvmGCTime / 1e3)
        max("peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead) / 1048576.0)
        add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("io_read_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("io_write_mb", m.outputMetrics.bytesWritten / 1048576.0)
      }
    }
  }

  private val planner = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      add("actions", 1)
      val ph = qe.tracker.phases
      add("plan_ms", Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        triggers.add((p.name, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(planner)
  spark.streams.addListener(streams)

  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    c.asScala.toMap
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(planner)
    spark.streams.removeListener(streams)
  }
}

object Probe {
  def delta(a: Map[String, Double], b: Map[String, Double], k: String): Double =
    b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0)
}
