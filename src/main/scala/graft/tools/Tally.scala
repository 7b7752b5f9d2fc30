package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job/stage tally for the dev probes: one listener that records every
  * finished job and stage (wall, task count, call site) and, over the
  * same stages, the shuffle-write bytes and the largest stage peak
  * execution memory. `take()` returns what finished since the previous
  * `take()`.
  */
final class Tally private extends SparkListener {
  import Tally._

  private val started = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val jobTasks = new ConcurrentHashMap[Int, Int]()
  private val finished = new ConcurrentLinkedQueue[Span]()
  private val shuffleWrite = new AtomicLong
  private val peakExecMem = new AtomicLong

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    // the result stage carries the action's call site
    val site = j.stageInfos.maxBy(_.stageId).name
    started.put(j.jobId, (System.nanoTime(), site, j.stageIds))
    j.stageIds.foreach(jobOfStage.put(_, j.jobId))
    jobTasks.put(j.jobId, 0)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(started.remove(j.jobId)).foreach { case (t0, site, stages) =>
      stages.foreach(jobOfStage.remove)
      // tasks of the stages that ran: skipped (reused) stages count none
      val tasks = jobTasks.remove(j.jobId)
      finished.add(Span(s"job ${j.jobId}", (System.nanoTime() - t0) / 1e9, tasks, site))
    }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val si = s.stageInfo
    val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield (b - a) / 1e3)
    finished.add(Span(s"stage ${si.stageId}", wall.getOrElse(0.0), si.numTasks, si.name))
    Option(jobOfStage.get(si.stageId)).foreach(jobTasks.merge(_, si.numTasks, _ + _))
    shuffleWrite.addAndGet(si.taskMetrics.shuffleWriteMetrics.bytesWritten)
    peakExecMem.accumulateAndGet(si.taskMetrics.peakExecutionMemory, math.max)
  }

  def take(): Snapshot = {
    Thread.sleep(DrainMs)
    val spans = Iterator.continually(finished.poll()).takeWhile(_ != null).toVector
    Snapshot(spans, shuffleWrite.getAndSet(0), peakExecMem.getAndSet(0))
  }
}

object Tally {
  final case class Span(what: String, wall: Double, tasks: Int, site: String)

  final case class Snapshot(spans: Seq[Span], shuffleWriteBytes: Long, peakExecMemBytes: Long) {
    def shuffleMb: Double = shuffleWriteBytes / 1e6
    def peakExecMemMb: Double = peakExecMemBytes / 1e6
  }

  /** Listener events arrive asynchronously: how long `take` lets the bus
    * deliver an action's last events before reading. */
  private val DrainMs = 300L

  def on(spark: SparkSession): Tally = {
    val t = new Tally
    spark.sparkContext.addSparkListener(t)
    t
  }
}
