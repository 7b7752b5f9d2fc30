package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.core.{Ckpt, SharedFrames}

/** The shared-frame registry's contract: one build per key under racing
  * cold callers, nothing cached by a failed build, nested builds, and a
  * release that unpins every frame of every value.
  */
class SharedFramesSpec extends SparkSpecBase {

  /** A dir no declared query reads: these keys never collide with memos. */
  private val dir = "shared-frames-spec"

  private def resident(): Int = spark.sparkContext.getPersistentRDDs.values
    .count(_.getStorageLevel != StorageLevel.NONE)

  private def rddOf(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.get

  test("cold race: the build runs once and both callers get the same frame") {
    val entered = new CountDownLatch(1)
    val go = new CountDownLatch(1)
    val builds = new AtomicInteger(0)
    def build(): DataFrame = {
      builds.incrementAndGet()
      entered.countDown()
      go.await(30, TimeUnit.SECONDS)
      spark.range(3).toDF()
    }
    var a, b: DataFrame = null
    val ta = new Thread(() => a = SharedFrames(spark, dir, "race")(build()))
    val tb = new Thread(() => b = SharedFrames(spark, dir, "race")(build()))
    ta.start()
    assert(entered.await(30, TimeUnit.SECONDS))
    tb.start()
    // hold A's build until B has stopped running: parked on the miss
    // lock, or (in a memo without one) inside its own build
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (Set(Thread.State.NEW, Thread.State.RUNNABLE)(tb.getState) &&
      System.nanoTime() < deadline) Thread.sleep(5)
    go.countDown()
    ta.join(); tb.join()
    assert(builds.get === 1)
    assert(a ne null)
    assert(a eq b)
    SharedFrames.release("race")
  }

  test("a throwing build caches nothing; the next call rebuilds") {
    intercept[IllegalStateException] {
      SharedFrames[DataFrame](spark, dir, "boom")(throw new IllegalStateException("boom"))
    }
    assert(!SharedFrames.live(spark, dir).contains("boom"))
    val df = SharedFrames(spark, dir, "boom")(spark.range(1).toDF())
    assert(SharedFrames[DataFrame](spark, dir, "boom")(fail("cached value was rebuilt")) eq df)
    SharedFrames.release("boom")
    assert(!SharedFrames.live(spark, dir).contains("boom"))
  }

  test("a build may read another memo, built cold inside it") {
    var inner: DataFrame = null
    val outer = SharedFrames(spark, dir, "outer") {
      inner = SharedFrames(spark, dir, "inner")(spark.range(2).toDF())
      inner.union(inner)
    }
    assert(outer.count() === 4)
    assert(SharedFrames.live(spark, dir) === Set("outer", "inner"))
    assert(SharedFrames[DataFrame](spark, dir, "inner")(fail("cached value was rebuilt")) eq inner)
    SharedFrames.release("outer", "inner")
    assert(SharedFrames.live(spark, dir).isEmpty)
  }

  test("releaseAll unpins every frame and returns the resident count to ambient") {
    SharedFrames.releaseAll()
    // earlier suites' unreferenced frames drain asynchronously through the
    // ContextCleaner; settle them before taking the ambient count
    var ambient = Int.MaxValue
    var i = 0
    while (i < 10 && resident() < ambient) {
      ambient = resident(); System.gc(); Thread.sleep(100); i += 1
    }
    val one = SharedFrames(spark, dir, "one")(Ckpt.truncate(spark.range(10).toDF()))
    val (p, q) = SharedFrames(spark, dir, "pair") {
      (Ckpt.truncate(spark.range(5).toDF()), Ckpt.truncate(spark.range(6).toDF()))
    }
    val frames = Seq(one, p, q)
    assert(frames.forall(df => rddOf(df).getStorageLevel != StorageLevel.NONE))
    assert(resident() > ambient)
    SharedFrames.releaseAll()
    assert(frames.forall(df => rddOf(df).getStorageLevel == StorageLevel.NONE))
    assert(resident() <= ambient)
    assert(SharedFrames.live(spark, dir).isEmpty)
  }
}
