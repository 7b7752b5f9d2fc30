package graft.run

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The gate rows' overlapped bootstrap writes: a failed thunk must not
  * reach the caller while its sibling is still writing. */
class BothInParallelSpec extends AnyFunSuite {
  test("bothInParallel: a's failure is rethrown only after b has finished") {
    val bDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      RunIngestStream.bothInParallel(
        throw new IllegalStateException("a failed"),
        { Thread.sleep(500); bDone.set(true) })
    }
    assert(e.getMessage == "a failed")
    assert(bDone.get(), "the caller unwound while b was still running")
  }
}
