package graft

import graft.util.Par
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("eval2 fails fast when the second expression throws") {
    val release = new CountDownLatch(1)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.eval2(release.await(10, TimeUnit.SECONDS),
        throw new IllegalStateException("b failed"))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    release.countDown()
    assert(e.getMessage == "b failed")
    assert(secs < 5, f"eval2 waited $secs%.1f s on the slow side")
  }

  test("eval2 nested deeper than the global pool does not starve it") {
    // The global pool has availableProcessors threads. Each level holds a
    // leaf that waits until every leaf has started, so the latch opens only
    // if all depth + 1 leaves run at once: without `blocking` the leaves
    // past the pool size never get a thread and the others time out.
    val depth = Runtime.getRuntime.availableProcessors + 2
    val started = new CountDownLatch(depth + 1)
    def leaf(): Boolean = { started.countDown(); started.await(10, TimeUnit.SECONDS) }
    def nest(d: Int): Seq[Boolean] =
      if (d == 0) Seq(leaf())
      else { val (l, rest) = Par.eval2(leaf(), nest(d - 1)); l +: rest }
    val opened = nest(depth)
    assert(opened.length == depth + 1)
    assert(opened.forall(identity), s"${opened.count(!_)} leaves timed out waiting for the others")
  }
}
