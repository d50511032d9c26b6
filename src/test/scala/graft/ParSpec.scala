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
}
