package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Par]]'s contract: every side runs to its end, a failure is rethrown
  * only after all sides finished, and a second failure rides along as
  * suppressed. */
class ParSpec extends AnyFunSuite {

  test("run2 returns both values, computed on two threads") {
    // each side waits for the other to start: sequential evaluation
    // would deadlock, so the latch proves the overlap
    val started = new CountDownLatch(2)
    def side(v: Int): Int = { started.countDown(); started.await(); v }
    assert(Par.run2(side(1), side(2)) == ((1, 2)))
    assert(Par.run3("a", 2, 3.0) == (("a", 2, 3.0)))
  }

  test("run2 rethrows a failure on either side only after both finished") {
    for (failLeft <- Seq(true, false)) {
      val otherDone = new AtomicBoolean(false)
      def slow(): Int = { Thread.sleep(200); otherDone.set(true); 1 }
      def boom(): Int = throw new IllegalStateException("boom")
      val e = intercept[IllegalStateException] {
        if (failLeft) Par.run2(boom(), slow()) else Par.run2(slow(), boom())
      }
      assert(e.getMessage == "boom")
      assert(otherDone.get(), s"failLeft=$failLeft: rethrown before the other side ended")
    }
  }

  test("run2 with both sides failing keeps the second failure as suppressed") {
    val e = intercept[IllegalStateException] {
      Par.run2[Int, Int](throw new IllegalStateException("left"),
        throw new IllegalArgumentException("right"))
    }
    assert(e.getMessage == "left")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("right"))
  }

  test("runAll runs every thunk, rethrows after all finished, suppresses the rest") {
    val finished = new AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      Par.runAll(Seq(
        () => throw new RuntimeException("first"),
        () => { Thread.sleep(200); finished.set(true) },
        () => throw new RuntimeException("second")))
    }
    assert(finished.get())
    val all = (e +: e.getSuppressed.toSeq).map(_.getMessage).toSet
    assert(all == Set("first", "second"))
    assert(e.getSuppressed.length == 1)
  }
}
