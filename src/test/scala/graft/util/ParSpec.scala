package graft.util

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Par]] lets no thunk outlive the call, and the failure it rethrows
  * does not depend on which thunk failed first in time.
  */
class ParSpec extends AnyFunSuite {

  test("a failing thunk does not return before the others have finished") {
    val done = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); done.set(true) })
    }
    assert(e.getMessage == "first")
    assert(done.get, "Par threw while the second thunk was still running")
  }

  test("when several thunks fail, the earliest in argument order is rethrown") {
    val e = intercept[RuntimeException] {
      Par(
        () => { Thread.sleep(200); throw new RuntimeException("first") },
        () => throw new RuntimeException("second"))
    }
    assert(e.getMessage == "first")
  }
}
