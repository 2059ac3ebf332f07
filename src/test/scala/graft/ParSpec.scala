package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("Par.run rethrows a failure only after every sibling task settles") {
    val siblingDone = new AtomicBoolean(false)
    val boom = intercept[IllegalStateException] {
      Par.run(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(500); siblingDone.set(true) })
    }
    assert(boom.getMessage == "boom") // the original cause, not a wrapper
    assert(siblingDone.get(), "Par.run threw while a sibling task was still running")
  }
}
