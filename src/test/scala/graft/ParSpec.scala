package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Par

/** Failure semantics of the leg runner: a failed leg must not cut its
  * siblings short (they may be mid-commit), and the caller sees the
  * first failure in submission order. */
class ParSpec extends AnyFunSuite {

  test("a failing leg waits for its siblings, which run uninterrupted") {
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.run(Seq(
      () => throw new IllegalStateException("leg 0"),
      () => { Thread.sleep(200); finished.set(true); 1 })))
    assert(e.getMessage == "leg 0")
    assert(finished.get, "the sibling leg was interrupted or not awaited")
  }

  test("the first failure in submission order wins, the rest are suppressed") {
    val e = intercept[IllegalStateException](Par.run(Seq(
      () => 0,
      () => { Thread.sleep(100); throw new IllegalStateException("leg 1") },
      () => throw new IllegalArgumentException("leg 2"))))
    assert(e.getMessage == "leg 1")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("leg 2"))
  }

  test("results come back in submission order") {
    assert(Par.run(Seq(() => { Thread.sleep(50); "a" }, () => "b")) ==
      Seq("a", "b"))
  }
}
