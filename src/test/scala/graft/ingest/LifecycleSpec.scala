package graft.ingest

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Lifecycle.Step

/** [[Lifecycle.run]] overlaps every flow builder's independent steps:
  * its join/error contract must hold exactly, or a failed staging could
  * leak a live thread into the next step (clobbering a store mid-write)
  * or vanish silently, and two steps writing one root must never start.
  * No Spark: the job description is a plain thread-local here.
  */
final class LifecycleSpec extends AnyFunSuite {

  private final class Described extends Lifecycle.Description {
    private val local = new InheritableThreadLocal[String]
    def get: String = local.get
    def set(d: String): Unit = local.set(d)
  }

  private def step[A](name: String, writes: String*)(body: => A): Step[A] =
    Step(name, writes, () => body)

  private def run[A](steps: Step[A]*): Seq[A] = Lifecycle.run("t", new Described, steps)

  test("par returns every step's result in order") {
    assert(run(step("a")(1 + 1), step("b")(3), step("c")(4)) === Seq(2, 3, 4))
  }

  test("par really overlaps (a later step runs while the first is in flight)") {
    val gate = new CountDownLatch(1)
    // the first step blocks until the second has started: only true
    // concurrency can finish
    run(
      step("a")(assert(gate.await(10, TimeUnit.SECONDS),
        "b never started while a was waiting — no overlap")),
      step("b")(gate.countDown()))
  }

  test("a later step's failure propagates after the first completed") {
    val boom = intercept[RuntimeException] {
      run[Int](step("a")(42), step("b")(throw new RuntimeException("b failed")))
    }
    assert(boom.getMessage === "b failed")
  }

  test("the first failure wins with the others suppressed onto it and joined") {
    val bDone = new CountDownLatch(1)
    val boom = intercept[RuntimeException] {
      run[Unit](
        step("a")(throw new RuntimeException("a failed")),
        step("b") {
          Thread.sleep(50)
          bDone.countDown()
          throw new RuntimeException("b failed")
        })
    }
    assert(boom.getMessage === "a failed")
    assert(bDone.getCount === 0L, "the caller returned before b's thread was joined")
    assert(boom.getSuppressed.map(_.getMessage).toSeq === Seq("b failed"))
  }

  test("no work leaks past the call: every step is joined") {
    val done = new CountDownLatch(2)
    run(step("a")(()), step("b") { Thread.sleep(30); done.countDown() },
      step("c") { Thread.sleep(30); done.countDown() })
    assert(done.getCount === 0L)
  }

  test("steps writing one root, or a root and a dir under it, fail before either runs") {
    val started = new CountDownLatch(1)
    Seq("/tmp/graft_store" -> "/tmp/graft_store",
        "/tmp/graft_store" -> "/tmp/graft_store/_log/0",
        "/tmp/graft_store/v-1" -> "/tmp/graft_store/../graft_store").foreach {
      case (a, b) =>
        val ex = intercept[IllegalArgumentException] {
          run(step("first", "/tmp/other", a)(started.countDown()),
            step("second", b)(started.countDown()))
        }
        assert(ex.getMessage.contains("first") && ex.getMessage.contains("second"),
          s"the failure does not name both steps: ${ex.getMessage}")
    }
    assert(started.getCount === 1L, "a step ran despite overlapping write sets")
    // siblings and name prefixes are disjoint roots
    assert(run(step("a", "/tmp/graft_store")(1),
      step("b", "/tmp/graft_store_2", "/tmp/graft")(2)) === Seq(1, 2))
  }

  test("each step runs under <prefix>/<step>; the caller's description is restored") {
    val d = new Described
    d.set("caller")
    val seen = Lifecycle.run("q", d, Seq(step("a")(d.get), step("b")(d.get)))
    assert(seen === Seq("q/a", "q/b"))
    assert(d.get === "caller")
    intercept[RuntimeException] {
      Lifecycle.run("q", d, Seq(step("a")(throw new RuntimeException("a failed"))))
    }
    assert(d.get === "caller", "a failed step left its description on the caller")
  }
}
