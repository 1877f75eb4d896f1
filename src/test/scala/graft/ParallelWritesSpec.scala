package graft

import graft.util.ParallelWrites
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class ParallelWritesSpec extends AnyFunSuite {

  test("results keep submission order") {
    val out = ParallelWrites.run((1 to 16).toList, 4)(_ * 2)
    assert(out == (1 to 16).map(_ * 2))
  }

  test("tasks actually overlap at parallelism > 1") {
    // the first two tasks meet on a latch: one that waits alone (tasks run
    // serially) times out and reports false
    val met = new CountDownLatch(2)
    val waits = ParallelWrites.run((1 to 8).toList, 4) { _ =>
      met.countDown()
      met.await(30, TimeUnit.SECONDS)
    }
    assert(waits.forall(identity), s"a task waited alone: $waits")
  }

  test("every task completes before the first failure is rethrown") {
    val completed = new AtomicInteger
    val e = intercept[RuntimeException] {
      ParallelWrites.run((1 to 6).toList, 3) { i =>
        if (i == 2) throw new RuntimeException("boom")
        Thread.sleep(20)
        completed.incrementAndGet()
      }
    }
    assert(e.getMessage == "boom")
    // the barrier contract: no unsupervised task left running on abort
    assert(completed.get() == 5)
  }

  test("parallelism 1 degenerates to the sequential loop") {
    val order = collection.mutable.Buffer[Int]()
    ParallelWrites.run((1 to 5).toList, 1) { i => order += i }
    assert(order.toList == (1 to 5).toList)
  }
}
