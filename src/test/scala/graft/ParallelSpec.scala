package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

class ParallelSpec extends AnyFunSuite {
  test("results come back in item order whatever order the tasks finish in") {
    val items = (1 to 12).toSeq
    // later items finish first
    val out = Parallel.mapAll(items, 4) { i => Thread.sleep((13 - i) * 3L); i * 10 }
    assert(out == items.map(_ * 10))
    assert(Parallel.mapAll(Seq.empty[Int], 4)(identity).isEmpty)
    assert(Parallel.mapAll(Seq(7), 4)(_ + 1) == Seq(8))
  }

  test("the first failure in item order is rethrown only after every task ends") {
    val ended = new AtomicInteger(0)
    val release = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Parallel.mapAll(0 until 6, 6) { i =>
        try {
          i match {
            // item 4 fails at once; item 1 fails only after the slow
            // items were released, so it is the LATER failure in time
            case 4 => throw new IllegalStateException("fail 4")
            case 1 => release.await(5, TimeUnit.SECONDS); throw new IllegalStateException("fail 1")
            case 5 => Thread.sleep(200); release.countDown(); i
            case _ => release.await(5, TimeUnit.SECONDS); Thread.sleep(50); i
          }
        } finally ended.incrementAndGet()
      }
    }
    assert(e.getMessage == "fail 1")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("fail 4"))
    assert(ended.get == 6, "returned before every task ended")
  }

  test("meanwhile runs on the calling thread beside the pool; a task failure outranks it") {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val (out, aside) = Parallel.mapAllBeside(Seq(1, 2, 3), 3) { i =>
      threads.add(Thread.currentThread()); i
    } { Thread.currentThread() }
    assert(out == Seq(1, 2, 3))
    assert(aside.get eq Thread.currentThread())
    assert(!threads.contains(Thread.currentThread()))
    val e = intercept[IllegalArgumentException] {
      Parallel.mapAllBeside(Seq(1, 2), 2) { i =>
        if (i == 2) throw new IllegalArgumentException("task") else i
      } { throw new IllegalStateException("meanwhile") }
    }
    assert(e.getMessage == "task")
    val (_, failed) = Parallel.mapAllBeside(Seq(1, 2), 2)(identity) {
      throw new IllegalStateException("meanwhile")
    }
    assert(failed.failed.get.getMessage == "meanwhile")
  }
}
