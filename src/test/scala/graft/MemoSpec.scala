package graft

import java.util.concurrent.{Callable, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The compute-once contract every process-wide cache relies on. */
class MemoSpec extends AnyFunSuite {

  private def withPool[T](n: Int)(f: java.util.concurrent.ExecutorService => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try f(pool) finally pool.shutdownNow()
  }

  private def task[T](body: => T): Callable[T] = new Callable[T] { def call(): T = body }

  test("concurrent first callers of one key share a single build") {
    val memo = new Memo[String, Int]
    val builds = new AtomicInteger(0)
    val n = 16
    val barrier = new CyclicBarrier(n)
    val got = withPool(n) { pool =>
      (1 to n).map(_ => pool.submit(task {
        barrier.await()
        memo("k") { builds.incrementAndGet(); Thread.sleep(50); 42 }
      })).map(_.get(30, TimeUnit.SECONDS))
    }
    assert(got.forall(_ == 42))
    assert(builds.get() === 1)
  }

  test("a failed build reaches its waiters, is evicted, and the next call retries") {
    val memo = new Memo[String, Int]
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withPool(2) { pool =>
      val first = pool.submit(task(memo("k") {
        entered.countDown()
        release.await()
        throw new IllegalStateException("boom")
      }))
      entered.await()
      val waiter = pool.submit(task(memo("k")(-1)))
      Thread.sleep(50) // let the waiter join the in-flight build
      release.countDown()
      Seq(first, waiter).foreach { f =>
        val e = intercept[java.util.concurrent.ExecutionException](f.get(30, TimeUnit.SECONDS))
        assert(e.getCause.isInstanceOf[IllegalStateException])
      }
    }
    assert(memo("k")(7) === 7)
    assert(memo("k")(fail("a built key must not rebuild")) === 7)
  }

  test("a slow build on one key does not block another key") {
    val memo = new Memo[String, Int]
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    withPool(2) { pool =>
      val slow = pool.submit(task(memo("a") { entered.countDown(); release.await(); 1 }))
      entered.await()
      assert(pool.submit(task(memo("b")(2))).get(10, TimeUnit.SECONDS) === 2)
      release.countDown()
      assert(slow.get(30, TimeUnit.SECONDS) === 1)
    }
  }
}
