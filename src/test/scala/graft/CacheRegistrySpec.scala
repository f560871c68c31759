package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** The registry's own contract: single-flight builds, no entry left
  * by a failed build, nested builds of different keys. Each test keys
  * a `newSession()` of its own and evicts it afterwards.
  */
class CacheRegistrySpec extends SparkTestBase {

  private def withSession(body: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    try body(s) finally CacheRegistry.evict(s)
  }

  test("concurrent callers of one key wait for a single build and share its value") {
    withSession { s =>
      val callers = 4
      val go = new CountDownLatch(1)
      // the build waits for every caller to be inside a build: a
      // lookup-then-build map lets all four in and the latch opens;
      // single-flight admits one, which times out and returns
      val building = new CountDownLatch(callers)
      val builds = new AtomicInteger
      val pool = Executors.newFixedThreadPool(callers)
      try {
        val calls = (1 to callers).map { _ =>
          pool.submit(new Callable[AnyRef] {
            def call(): AnyRef = {
              go.await()
              CacheRegistry.memo(s, "spec.singleFlight") {
                builds.incrementAndGet()
                building.countDown()
                building.await(1, TimeUnit.SECONDS)
                new Object
              }
            }
          })
        }
        go.countDown()
        val got = calls.map(_.get(60, TimeUnit.SECONDS))
        assert(builds.get == 1, s"${builds.get} builds ran for one key")
        assert(got.forall(_ eq got.head), "every caller must get the same instance")
      } finally pool.shutdownNow()
    }
  }

  test("a build that throws leaves no entry and the next call builds again") {
    withSession { s =>
      val e = intercept[IllegalStateException] {
        CacheRegistry.memo[String](s, "spec.failing")(throw new IllegalStateException("boom"))
      }
      assert(e.getMessage == "boom")
      assert(!CacheRegistry.contains(s, "spec.failing"))
      assert(CacheRegistry.memo(s, "spec.failing")("built") == "built")
      assert(CacheRegistry.memo(s, "spec.failing")("rebuilt") == "built")
    }
  }

  test("a build may memo a different key without deadlock") {
    withSession { s =>
      val pool = Executors.newSingleThreadExecutor()
      try {
        val outer = pool.submit(new Callable[Int] {
          def call(): Int =
            CacheRegistry.memo(s, "spec.outer")(CacheRegistry.memo(s, "spec.inner")(1) + 1)
        })
        assert(outer.get(60, TimeUnit.SECONDS) == 2)
        assert(CacheRegistry.memo(s, "spec.inner")(-1) == 1)
      } finally pool.shutdownNow()
    }
  }
}
