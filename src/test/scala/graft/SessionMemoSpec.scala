package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** The [[SessionMemo]] contract every session fixture relies on: one build
  * per (session, key) under concurrency, no entry left by a failed build,
  * and builds that reach into another fixture's memo. */
class SessionMemoSpec extends SparkSpec {

  test("8 concurrent callers of one key run the build once and share its value") {
    val memo = new SessionMemo[String, AnyRef]
    val builds = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val calls = (1 to 8).map { _ =>
        Future {
          start.await()
          memo(spark, "k") {
            builds.incrementAndGet()
            Thread.sleep(200) // every other caller arrives mid-build
            new AnyRef
          }
        }
      }
      start.countDown()
      val values = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get() == 1)
      assert(values.forall(_ eq values.head))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("distinct keys build separately; a repeated key does not rebuild") {
    val memo = new SessionMemo[(String, Int), AnyRef]
    val builds = new AtomicInteger(0)
    def get(k: (String, Int)) = memo(spark, k) { builds.incrementAndGet(); new AnyRef }
    val a = get(("dir", 8))
    val b = get(("dir", 10))
    assert(a ne b)
    assert(builds.get() == 2)
    assert(get(("dir", 8)) eq a)
    assert(builds.get() == 2)
  }

  test("a build that throws leaves no entry, and the next call builds again") {
    val memo = new SessionMemo[String, String]
    val builds = new AtomicInteger(0)
    def get(ok: Boolean) = memo(spark, "dir") {
      builds.incrementAndGet()
      require(ok, "hot LSH bucket")
      "built"
    }
    val e = intercept[IllegalArgumentException](get(ok = false))
    assert(e.getMessage.contains("hot LSH bucket"))
    assert(get(ok = true) == "built")
    assert(builds.get() == 2)
    assert(get(ok = false) == "built") // memoized now: the build does not run
    assert(builds.get() == 2)
  }

  test("a build may call another SessionMemo (the nested-fixture shape)") {
    val inner = new SessionMemo[String, AnyRef]
    val outer = new SessionMemo[String, (AnyRef, Int)]
    val innerBuilds = new AtomicInteger(0)
    def innerGet() = inner(spark, "dir") { innerBuilds.incrementAndGet(); new AnyRef }
    val (fromOuter, n) = outer(spark, "dir")((innerGet(), 1))
    assert(n == 1)
    assert(innerGet() eq fromOuter)
    assert(innerBuilds.get() == 1)
  }
}
