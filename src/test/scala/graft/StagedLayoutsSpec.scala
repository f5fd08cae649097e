package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Contract of Scratch.stagedDir — the session-memoized staging tier the
  * read-semantics keys (DPP fact copy, footer layout, standing LSH and
  * minhash index halves) build on: the layout must build EXACTLY once
  * per (session, key), different keys must never share a directory, and
  * a new session must re-stage (the memo is an in-session investment,
  * not a cross-session cache — cross-session reuse is persistBucketed's
  * fingerprinted job).
  */
class StagedLayoutsSpec extends SparkSpecBase {

  test("stagedDir builds once per (session, key) and returns a stable dir") {
    val builds = new AtomicInteger(0)
    val key = s"spec:once:${System.nanoTime()}"
    def get(): String = Scratch.stagedDir(spark, key, "graft_spec_staged_") {
      d =>
        builds.incrementAndGet()
        Files.write(Paths.get(d, "marker"), "x".getBytes)
        ()
    }
    val d1 = get()
    val d2 = get()
    assert(d1 == d2, "same (session, key) must return the same directory")
    assert(builds.get() == 1, s"build ran ${builds.get()} times, expected 1")
    assert(Files.exists(Paths.get(d1, "marker")),
      "the staged layout must be the one the build wrote")
  }

  test("different keys stage into different directories") {
    val n = System.nanoTime()
    val d1 = Scratch.stagedDir(spark, s"spec:a:$n", "graft_spec_staged_")(_ => ())
    val d2 = Scratch.stagedDir(spark, s"spec:b:$n", "graft_spec_staged_")(_ => ())
    assert(d1 != d2, "distinct keys must never share a staged layout")
  }

  test("a different session re-stages (memo is per session object)") {
    val builds = new AtomicInteger(0)
    val key = s"spec:session:${System.nanoTime()}"
    def get(s: org.apache.spark.sql.SparkSession): String =
      Scratch.stagedDir(s, key, "graft_spec_staged_") { _ =>
        builds.incrementAndGet(); ()
      }
    val d1 = get(spark)
    // newSession shares the SparkContext but is a DIFFERENT session
    // object — the corpus-immutability argument is scoped to a session,
    // so the memo must not leak across
    val d2 = get(spark.newSession())
    assert(d1 != d2, "a new session must stage its own layout")
    assert(builds.get() == 2, s"build ran ${builds.get()} times, expected 2")
  }

  test("a failed build is not memoized — the next call retries") {
    val builds = new AtomicInteger(0)
    val key = s"spec:fail:${System.nanoTime()}"
    def get(fail: Boolean): String =
      Scratch.stagedDir(spark, key, "graft_spec_staged_") { _ =>
        builds.incrementAndGet()
        if (fail) sys.error("planted staging failure")
        ()
      }
    intercept[RuntimeException](get(fail = true))
    val d = get(fail = false)
    assert(d.nonEmpty)
    assert(builds.get() == 2,
      "the failed attempt must not poison the memo with a broken layout")
  }

  /** Runs `body` with a way to call stagedDir on a second thread. */
  private def withThreads(body: ((=> String) => Future[String]) => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(2)
    try body(f => pool.submit(new Callable[String] { def call(): String = f }))
    finally { pool.shutdownNow(); () }
  }

  test("two threads on one key run build once and get the same dir") {
    val builds = new AtomicInteger(0)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val key = s"spec:race:${System.nanoTime()}"
    def get(): String = Scratch.stagedDir(spark, key, "graft_spec_staged_") { _ =>
      builds.incrementAndGet()
      entered.countDown()
      release.await(30, TimeUnit.SECONDS); ()
    }
    withThreads { async =>
      val first = async(get())
      assert(entered.await(30, TimeUnit.SECONDS))
      val second = async(get())
      Thread.sleep(200) // let the second caller reach the in-flight build
      release.countDown()
      assert(first.get(30, TimeUnit.SECONDS) == second.get(30, TimeUnit.SECONDS),
        "both callers must get the one staged directory")
      assert(builds.get() == 1, s"build ran ${builds.get()} times, expected 1")
    }
  }

  test("a build blocked on key A does not block a call for key B") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val n = System.nanoTime()
    withThreads { async =>
      val a = async(Scratch.stagedDir(spark, s"spec:slow:$n", "graft_spec_staged_") { _ =>
        entered.countDown()
        release.await(30, TimeUnit.SECONDS); ()
      })
      assert(entered.await(30, TimeUnit.SECONDS))
      try {
        // a timeout here means key B waited on key A's build
        val dB = async(Scratch.stagedDir(spark, s"spec:fast:$n",
          "graft_spec_staged_")(_ => ())).get(10, TimeUnit.SECONDS)
        assert(!a.isDone, "key A's build must still be blocked")
        release.countDown()
        assert(a.get(30, TimeUnit.SECONDS) != dB)
      } finally release.countDown()
    }
  }
}
