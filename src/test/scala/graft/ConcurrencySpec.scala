package graft

import org.scalatest.funsuite.AnyFunSuite

/** The overlap primitive's hardening guarantees: the pool-side thunk
  * runs under the CALLER's CacheScope/Scratch scopes and active
  * SparkSession even on a reused pool thread (inheritable thread-locals
  * alone pin the values live at pool-thread birth), and a pool-side
  * failure is never lost when the caller's half fails too. */
class ConcurrencySpec extends AnyFunSuite {

  test("pool-side thunk sees the caller's CacheScope, including on a reused pool thread") {
    val s1 = new CacheScope
    @volatile var seen1: CacheScope = null
    CacheScope.withScope(s1) {
      Concurrency.overlap({ seen1 = CacheScope.currentScope }, ())
    }
    assert(seen1 eq s1, "first overlap must carry the caller's scope to the pool thread")
    // the cached pool reuses the idle thread; a second overlap under a
    // DIFFERENT scope must see the new one, not the birth-time one
    val s2 = new CacheScope
    @volatile var seen2: CacheScope = null
    CacheScope.withScope(s2) {
      Concurrency.overlap({ seen2 = CacheScope.currentScope }, ())
    }
    assert(seen2 eq s2, "a reused pool thread must see the NEW caller's scope")
    assert(CacheScope.currentScope ne s2, "caller scope must be restored after withScope")
  }

  test("pool-side Scratch registrations land in the caller's cleanup registry") {
    Scratch.scopedCleanup {
      val ghost = java.nio.file.Files.createTempDirectory("graft-overlap-scratch").toString
      Concurrency.overlap({ Scratch.registerForCleanup(ghost) }, ())
      assert(Scratch.drainCleanup() == 1,
        "the caller's registry must hold the path the pool-side thunk registered")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ghost)))
    }
  }

  test("pool-side thunk resolves the caller's active SparkSession, including a second session") {
    import org.apache.spark.sql.SparkSession
    val first = SparkSpec.session
    val second = first.newSession()
    val before = SparkSession.getActiveSession
    try {
      for (s <- Seq(second, first, second)) {
        SparkSession.setActiveSession(s)
        val (seen, _) = Concurrency.overlap(SparkSession.active, ())
        assert(seen eq s, "the pooled thunk must see the caller's active session")
        assert(SparkSession.active eq s, "the caller's active session must be unchanged")
      }
      // a caller with no active session hands none over, whatever the
      // reused pool thread last ran with
      SparkSession.clearActiveSession()
      val (none, _) = Concurrency.overlap(SparkSession.getActiveSession, ())
      assert(none.isEmpty)
    } finally before.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  test("double failure: caller-side exception propagates with the pool-side one suppressed") {
    val ex = intercept[RuntimeException] {
      Concurrency.overlap[Unit, Unit](
        { Thread.sleep(50); throw new IllegalStateException("pool side") },
        { throw new RuntimeException("caller side") })
    }
    assert(ex.getMessage == "caller side")
    assert(ex.getSuppressed.exists(_.getMessage == "pool side"),
      "the pool-side failure must not be silently swallowed")
  }

  test("pool-side-only failure propagates unwrapped after the caller's half completes") {
    val ex = intercept[IllegalStateException] {
      Concurrency.overlap[Unit, Int]({ throw new IllegalStateException("pool only") }, 42)
    }
    assert(ex.getMessage == "pool only")
  }
}
