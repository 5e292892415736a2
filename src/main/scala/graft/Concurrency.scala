package graft

import org.apache.spark.sql.SparkSession

/** Shared two-job overlap primitive (guide §2.6: Spark's scheduler
  * happily runs several jobs at once; actions are only sequential
  * because driver code calls them sequentially). `overlap(a, b)` runs
  * `a` on a dedicated pool thread while `b` runs on the CALLER's
  * thread, so the second job's tasks back-fill executors freed by the
  * first one's tail.
  *
  * Why not `ExecutionContext.Implicits.global` (what the r19 sites
  * used): the global fork-join pool sizes itself to the core count and
  * its tasks are not supposed to block — a nested overlap (a merge
  * inside an already-overlapped gate) parking inside `Await.result`
  * without `blocking{}` can starve the pool and hang the driver. Here
  * (a) only ONE half of each overlap is submitted to the pool — the
  * caller thread always makes progress on the other half, so a nest
  * consumes one pool thread per level, never a thread per branch — and
  * (b) the pool is a dedicated unbounded-but-idle-reaped cached pool
  * (daemon threads, 60 s idle timeout), so a parked Spark action can
  * never prevent another overlap from getting a thread.
  *
  * Contract (same as the inline Future blocks this replaces): the two
  * thunks must be independent jobs — neither may read frames the other
  * writes. The caller's [[CacheScope]]/[[Scratch]] scopes and active
  * `SparkSession` are carried onto the pool thread explicitly (pool
  * threads are REUSED, so the inheritable thread-locals alone would pin
  * whatever was live at pool-thread birth): anything `a` registers
  * lands in the scope the caller's runner drains, and `a` resolves
  * `SparkSession.active` to the caller's session; the pool thread's own
  * active session is restored afterwards. SparkContext local
  * properties (job group, description, scheduler pool) are NOT
  * carried. Failure semantics: if `b` throws, `a` is
  * still awaited (never left running unobserved against a table the
  * caller is about to clean up) and a pool-side failure is attached as
  * a suppressed exception, then `b`'s propagates; if only `a` throws,
  * its exception propagates after `b` completes. */
object Concurrency {

  private lazy val pool: java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, s"graft-overlap-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  private def unwrap(t: Throwable): Throwable = t match {
    case e: java.util.concurrent.ExecutionException if e.getCause != null => e.getCause
    case other => other
  }

  private def withActiveSession[T](session: Option[SparkSession])(body: => T): T = {
    def install(s: Option[SparkSession]): Unit =
      s.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    val prev = SparkSession.getActiveSession
    install(session)
    try body finally install(prev)
  }

  def overlap[A, B](a: => A, b: => B): (A, B) = {
    val cacheScope = CacheScope.currentScope
    val scratchReg = Scratch.currentRegistry
    val session = SparkSession.getActiveSession
    val fa = new java.util.concurrent.FutureTask[A](() =>
      CacheScope.withScope(cacheScope) { Scratch.withRegistry(scratchReg) {
        withActiveSession(session) { a }
      } })
    pool.execute(fa)
    val rb =
      try b
      catch {
        case t: Throwable =>
          // drain the overlapped job before propagating: the caller's
          // failure path may delete the very table `a` is writing
          try { fa.get(); () }
          catch {
            case pe: Throwable =>
              val cause = unwrap(pe)
              if (cause ne t) t.addSuppressed(cause)
          }
          throw t
      }
    val ra =
      try fa.get()
      catch {
        // unwrap the executor's wrapper so callers see the original
        case e: java.util.concurrent.ExecutionException =>
          throw unwrap(e)
      }
    (ra, rb)
  }
}
