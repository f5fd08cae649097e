package graft

import java.util.concurrent.CompletableFuture
import org.apache.spark.sql.SparkSession

/** The session-scoped memo behind every "pay once per session"
  * investment: the shared rollups (UserFrames, DailyFrames, the graph
  * edge sets), trained codebooks, staged layouts (`Scratch.stagedDir`)
  * and the planning decisions `PlanMemo` keys on plan and data version.
  * The harness runs the whole key board on ONE SparkSession, so each of
  * these is computed on the first call per (session, key) and reused by
  * every later call.
  *
  * Keys are compared by value within a session and must be unique
  * across callers: each caller prefixes its key with its own name, and
  * includes the sf dir so scale factors never cross-contaminate.
  * Sessions are compared by reference — an identity HASH may collide
  * across live sessions, handing one session frames pinned to another
  * context — and a new session (`newSession()` included) recomputes.
  *
  * Locking: the global monitor is held only long enough to install a
  * per-(session, key) promise. `compute` runs OUTSIDE it, so unrelated
  * keys compute in parallel and only same-key callers wait, on the
  * promise. A failed compute clears its promise, so the next caller
  * retries instead of joining a poisoned future.
  *
  * Release: the map holds sessions weakly, but a memoized DataFrame
  * strongly references its own session, so weak keys alone never free
  * those entries. What releases them is the purge on every access:
  * entries of sessions whose SparkContext is stopped are dropped. */
object SessionMemo {
  private val memos = new java.util.WeakHashMap[SparkSession,
    java.util.HashMap[Any, CompletableFuture[Any]]]()

  def apply[T](s: SparkSession, key: Any)(compute: => T): T = {
    val (fut, owner) = memos.synchronized {
      memos.keySet.removeIf(_.sparkContext.isStopped)
      val perKey = memos.computeIfAbsent(s, _ => new java.util.HashMap())
      Option(perKey.get(key)) match {
        case Some(f) => (f, false)
        case None =>
          val f = new CompletableFuture[Any]()
          perKey.put(key, f); (f, true)
      }
    }
    if (owner) {
      try fut.complete(compute)
      catch {
        case t: Throwable =>
          memos.synchronized {
            Option(memos.get(s)).foreach(_.remove(key)); ()
          }
          fut.completeExceptionally(t)
          throw t
      }
    }
    fut.join().asInstanceOf[T]
  }
}
