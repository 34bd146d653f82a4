package graft.core

import org.apache.spark.sql.Dataset

/**
 * Tracked persist() for library operators that need a cost barrier
 * (e.g. [[graft.ext.Dedup]] MinHash and simhash frames feed several
 * downstream joins — without a barrier the expensive scan recomputes per
 * consumer).
 *
 * A bare `persist()` inside a library function leaks: the caller gets the
 * cached frame but no release handle, so long-lived sessions composing
 * these operators accrete cached partitions. Operators persist through
 * [[persistTracked]] instead, and callers release everything graft cached
 * with one [[releaseAll]] once results are materialized (the Verify/Bench
 * harnesses use the broader `spark.catalog.clearCache()` since they own
 * the whole session).
 */
object CacheRegistry {

  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val broadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.broadcast.Broadcast[_]]()

  /** Per-scope registration list: entries a [[scoped]] body registered
    * from its own thread. Ownership is thread-local so two concurrent
    * scopes (e.g. two streaming queries in one session) can never
    * release each other's in-flight caches/broadcasts. */
  private final class Scope {
    val frames = new java.util.ArrayList[Dataset[_]]()
    val bcs = new java.util.ArrayList[org.apache.spark.broadcast.Broadcast[_]]()
  }
  private val activeScopes = new ThreadLocal[java.util.ArrayDeque[Scope]] {
    override def initialValue(): java.util.ArrayDeque[Scope] =
      new java.util.ArrayDeque[Scope]()
  }

  /** Persist `ds` and register it for a later [[releaseAll]]. */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    frames.add(ds)
    val s = activeScopes.get().peek()
    if (s != null) s.frames.add(ds)
    ds
  }

  /** Register a driver-created broadcast (e.g. a Bloom filter sketch)
    * for a later [[releaseAll]] — the broadcast twin of
    * [[persistTracked]]: a bare `sc.broadcast` inside a library
    * operator has no release handle either. */
  def broadcastTracked[T](b: org.apache.spark.broadcast.Broadcast[T])
      : org.apache.spark.broadcast.Broadcast[T] = {
    broadcasts.add(b)
    val s = activeScopes.get().peek()
    if (s != null) s.bcs.add(b)
    b
  }

  /** Unpersist every frame persisted through [[persistTracked]] and
    * destroy every broadcast registered through [[broadcastTracked]].
    * Call only once results are fully materialized — a destroyed
    * broadcast cannot serve a late task. */
  def releaseAll(): Unit = {
    var d = frames.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = frames.poll()
    }
    var b = broadcasts.poll()
    while (b != null) {
      b.destroy()
      b = broadcasts.poll()
    }
  }

  /** Unpersist ONE tracked frame and deregister it — for operators
    * that supersede an intermediate mid-computation (e.g. seed
    * expansion's per-round selections) without waiting for
    * [[releaseAll]]; keeps the tracking queue exact instead of
    * accreting dead references in a long-lived session. No-op for
    * frames never registered. */
  def release(ds: Dataset[_]): Unit = {
    ds.unpersist(blocking = false)
    frames.remove(ds)
    val s = activeScopes.get().peek()
    if (s != null) s.frames.remove(ds)
  }

  /** Number of currently-tracked cached frames (for tests/diagnostics). */
  def trackedCount: Int = frames.size()

  /**
   * Run `body` and release ONLY the frames/broadcasts it registered —
   * entries tracked before the call, and entries registered concurrently
   * by OTHER threads (e.g. a second streaming query in the same
   * session), survive untouched. Ownership is a thread-local
   * registration list opened for the duration of the body, so one
   * trigger's scope exit can never destroy another caller's in-flight
   * broadcast mid-plan (caches merely recompute; destroyed broadcasts
   * hard-fail late tasks). Registrations the body makes from threads it
   * spawns itself are not scope-owned and fall through to [[releaseAll]].
   * Nested scopes register into the innermost scope only.
   */
  def scoped[T](body: => T): T = {
    val scope = new Scope
    val stack = activeScopes.get()
    stack.push(scope)
    try body
    finally {
      stack.pop()
      scope.frames.forEach { d =>
        d.unpersist(blocking = false)
        frames.remove(d)
      }
      scope.bcs.forEach { b =>
        b.destroy()
        broadcasts.remove(b)
      }
    }
  }
}
