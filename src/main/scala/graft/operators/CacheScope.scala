package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scoped caching for multi-consumer intermediates.
  *
  * LSH-style pipelines persist a sketch DataFrame because it feeds several
  * joins of one logical result; without a hook on "the result was computed",
  * a plain `.persist` leaks its blocks for the life of the session — across
  * a 38-query battery the leaked caches compound. This ties the cache's
  * lifetime to the first completed ACTION whose plan contains the cached
  * subtree: the blocks exist exactly while they are being reused, then go.
  *
  * Unpersist-before-action is harmless by construction (Spark would just
  * recompute), so a listener miss degrades to performance, never
  * correctness.
  */
object CacheScope {

  /** A registered scope: the session listener that releases `cached`
    * after the first completed action whose plan contains it. A release
    * also removes the scope from `pending`, so a released scope keeps
    * neither the cached DataFrame, its plan nor the listener reachable. */
  private final class Scope(cached: DataFrame) extends QueryExecutionListener {
    val createdAtMs: Long = System.currentTimeMillis()
    private val target = cached.queryExecution.analyzed
    private val done = new AtomicBoolean(false)

    def released: Boolean = done.get()

    def release(): Unit =
      if (done.compareAndSet(false, true)) {
        cached.unpersist(blocking = false)
        cached.sparkSession.listenerManager.unregister(this)
        pending.remove(this)
      }

    private def maybeRelease(qe: QueryExecution): Unit = {
      val hit =
        try qe.analyzed.exists(_.sameResult(target))
        catch { case _: Throwable => true } // when in doubt, release
      if (hit) release()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      maybeRelease(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      maybeRelease(qe)
  }
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Scope]()

  /** Fallback TTL: a scope whose result was never executed would otherwise
    * hold its blocks (and its listener registration) for the session's
    * life. Stale scopes are swept on the next unpersistAfterUse call —
    * amortized cleanup, no background thread. */
  private val staleTtlMs: Long = 600000L

  private def sweepStale(): Unit = {
    val now = System.currentTimeMillis()
    pending.forEach(s => if (now - s.createdAtMs > staleTtlMs) s.release())
  }

  /** Returns `result` unchanged; registers a one-shot session listener that
    * unpersists `cached` (and deregisters itself) after the first
    * success/failure of a query whose analyzed plan contains the cached
    * subtree.
    *
    * Caller contract: execute the returned result exactly once, promptly.
    * The FIRST completed action anywhere in the session whose plan contains
    * the cached subtree (sameResult match) releases the cache — a
    * concurrent identical query releases it early, which degrades to
    * recompute, never to wrong results. If the result is never executed,
    * the TTL sweep above reclaims the blocks on a later scope creation. */
  def unpersistAfterUse(result: DataFrame, cached: DataFrame): DataFrame = {
    sweepStale()
    val scope = new Scope(cached)
    pending.add(scope)
    cached.sparkSession.listenerManager.register(scope)
    result
  }

  /** Registered scopes already released: 0 once every release has run. */
  private[graft] def releasedPending: Int = {
    var n = 0
    pending.forEach(s => if (s.released) n += 1)
    n
  }
}
