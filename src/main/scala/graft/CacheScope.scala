package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.util.QueryExecutionListener

/** The one module that persists or releases cached data. There is one
  * caching rule — a node read by more than one consumer is persisted
  * MEMORY_AND_DISK — and two lifetimes for it:
  *
  *  - EAGER code (a training loop, a multi-action fan-out, a foreachBatch
  *    body, a DSL pipeline) wraps its work in [[run]] and persists with
  *    [[persist]]; every persist registered in the scope is released with a
  *    blocking unpersist when the block exits, normally or by an exception.
  *  - A query function that RETURNS a lazy frame persists its shared
  *    intermediates with [[scopedPersist]] and wires them to
  *    [[releaseAfterUse]]: the returned plan stays fully lazy — composable,
  *    auditable via explain — and the first completed action that consumes
  *    it (or any plan containing it) unpersists them. During that one action
  *    the first materialization fills the cache and every other branch of
  *    the same plan reads it.
  *
  * Either way a long-lived session that runs many queries accumulates no
  * cached blocks.
  */
object CacheScope {

  /** The persists of one [[run]] block. A scope CLOSES when its block
    * exits; a persist aimed at a closed scope (a Pipe built inside the
    * block whose second consumer arrives after it returned) is not
    * tracked, like Spark's own `persist`. */
  private[graft] final class Scope {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    private var closed = false
    private[CacheScope] def add(ds: Dataset[_]): Unit = synchronized {
      if (!closed) buf += ds
    }
    private[CacheScope] def close(): List[Dataset[_]] = synchronized {
      closed = true
      val registered = buf.toList
      buf.clear()
      registered
    }
  }

  // thread-local: eager work and DSL graph construction are driver-side and
  // single-threaded per query
  private val open = new ThreadLocal[Scope]()

  /** The scope open on this thread, or null. */
  private[graft] def current: Scope = open.get()

  /** Run `body` in a new scope and release every persist registered in it
    * when the block exits, normally or not. Scopes nest: an inner block's
    * persists are released at the inner exit. */
  def run[A](body: => A): A = {
    val outer = open.get()
    val scope = new Scope
    open.set(scope)
    try body
    finally {
      open.set(outer)
      scope.close().foreach(_.unpersist(blocking = true))
    }
  }

  /** Persist `ds` MEMORY_AND_DISK into the open [[run]] scope. */
  def persist[T](ds: Dataset[T]): Dataset[T] = persistInto(current, ds)

  /** Persist `ds` into `scope` (the scope a Pipe node was built in); with
    * no scope, or a closed one, the persist is not tracked and the caller
    * releases it. */
  private[graft] def persistInto[T](scope: Scope, ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    if (scope != null) scope.add(ds)
    ds
  }

  private val nonceCtr = new java.util.concurrent.atomic.AtomicLong()

  /** Persist `df` under a logical plan made UNIQUE by a nonce projection
    * that the optimizer prunes away.
    *
    * `Dataset.unpersist` drops cache entries by canonical-plan equality, so
    * the ASYNC release in [[releaseAfterUse]] (listener-bus callback +
    * non-blocking unpersist) can collide with a later run of the SAME
    * query: run N's late release matches — and drops — run N+1's freshly
    * persisted entry for the identical plan, silently forcing full
    * recomputation on every read of the supposedly-cached subtree (a 4×
    * slowdown when four branches read it). Tagging each persist with a
    * unique literal — projected in and straight back out — keeps every
    * scope's canonical plan distinct: analysis retains the literal (so the
    * cache key differs), the optimizer prunes it (zero runtime cost), and
    * within one scope every consumer derives from the returned Dataset so
    * cache lookups still hit. CacheScopeSpec pins both properties.
    */
  def scopedPersist(df: DataFrame): DataFrame = {
    val nonce = "__cache_scope_nonce"
    val tagged = df
      .withColumn(nonce, org.apache.spark.sql.functions.lit(nonceCtr.incrementAndGet()))
      .drop(nonce)
    tagged.persist(StorageLevel.MEMORY_AND_DISK)
    tagged
  }

  /** Release `scoped` datasets (already persisted by the caller) once,
    * after the first completed action that consumes `out` (or any plan
    * containing it). Release also fires on action failure, so an aborted
    * query doesn't leak its cache.
    */
  def releaseAfterUse(out: DataFrame, scoped: Dataset[_]*): DataFrame = {
    val datasets = scoped.toIndexedSeq
    val session = out.sparkSession
    val target = out.queryExecution.analyzed
    val done = new AtomicBoolean(false)
    lazy val listener: QueryExecutionListener = new QueryExecutionListener {
      private def maybeRelease(qe: QueryExecution): Unit = {
        val hit =
          try qe.analyzed.exists(_.sameResult(target))
          catch { case _: Throwable => true } // fail open: better to release
        if (hit && done.compareAndSet(false, true)) {
          datasets.foreach(_.unpersist(blocking = false))
          session.listenerManager.unregister(listener)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    session.listenerManager.register(listener)
    out
  }
}
