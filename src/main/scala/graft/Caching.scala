package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Owned lifecycle for the persists graft operators create internally.
  *
  * Several operators ([[operators.Dedup.ngramJaccard]],
  * [[operators.Dedup.semanticDedup]], q36, t12, and the d04/d07
  * shingle-hash frame) materialize a small intermediate frame that
  * their returned plan references more than once (AQE's broadcast
  * conversion can break ReuseExchange subtree identity, re-running the
  * whole signature pipeline per reference). (lshTopK and
  * embeddingNearDupsLsh persist nothing: [[operators.Buckets]]
  * references their fan-out exactly once.)
  * Because the operator returns a LAZY frame, it cannot unpersist
  * before the caller's action — so every internal persist is
  * registered here, and callers release them all with ONE call:
  *
  * {{{
  *   val out = Dedup.ngramJaccard(pairs, docs, "text", "doc_id")
  *   out.write.parquet(...)      // the action that uses the caches
  *   Caching.unpersistAll()      // release graft's internal caches
  * }}}
  *
  * Unlike `spark.catalog.clearCache()` (what the Verify/Bench
  * harnesses use between queries), this releases ONLY graft-created
  * caches and leaves the caller's own persisted frames alone.
  *
  * Concurrency: by default registrations land in one process-global
  * scope — `unpersistAll()` at a quiescent point releases everything,
  * the single-session harness pattern. A host running CONCURRENT
  * queries isolates them with [[scoped]]: persists made while
  * constructing a query's plan land in that query's own [[Scope]],
  * released via `scope.release()` without touching any other
  * in-flight query's caches. Scoping keys off the CONSTRUCTING
  * thread (operators persist at plan-construction time), the natural
  * unit for a query-per-thread server.
  */
object Caching {

  /** An isolated registry of operator-internal persists — release
    * with [[Scope.release]] when the queries built inside it are done.
    */
  final class Scope private[Caching] () {
    private val tracked = mutable.Set.empty[DataFrame]

    /** Registration and the persist itself under ONE lock (the same
      * lock [[release]] takes): a release interleaving between the two
      * could otherwise leave a cached-but-untracked frame behind.
      */
    private[Caching] def persistInto(df: DataFrame, level: StorageLevel): DataFrame =
      synchronized {
        tracked += df
        df.persist(level)
      }

    /** Unpersist every frame tracked by THIS scope; returns how many
      * were released. Frames already unpersisted (e.g. by
      * `clearCache`) unpersist as a no-op.
      */
    def release(blocking: Boolean = false): Int = synchronized {
      val n = tracked.size
      tracked.foreach(_.unpersist(blocking))
      tracked.clear()
      n
    }
  }

  private val globalScope = new Scope
  private val current = new ThreadLocal[Scope]

  /** Run `body` (plan construction) with a fresh scope: every
    * [[persistTracked]] it triggers registers there instead of the
    * global scope. Returns the result and the scope — call
    * `scope.release()` after the plans' consuming actions. Nests:
    * the previous scope (global or outer) is restored on exit.
    */
  def scoped[T](body: => T): (T, Scope) = {
    val s = new Scope
    val prev = current.get()
    current.set(s)
    try (body, s)
    catch {
      // a throwing body would strand the scope (and any frames already
      // persisted into it) unreachable — release before rethrowing
      case t: Throwable => s.release(); throw t
    }
    finally { if (prev == null) current.remove() else current.set(prev) }
  }

  /** Persist `df` (MEMORY_AND_DISK) and register it with the current
    * scope (the constructing thread's [[scoped]] scope, else the
    * global one). All internal operator persists go through here.
    */
  def persistTracked(df: DataFrame,
                     level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    Option(current.get()).getOrElse(globalScope).persistInto(df, level)

  /** Release the GLOBAL scope (frames registered outside any
    * [[scoped]] block) — the between-queries call for single-session
    * harnesses. Scoped frames are their owners' to release.
    */
  def unpersistAll(blocking: Boolean = false): Int = globalScope.release(blocking)
}
