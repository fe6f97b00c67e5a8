package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import scala.util.control.NonFatal

/** The one owner of every intermediate a query builder keeps: each
  * `persist` and each eager materialization goes through a scope, and
  * the scope releases all of them at one point.
  *
  * {{{
  *   def q(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
  *     val sh = scope.persist(shingles(docs))   // two consumers below
  *     sh.join(sh.groupBy(...), ...)       // the lazy result
  *   }
  * }}}
  *
  * [[QueryScope.apply]] returns a lazy result; everything the scope
  * recorded is released once the first action OVER THAT RESULT
  * completes, whether it succeeds or fails — by construction the moment
  * the intermediates have served their purpose. A second action still
  * works: it recomputes instead of reading the released blocks.
  * [[QueryScope.eager]] is for builder-time work with no lazy result
  * (an artifact build, a driver loop ending in `collect`): it releases
  * when its block returns or throws. A build that throws releases at
  * once either way. */
final class QueryScope private (spark: SparkSession) {

  /** Recorded relations and how to release each, in recording order. */
  private val held = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]
  private val done = new AtomicBoolean(false)

  /** Persists `df` at `MEMORY_AND_DISK` — the storage level every
    * builder intermediate uses — and records it for release. Equal
    * plans share one cache entry. An entry that scopes made counts its
    * holding scopes and is unpersisted when the last of them releases
    * it, so a scope released early (past [[QueryScope.MaxPending]])
    * leaves the entry to the others. An entry cached outside any scope
    * (a caller's persist) stays with whoever cached it. */
  def persist(df: DataFrame): DataFrame =
    QueryScope.acquire(df).fold(df)(entry => hold(df, QueryScope.letGo(entry, df)))

  /** Computes `df` now and records the rows for release: the relation
    * returned reads them without re-running `df`'s plan. Unlike a local
    * checkpoint the rows keep their lineage, so an action after the
    * release recomputes them instead of failing on a missing block.
    * With `eager = false` the first action over the returned relation
    * computes and keeps the rows instead — for a loop whose next step
    * is an action over them anyway, which saves one job per step. That
    * action does not run `df`'s plan, so it releases no scope nested in
    * `df`: materialize eagerly where `df` holds one. */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame = {
    val (rel, rows) = GraftBridge.materialize(df, StorageLevel.MEMORY_AND_DISK, eager)
    hold(rel, rows.unpersist(false))
  }

  /** Releases one recorded relation before the scope ends — for a
    * builder loop that has fully used it (the previous round once the
    * next is materialized), so peak storage holds one round, not all.
    * A relation this scope did not record (one [[persist]] found cached
    * outside any scope) is not its to release and is left alone. */
  def unpersist(df: DataFrame): Unit = {
    val release = synchronized {
      val i = held.indexWhere(_._1 eq df)
      if (i >= 0) Some(held.remove(i)._2) else None
    }
    release.foreach(_())
  }

  private def hold(df: DataFrame, release: => Unit): DataFrame = {
    synchronized(held += (df -> (() => release)))
    df
  }

  /** Releases everything recorded, once. A scope can outlive its
    * session (a force-release runs on an unrelated caller's thread,
    * possibly after that session stopped): releasing against a stopped
    * context throws, and a stopped session's storage is gone anyway. */
  private def release(): Unit = if (done.compareAndSet(false, true)) {
    if (!spark.sparkContext.isStopped)
      synchronized { held.foreach(_._2()); held.clear() }
  }
}

object QueryScope {

  private val scopeIds = new AtomicLong(0L)

  /** Queries built but never executed would otherwise pin their storage
    * and listener forever — a bounded registry force-releases the
    * OLDEST pending scope once more than this many are outstanding
    * (the same recompute-not-correctness trade as an early release). */
  private[graft] val MaxPending = 64
  private val pending = new ConcurrentLinkedQueue[(Long, () => Unit)]()

  /** Holding scopes per cache entry that a scope made, keyed by the
    * entry's cached relation (see `GraftBridge.cacheEntry`). */
  private val holders = new java.util.IdentityHashMap[AnyRef, Integer]()

  /** Adds a holder to the entry of `df`'s plan, caching the plan if no
    * entry serves it; None if the entry was cached outside any scope. */
  private def acquire(df: DataFrame): Option[AnyRef] = holders.synchronized {
    GraftBridge.cacheEntry(df) match {
      case Some(entry) if holders.containsKey(entry) =>
        holders.put(entry, holders.get(entry) + 1); Some(entry)
      case Some(_) => None
      case None =>
        val entry = GraftBridge.cacheEntry(df.persist(StorageLevel.MEMORY_AND_DISK)).get
        holders.put(entry, 1); Some(entry)
    }
  }

  /** Drops one holder of `entry`; the last one unpersists it through
    * `df`, whose plan the entry serves, unless the entry was replaced. */
  private def letGo(entry: AnyRef, df: DataFrame): Unit = holders.synchronized {
    val left = holders.get(entry) - 1
    if (left > 0) holders.put(entry, left)
    else {
      holders.remove(entry)
      if (GraftBridge.cacheEntry(df).exists(_ eq entry)) df.unpersist(false)
    }
  }

  /** Ids of scopes whose result has not run an action yet. */
  private[graft] def pendingIds: Seq[Long] = {
    import scala.jdk.CollectionConverters._
    pending.asScala.map(_._1).toSeq
  }

  /** The id the next scope will get. */
  private[graft] def nextId: Long = scopeIds.get() + 1

  /** Runs `build` in a new scope and returns its lazy result, which
    * releases the scope on its first action (see [[QueryScope]]). The
    * result is tagged with a unique SubqueryAlias and the listener fires
    * only for a QueryExecution whose analyzed plan contains that alias
    * (writes and counts wrap the plan, so this is a subtree check, not
    * plan equality) — an UNRELATED action in the session neither
    * releases early nor fires the listener. A nested scope's alias lies
    * inside the caller's plan, so the caller's first action releases
    * both. Listener lifetime is bounded two ways: firing unregisters it,
    * and scopes whose result never runs (plan-only inspection) are
    * force-released once [[MaxPending]] newer scopes exist. Listener
    * delivery is async (Spark's listener bus), so release is
    * near-immediate, not synchronous. */
  def apply(spark: SparkSession)(build: QueryScope => DataFrame): DataFrame = {
    val scope = new QueryScope(spark)
    val result =
      try build(scope)
      catch { case e: Throwable => scope.release(); throw e }
    releaseOnFirstAction(spark, scope, result)
  }

  /** Runs `body` in a new scope and releases the scope when `body`
    * returns or throws. */
  def eager[A](spark: SparkSession)(body: QueryScope => A): A = {
    val scope = new QueryScope(spark)
    try body(scope) finally scope.release()
  }

  private def releaseOnFirstAction(spark: SparkSession, scope: QueryScope,
      result: DataFrame): DataFrame = {
    val id = scopeIds.incrementAndGet()
    val tag = s"graft_query_scope_$id"
    var release: (Long, () => Unit) = null
    lazy val listener: QueryExecutionListener = new QueryExecutionListener {
      private def fire(qe: QueryExecution): Unit = {
        val relevant = qe.analyzed.exists {
          case s: SubqueryAlias => s.identifier.name == tag
          case _ => false
        }
        if (relevant) release._2()
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = fire(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = fire(qe)
    }
    release = id -> (() => {
      scope.release()
      if (!spark.sparkContext.isStopped) spark.listenerManager.unregister(listener)
      pending.remove(release)
    })
    spark.listenerManager.register(listener)
    pending.add(release)
    while (pending.size() > MaxPending) {
      val oldest = pending.poll()
      // best-effort by design: an older scope's failing release must
      // never propagate to this unrelated caller
      if (oldest != null)
        try oldest._2() catch { case NonFatal(_) => () }
    }
    result.as(tag)
  }
}
