package graft

import graft.operators.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

class QueryScopeSpec extends SparkSpec with Eventually {
  import spark.implicits._

  private val runs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A small relation no other test has cached: the cache manager
    * shares one entry between equal plans, so a shared plan would let
    * one test's release show up in another's. */
  private def fresh(): DataFrame =
    spark.range(100).toDF("id").withColumn("run", lit(runs.incrementAndGet()))

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("failed connectedComponents leaves nothing persisted") {
    val path = (1L to 7L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val before = persistentRdds
    val e = intercept[IllegalArgumentException] {
      DedupOps.connectedComponents(path, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    assert(persistentRdds -- before === Set.empty[Int])
  }

  test("component labels survive a second action after their scope released") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 5L)).toDF("a_id", "b_id")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L)
    def labels(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = persistentRdds
    val result = DedupOps.connectedComponents(pairs)
    assert(labels(result) === want)
    eventually(timeout(Span(30, Seconds)))(assert(persistentRdds -- before === Set.empty[Int]))
    // the rounds' rows are gone; their lineage recomputes them
    assert(labels(result) === want)
  }

  test("a lazy materialization is computed and kept by its first action") {
    val before = persistentRdds
    var rel: DataFrame = null
    val result = QueryScope(spark) { s =>
      rel = s.materialize(fresh().filter(col("id") < 10), eager = false)
      rel.select((col("id") * 2).as("x"))
    }
    def cachedPartitions = spark.sparkContext.getRDDStorageInfo
      .filterNot(i => before(i.id)).map(_.numCachedPartitions).sum
    assert((persistentRdds -- before).size === 1)
    assert(cachedPartitions === 0)
    // an action over the relation itself computes and keeps its rows
    // but is no action over the result, so the scope stays pending
    assert(rel.count() === 10)
    assert(cachedPartitions === rel.rdd.getNumPartitions)
    assert(result.collect().map(_.getLong(0)).sorted.toSeq === (0L until 20L by 2L))
    eventually(timeout(Span(30, Seconds)))(assert(persistentRdds -- before === Set.empty[Int]))
    assert(result.count() === 10)
  }

  test("only an action over the result releases a scope") {
    var kept: DataFrame = null
    val scopeId = QueryScope.nextId
    val result = QueryScope(spark) { s =>
      kept = s.persist(fresh())
      kept.filter(col("id") % 2 === 0)
    }
    // listeners run in registration order on one bus thread: once this
    // probe has seen the unrelated action, the scope's listener has too
    val seen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probe = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.set(true)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(probe)
    try {
      spark.range(3).toDF("x").collect()
      eventually(timeout(Span(30, Seconds)))(assert(seen.get))
      assert(kept.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(QueryScope.pendingIds.contains(scopeId))
    } finally spark.listenerManager.unregister(probe)
    assert(result.count() === 50)
    eventually(timeout(Span(30, Seconds))) {
      assert(kept.storageLevel === StorageLevel.NONE)
      assert(!QueryScope.pendingIds.contains(scopeId))
    }
    // released, not broken: a second action recomputes
    assert(result.count() === 50)
  }

  test("a scope leaves alone a cache entry it did not make") {
    val mine = fresh().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val scopeId = QueryScope.nextId
      val result = QueryScope(spark) { s =>
        val kept = s.persist(mine)   // as a caller hands its cached relation to a helper
        s.unpersist(kept)
        kept.filter(col("id") < 5)
      }
      assert(result.count() === 5)
      eventually(timeout(Span(30, Seconds)))(assert(!QueryScope.pendingIds.contains(scopeId)))
      assert(mine.storageLevel === StorageLevel.MEMORY_AND_DISK)
    } finally mine.unpersist()
  }

  test("eager releases when its block returns and when it throws") {
    val before = persistentRdds
    var kept: DataFrame = null
    val n = QueryScope.eager(spark) { s =>
      kept = s.persist(fresh())
      s.materialize(kept.filter(col("id") < 10)).count()
    }
    assert(n === 10)
    assert(kept.storageLevel === StorageLevel.NONE)
    assert(persistentRdds -- before === Set.empty[Int])
    intercept[IllegalStateException] {
      QueryScope.eager(spark) { s =>
        kept = s.persist(fresh())
        s.materialize(kept).count()
        throw new IllegalStateException("build failed")
      }
    }
    assert(kept.storageLevel === StorageLevel.NONE)
    assert(persistentRdds -- before === Set.empty[Int])
  }

  test("forcing out one of two scopes over an equal plan leaves the entry to the other") {
    val run = runs.incrementAndGet()
    // each scope builds its own Dataset over one equal plan
    def scopeOver() = {
      var kept: DataFrame = null
      val result = QueryScope(spark) { s =>
        kept = s.persist(spark.range(100).toDF("id").withColumn("run", lit(run)))
        kept.select("id")
      }
      (kept, result)
    }
    val olderId = QueryScope.nextId
    val (older, _) = scopeOver()
    val (newer, newerResult) = scopeOver()
    assert(!(older eq newer))
    assert(newer.storageLevel === StorageLevel.MEMORY_AND_DISK)
    // unexecuted scopes push the older one past the pending cap
    val fillers = (1 until QueryScope.MaxPending).map(_ => QueryScope(spark)(_ => spark.range(1).toDF()))
    assert(!QueryScope.pendingIds.contains(olderId))
    assert(older.storageLevel === StorageLevel.MEMORY_AND_DISK, "the entry went with the older scope")
    assert(newer.storageLevel === StorageLevel.MEMORY_AND_DISK)
    // the newer scope's action releases the entry's last holder
    assert(newerResult.count() === 100)
    eventually(timeout(Span(30, Seconds)))(assert(newer.storageLevel === StorageLevel.NONE))
    fillers.foreach(_.count())
  }

  test("unexecuted scopes are force-released past the pending cap") {
    val built = (0 to QueryScope.MaxPending).map { _ =>
      var kept: DataFrame = null
      val result = QueryScope(spark) { s =>
        kept = s.persist(fresh())
        kept.select("id")
      }
      (kept, result)
    }
    assert(QueryScope.pendingIds.size <= QueryScope.MaxPending)
    assert(built.head._1.storageLevel === StorageLevel.NONE)
    assert(built.last._1.storageLevel === StorageLevel.MEMORY_AND_DISK)
    // leave no pending scope behind for later suites
    built.tail.foreach(_._2.count())
    eventually(timeout(Span(30, Seconds))) {
      assert(built.forall(_._1.storageLevel == StorageLevel.NONE))
    }
  }
}
