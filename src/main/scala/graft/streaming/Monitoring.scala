package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** M2/M3 — per-query stats counters and health, the Spark-native form
  * of the reference's atomic counters + /health + /status endpoints
  * (source/postgres/postgres.go:431-447, http.go:17-95).
  *
  * A `StreamingQueryListener` receives every micro-batch's progress
  * (rows in, batch duration) and termination events off the hot path —
  * zero cost to the queries themselves, unlike the reference's
  * per-event atomic increments. Health mirrors the reference's
  * `Status() error` contract: a query is unhealthy once terminated
  * with an exception (and the Kafka-source rule "N consecutive fetch
  * errors → unhealthy" maps to consecutive failed batches).
  *
  * `lastProgress` reads a running query's latest progress by id; the
  * listener needs it for idle triggers (see `onQueryIdle`).
  */
final class Monitoring(lastProgress: java.util.UUID => Option[StreamingQueryProgress] = _ => None)
    extends StreamingQueryListener {

  final case class QueryStats(rows: LongAdder = new LongAdder,
      batches: LongAdder = new LongAdder,
      var lastException: Option[String] = None,
      var active: Boolean = true) {
    /** Reference Stats() string shape: name-less counter summary. */
    def stats: String = s"batches ${batches.sum()} rows ${rows.sum()}"
  }

  private val byQuery = new ConcurrentHashMap[String, QueryStats]()
  // started/progress events carry the query name; terminated events
  // only carry ids — remember id→name at start so termination updates
  // the SAME entry instead of minting a duplicate id-keyed one
  private val idToName = new ConcurrentHashMap[String, String]()

  private def statsFor(name: String): QueryStats =
    byQuery.computeIfAbsent(name, _ => QueryStats())

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val name = e.name match { case null => e.id.toString; case n => n }
    idToName.put(e.id.toString, name)
    statsFor(name).active = true
  }

  // latest Dataset.observe metrics per query: query → observation name
  // → (metric → value). The in-plan counterpart of the reference's
  // per-event atomic counters.
  private val observedByQuery =
    new ConcurrentHashMap[String, Map[String, Map[String, String]]]()
  // latest numeric source metrics per query (`ReportsSourceMetrics`,
  // e.g. the CDC source's backlog): query → metric → value; a query's
  // sources share one map
  private val sourceByQuery = new ConcurrentHashMap[String, Map[String, Double]]()
  // latest progress per query, kept whole so a trigger costs one map
  // update; its phases and rates are read out on demand
  private val lastTriggerByQuery = new ConcurrentHashMap[String, StreamingQueryProgress]()

  private def nameOf(p: StreamingQueryProgress): String =
    Option(p.name).getOrElse(p.id.toString)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val name = nameOf(e.progress)
    idToName.put(e.progress.id.toString, name)
    val s = statsFor(name)
    s.rows.add(e.progress.numInputRows)
    s.batches.increment()
    lastTriggerByQuery.put(name, e.progress)
    val om = e.progress.observedMetrics
    if (om != null && !om.isEmpty) {
      val snap = Map.newBuilder[String, Map[String, String]]
      om.forEach { (obsName, row) =>
        val fields = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
          f -> String.valueOf(row.get(i))
        }.toMap
        snap += obsName -> fields
      }
      observedByQuery.put(name, snap.result())
    }
    recordSources(name, e.progress)
  }

  /** An idle trigger's progress carries fresh source metrics, such as a
    * gap that holds the CDC source, but Spark hands listeners only a
    * `QueryIdleEvent` without it: read it from the query. */
  override def onQueryIdle(e: QueryIdleEvent): Unit =
    lastProgress(e.id).foreach(p => recordSources(nameOf(p), p))

  private def recordSources(name: String, p: StreamingQueryProgress): Unit = {
    val sm = for {
      src <- p.sources.toSeq if src.metrics != null
      (k, v) <- src.metrics.asScala
      d <- v.toDoubleOption
    } yield k -> d
    if (sm.nonEmpty) sourceByQuery.put(name, sm.toMap)
  }

  /** Latest observed-metrics snapshot for a query (empty if none). */
  def observedMetrics(name: String): Map[String, Map[String, String]] =
    observedByQuery.getOrDefault(name, Map.empty)

  /** Latest numeric source-metrics snapshot for a query (empty if none). */
  def sourceMetrics(name: String): Map[String, Double] =
    sourceByQuery.getOrDefault(name, Map.empty)

  /** The latest trigger's `durationMs` phases for a query (empty if
    * none): latestOffset, queryPlanning, addBatch, walCommit, ... */
  def triggerPhases(name: String): Map[String, Long] =
    Option(lastTriggerByQuery.get(name)).fold(Map.empty[String, Long])(
      _.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  /** The latest trigger's (input, processed) rows per second for a
    * query; NaN where Spark had no interval to divide by. */
  def rowsPerSecond(name: String): Option[(Double, Double)] =
    Option(lastTriggerByQuery.get(name)).map(p => (p.inputRowsPerSecond, p.processedRowsPerSecond))

  /** The latest trigger's stateful operators for a query (empty if
    * none): (operator, state rows, state memory bytes), in plan order.
    * An operator name that repeats in one query is numbered from its
    * second occurrence on (`dedupe`, `dedupe_1`). */
  def stateOperators(name: String): Seq[(String, Long, Long)] =
    Option(lastTriggerByQuery.get(name)).fold(Seq.empty[(String, Long, Long)]) { p =>
      val ops = p.stateOperators.toSeq
      ops.zipWithIndex.map { case (op, i) =>
        val seen = ops.take(i).count(_.operatorName == op.operatorName)
        (if (seen == 0) op.operatorName else s"${op.operatorName}_$seen", op.numRowsTotal,
          op.memoryUsedBytes)
      }
    }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val key = idToName.getOrDefault(e.id.toString, e.id.toString)
    val s = statsFor(key)
    s.active = false
    s.lastException = e.exception
  }

  /** /stats — counter snapshot per query. */
  def stats: Map[String, String] = {
    val b = Map.newBuilder[String, String]
    byQuery.forEach((k, v) => b += k -> v.stats)
    b.result()
  }

  def rowsProcessed(name: String): Long = statsFor(name).rows.sum()
  def batchesProcessed(name: String): Long = statsFor(name).batches.sum()

  /** Per-query health: None = ok, Some(err) = died exceptionally. */
  def statuses: Map[String, Option[String]] = {
    val b = Map.newBuilder[String, Option[String]]
    byQuery.forEach((k, v) => b += k -> v.lastException)
    b.result()
  }

  /** /status — Some(error) if any query died exceptionally (the
    * reference returns 500 when any component is unhealthy). */
  def status: Option[String] = {
    var err: Option[String] = None
    byQuery.forEach((k, v) => if (v.lastException.isDefined && err.isEmpty)
      err = Some(s"$k: ${v.lastException.get}"))
    err
  }

  def healthy: Boolean = status.isEmpty
}

object Monitoring {
  /** Attach a fresh Monitoring listener to the session. */
  def attach(spark: SparkSession): Monitoring = {
    val m = new Monitoring(id => Option(spark.streams.get(id)).flatMap(q => Option(q.lastProgress)))
    spark.streams.addListener(m)
    m
  }

  /** The reference's stats ticker (stats.go:10-36): periodically emit
    * every query's counter line. `emit` defaults to stdout like the
    * reference's log.Print; tests inject a collector. Returns a handle
    * whose `close()` stops the ticker (≡ chShutdown). A single daemon
    * thread off the query hot path — zero cost at any scale. */
  def startTicker(m: Monitoring, intervalMs: Long,
      emit: String => Unit = s => println(s"(Ticker) $s")): AutoCloseable = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-ticker"); t.setDaemon(true); t })
    exec.scheduleAtFixedRate(
      () => m.stats.toSeq.sortBy(_._1).foreach { case (q, s) => emit(s"[$q] $s") },
      intervalMs, intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    // close() is SYNCHRONOUS: await the in-flight tick so no emission
    // can land after close() returns — callers (and the spec) rely on
    // "closed ticker emits nothing further" as a contract, and a
    // fire-and-forget shutdown races the last tick against the check
    () => {
      exec.shutdownNow()
      exec.awaitTermination(2, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
  }
}
