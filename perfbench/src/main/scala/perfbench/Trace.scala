package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Spans of one trigger or one
  * query share `root`; `parent` is the span that caused this one. */
final case class Span(id: Long, parent: Long, root: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span buffer, written out once when the run ends. A
  * disabled tracer records nothing, so untraced runs pay one branch. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Times `body` as a span named `name` under `parent`. */
  def span[T](name: String, parent: Long = 0L, root: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = nextId()
      val t0 = Clock.epochNs()
      try body(id)
      finally add(Span(id, parent, if (root == 0L) id else root, name, t0, Clock.epochNs()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Rewrites every recorded span, e.g. to attach it to a parent that
    * is only known once the run is over. */
  def rewrite(f: Span => Span): Unit = {
    val now = all
    spans.clear()
    now.foreach(s => spans.add(f(s)))
  }

  def byName(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = all.sortBy(_.startNs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"root":${s.root},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark's public listener buses, read only in traced runs: scheduler
  * work (jobs, stages, tasks, executor CPU, shuffle, spill) from a
  * `SparkListener`, and actions from a `QueryExecutionListener`, after
  * each of which the block-manager storage in use is sampled and an
  * `action:<name>` span recorded. */
final class SparkCounters(spark: SparkSession, tracer: Tracer) extends SparkListener {
  val jobs, jobsEnded, stages, tasks, actions = new LongAdder
  val executorCpuNs, shuffleReadBytes, shuffleWriteBytes, spillBytes = new LongAdder
  @volatile var peakStorageBytes = 0L

  private val sc: SparkContext = spark.sparkContext

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      executorCpuNs.add(m.executorCpuTime)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.diskBytesSpilled)
    }
  }

  def storageUsedBytes(): Long =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      actions.increment()
      peakStorageBytes = math.max(peakStorageBytes, storageUsedBytes())
      // delivered after the action ended; its start is what places it
      val end = Clock.epochNs()
      tracer.add(Span(tracer.nextId(), 0L, 0L, s"action:$funcName", end - durationNs, end))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actions.increment()
  }

  def attach(): this.type = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    this
  }

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  /** Blocks until the bus has delivered every event posted so far. The
    * bus is asynchronous but ordered, so once a marker job's end event
    * arrives every earlier event has too; the marker's own job, stage
    * and task are then taken back out of the counts. */
  def drain(): Unit = {
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 10e9.toLong
    while (jobsEnded.sum() < jobs.sum() && System.nanoTime() < deadline) Thread.sleep(5)
    Seq(jobs, jobsEnded, stages, tasks).foreach(_.add(-1))
  }
}
