package perfbench

import graft.SparkEntry
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `batch_mix`: registered batch queries at sf0.1, warm. Each query is
  * timed in three phases: build (the `SparkEntry.queries(name)` call,
  * where eager iterative loops run), plan (`executedPlan`) and execute
  * (a noop write of the result). */
object BatchMix {

  /** Sub-second queries, one or two from each operators module that has
    * them: bound by fixed planning and scheduling cost. */
  val Queries: Seq[String] = Seq(
    "q6_forecast_revenue", "cdc_envelope", "text_token_stats",
    "sim_bruteforce_topk", "mm_metadata", "sample_importance", "q_funnel")

  /** The operators object whose `queries` map registers `name`. */
  def module(name: String): String = Seq(
    "Relational" -> Relational.queries, "CdcOps" -> CdcOps.queries,
    "TextOps" -> TextOps.queries, "DedupOps" -> DedupOps.queries,
    "SimilarityOps" -> SimilarityOps.queries, "MultimodalOps" -> MultimodalOps.queries,
    "SamplingOps" -> SamplingOps.queries, "EventOps" -> EventOps.queries,
    "CorpusPipeline" -> CorpusPipeline.queries,
  ).collectFirst { case (m, qs) if qs.contains(name) => m }
    .getOrElse(sys.error(s"$name is not a registered query"))

  final case class Phases(buildNs: Long, planNs: Long, execNs: Long) {
    def totalNs: Long = buildNs + planNs + execNs
  }

  /** Runs `name` once through its three phases. */
  def timeOnce(spark: SparkSession, sfDir: String, name: String,
      tracer: Tracer): Phases = {
    val fn = SparkEntry.queries(name)
    tracer.span(s"query:$name") { root =>
      val t0 = System.nanoTime()
      val df = tracer.span("build", root, root)(_ => fn(spark, sfDir))
      val t1 = System.nanoTime()
      tracer.span("plan", root, root)(_ => df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      tracer.span("exec", root, root)(_ => df.write.format("noop").mode("overwrite").save())
      Phases(t1 - t0, t2 - t1, System.nanoTime() - t2)
    }
  }

  /** Row count and an order-insensitive hash of a result: the sum of
    * per-row xxhash64 values. Doubles are rounded to 6 places and maps
    * hashed as sorted entries, so the hash does not depend on
    * summation order across partitions or on map entry order. */
  def checksum(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case MapType(kt, vt, _) =>
        array_sort(transform(map_entries(c),
          e => struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
      case StructType(fs) => struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val row = df.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (row.getLong(0), row.getDecimal(1).toPlainString)
  }

  /** Checks each query's result against `expected` (rows, hash).
    * Returns the queries that failed to run and the wrong results. */
  def check(spark: SparkSession, sfDir: String, queries: Seq[String],
      expected: Map[String, (Long, String)]): (Set[String], Seq[String]) = {
    var failed = Set.empty[String]
    val wrong = Seq.newBuilder[String]
    queries.foreach { q =>
      try {
        val got = checksum(SparkEntry.queries(q)(spark, sfDir))
        expected.get(q) match {
          case Some(want) if want != got => wrong += s"$q: (rows, hash) $got, expected $want"
          case None => wrong += s"$q: no recorded result to check against"
          case _ =>
        }
      } catch { case scala.util.control.NonFatal(e) =>
        failed += q
        System.err.println(s"[batch_mix] $q failed: $e")
      }
    }
    (failed, wrong.result())
  }

  /** One untimed pass of the mix in its timed form. */
  def warm(spark: SparkSession, sfDir: String, queries: Seq[String]): Unit =
    queries.foreach(q => timeOnce(spark, sfDir, q, new Tracer(false)))

  /** After one untimed pass, the mix runs round robin until `seconds`
    * have passed and every query ran at least once; each query's price
    * is the median of its runs. Latency is the median over the mix of
    * those prices and throughput the mix size over their sum. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[String], seconds: Int,
      tracer: Tracer): Measurement = {
    warm(spark, sfDir, queries)
    val timed = queries
    val counters = if (tracer.enabled) Some(new SparkCounters(spark, tracer).attach()) else None
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val samples = scala.collection.mutable.LinkedHashMap(timed.map(_ -> Vector.empty[Phases]): _*)
    val t0 = System.nanoTime()
    var runs = 0
    var firstPass = Map.empty[String, Double]
    while (runs < timed.size || System.nanoTime() - t0 < seconds * 1000000000L) {
      val q = timed(runs % timed.size)
      samples(q) :+= timeOnce(spark, sfDir, q, tracer)
      runs += 1
      // scheduler counts are taken over exactly one pass, so they repeat
      if (runs == timed.size) counters.foreach { c =>
        c.drain()
        firstPass = Map(
          "batch.actions" -> c.actions.sum.toDouble,
          "batch.jobs" -> c.jobs.sum.toDouble,
          "batch.stages" -> c.stages.sum.toDouble,
          "batch.tasks" -> c.tasks.sum.toDouble,
          "batch.executor_cpu_s" -> c.executorCpuNs.sum / 1e9,
          "batch.shuffle_read_mb" -> c.shuffleReadBytes.sum / 1e6,
          "batch.shuffle_write_mb" -> c.shuffleWriteBytes.sum / 1e6,
          "batch.spill_mb" -> c.spillBytes.sum / 1e6,
          "batch.persisted_rdds_after_action" ->
            (spark.sparkContext.getPersistentRDDs.size - persistedBefore).toDouble)
      }
    }
    Clock.mark("batch_mix timed window done")
    def med(q: String, f: Phases => Long) = Stats.median(samples(q).map(f(_) / 1e6))
    val priceMs = timed.map(q => med(q, _.totalNs))

    val layers = counters.fold(Map.empty[String, Double]) { c =>
      c.drain()
      c.detach()
      val querySpans = tracer.all.filter(_.name.startsWith("query:"))
      tracer.rewrite { s =>
        if (!s.name.startsWith("action:")) s
        else querySpans.find(q => s.startNs >= q.startNs && s.startNs <= q.endNs)
          .fold(s)(q => s.copy(parent = q.id, root = q.id))
      }
      timed.flatMap { q =>
        val prefix = s"operators.${module(q)}.$q"
        Seq(s"$prefix.build_ms" -> med(q, _.buildNs), s"$prefix.plan_ms" -> med(q, _.planNs),
          s"$prefix.exec_ms" -> med(q, _.execNs))
      }.toMap ++ firstPass + ("batch.peak_storage_mb" -> c.peakStorageBytes / 1e6)
    }
    Measurement(
      endToEnd = Map(
        "latency_p50_ms" -> Stats.median(priceMs),
        "throughput_per_s" -> 1000.0 * timed.size / priceMs.sum),
      layers = layers,
      attempted = queries.size,
      failed = 0,
      wrong = Nil,
      notes = Seq(f"batch_mix: $runs timed query runs, total ${priceMs.sum / 1000}%.3f s, " +
        f"geomean ${Stats.geomean(priceMs)}%.1f ms") ++
        timed.zip(priceMs).map { case (q, ms) =>
          f"batch_mix: $q%-30s $ms%9.1f ms; runs " + samples(q).map(p => f"${p.totalNs / 1e6}%.0f").mkString(" ")
        })
  }
}
