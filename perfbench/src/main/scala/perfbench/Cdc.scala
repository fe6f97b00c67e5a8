package perfbench

import graft.Tables
import graft.model.ChangeEvent
import graft.operators.CdcOps
import graft.streaming.{CdcPipeline, Monitoring, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** `cdc_replay`: a WAL archive of segment files of change envelopes,
  * derived from the events table (`CdcOps.toEnvelope`), is staged in the
  * directory the pipeline's file source reads and drained back to back;
  * then every valid event is checked against what the sinks hold. */
object Cdc {

  /** Events of the archive in WAL order. `action` is null for the rows
    * the pipeline must reject as invalid. */
  final case class Input(wal: Array[Long], uuid: Array[String], user: Array[String],
      action: Array[String], json: Array[String]) {
    def size: Int = wal.length
    def isValid(i: Int): Boolean = action(i) != null
  }

  /** 400-event segments drained at the shipped default admission of one
    * segment per trigger, trigger 0. */
  val SegmentEvents = 400
  val MaxFiles = 1
  /** Segments staged per second of `--seconds`: a 4-core machine drains
    * about this many, so a run measures a fixed amount of work that
    * takes about `--seconds`. The archive is a whole number of blocks
    * of `copyOrder`. */
  val SegmentsPerSecond = 0.7
  val WarmSegments = 2
  private val TopicMapping = Map("events" -> "topic.events")
  private val FallbackMapping = Map("orders" -> "topic.orders")
  private val FallbackTopic = "topic.cdc"

  def archiveSegments(seconds: Int): Int = 4 * math.max(1, math.round(seconds * SegmentsPerSecond / 4).toInt)

  /** The seed's slice of the events table: `archive` segments and then
    * `WarmSegments` more for the warm-up, as change envelopes. */
  def load(spark: SparkSession, sfDir: String, seed: Long, archive: Int): Input = {
    val events = Tables.events(spark, sfDir)
    val n = (archive + WarmSegments) * SegmentEvents
    val total = events.count()
    val from = new java.util.Random(seed).nextInt((total / SegmentEvents).toInt -
      archive - WarmSegments + 1).toLong * SegmentEvents
    val rows = CdcOps.toEnvelope(events.filter(col("event_id") >= from && col("event_id") < from + n))
      .withColumnRenamed("tbl", "table")
      .withColumnRenamed("wal_position", "walPosition")
      .select(col("walPosition"), col("uuid"), element_at(col("columns"), "user_id"),
        col("action"), to_json(struct(ChangeEvent.schema.fieldNames.toIndexedSeq.map(col): _*)))
      .orderBy("walPosition")
      .collect()
    require(rows.length == n, s"events $from..${from + n} hold ${rows.length} rows, not $n")
    Input(rows.map(_.getLong(0)), rows.map(_.getString(1)), rows.map(_.getString(2)),
      rows.map(_.getString(3)), rows.map(_.getString(4)))
  }

  /** Events `[from, until)` of the input, landed as one file. */
  final case class Segment(index: Int, from: Int, until: Int, body: Array[Byte]) {
    def events: Range = from until until
  }

  def segments(in: Input, first: Int, count: Int): IndexedSeq[Segment] =
    (first until first + count).map { k =>
      val (from, until) = (k * SegmentEvents, (k + 1) * SegmentEvents)
      Segment(k, from, until, in.json.slice(from, until).mkString("", "\n", "\n").getBytes(UTF_8))
    }

  /** The order in which the archive is copied in: not WAL order, as an
    * unordered copy lands it. Within every four segments the second
    * lands last (0, 2, 3, 1, 4, 6, 7, 5, ...); a trailing partial block
    * lands in WAL order. The file source consumes segment 1 two triggers
    * after segment 2, when the watermark that drops late rows has
    * passed all of segment 1. */
  def copyOrder(n: Int): IndexedSeq[Int] =
    (0 until n / 4).flatMap(b => Seq(0, 2, 3, 1).map(4 * b + _)) ++ (n / 4 * 4 until n)

  /** Lands segments in the given order the way a WAL shipper does: each
    * is written under a hidden name, which the file source skips, then
    * renamed into place. A segment whose modification time does not
    * exceed its predecessor's is written again a millisecond later, so
    * the modification-time order is exactly the landing order and every
    * run consumes the archive in the same order. */
  def land(dir: Path, segs: Seq[Segment]): Unit = {
    var last = Long.MinValue
    segs.foreach { seg =>
      val tmp = dir.resolve(f".seg-${seg.index}%06d.json.tmp")
      def mtime = Files.getLastModifiedTime(tmp).toMillis
      Files.write(tmp, seg.body)
      while (mtime <= last) {
        Thread.sleep(1)
        Files.write(tmp, seg.body)
      }
      last = mtime
      Files.move(tmp, dir.resolve(f"seg-${seg.index}%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** One committed trigger, read from `StreamingQueryProgress`. */
  final case class TriggerInfo(batchId: Long, startMs: Long, execMs: Long, rows: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long,
      droppedByWatermark: Long, invalid: Long) {
    def commitMs: Long = startMs + execMs
  }

  def triggers(q: StreamingQuery, observation: String): IndexedSeq[TriggerInfo] =
    q.recentProgress.toIndexedSeq.filter(_.numInputRows > 0).sortBy(_.batchId).map { p =>
      val st = p.stateOperators.headOption
      val obs = Option(p.observedMetrics.get(observation))
      TriggerInfo(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.get("triggerExecution"), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.numRowsDroppedByWatermark).getOrElse(0L),
        obs.map(r => r.getAs[Long]("invalid_action")).getOrElse(0L))
    }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** (topic, uuid) of every row a topic sink holds. */
  private def delivered(spark: SparkSession, dir: Path): Array[(String, String)] =
    if (!Files.exists(dir)) Array.empty
    else spark.read.parquet(dir.toString)
      .select(col("topic"), get_json_object(col("value"), "$.uuid"))
      .collect().map(r => (r.getString(0), r.getString(1)))

  /** Valid events of `segs` that no sink row carries, sink rows beyond
    * the first per event, and rows that should not be there at all. */
  private final case class Delivery(missing: Set[String], duplicates: Long, wrong: Seq[String])

  private def checkDelivery(in: Input, segs: Seq[Segment], rows: Array[(String, String)],
      topic: String, sink: String): Delivery = {
    val (valid, invalid) = segs.iterator.flatMap(_.events).partition(in.isValid)
    val validIds = valid.map(in.uuid).toSet
    val invalidIds = invalid.map(in.uuid).toSet
    val got = rows.map(_._2)
    val wrong = Seq(
      rows.count(_._1 != topic) -> s"$sink: rows routed to another topic than $topic",
      got.count(invalidIds) -> s"$sink: rows for events the pipeline must reject",
      got.count(u => !validIds(u) && !invalidIds(u)) -> s"$sink: rows for events never landed",
    ).collect { case (n, what) if n > 0 => s"$n $what" }
    Delivery(validIds -- got, got.length - got.distinct.length, wrong)
  }

  private def traceSink(tracer: Tracer, name: String)(
      write: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    if (!tracer.enabled) write else (b, id) => tracer.span(name)(_ => write(b, id))

  /** One span per trigger with a child per `durationMs` phase, built
    * from the progress reports; the sink spans recorded during the run
    * are attached to the trigger whose interval holds them. */
  private def triggerSpans(tracer: Tracer, trig: Seq[TriggerInfo]): Unit = {
    val roots = trig.map { t =>
      val id = tracer.nextId()
      val (s, e) = (t.startMs * 1000000L, t.commitMs * 1000000L)
      (id, s, e + 1000000L) -> Span(id, 0L, id, s"trigger:${t.batchId}", s, e,
        Map("rows" -> t.rows.toDouble, "state_rows" -> t.stateRows.toDouble))
    }
    tracer.rewrite { x =>
      roots.collectFirst { case ((id, s, e), _) if x.startNs >= s && x.endNs <= e =>
        x.copy(parent = id, root = id) }.getOrElse(x)
    }
    trig.zip(roots).foreach { case (t, ((id, s, _), root)) =>
      tracer.add(root)
      // durationMs phases run one after another in this order
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foldLeft(s) { (at, phase) =>
          val d = t.durations.getOrElse(phase, 0L) * 1000000L
          tracer.add(Span(tracer.nextId(), id, id, phase, at, at + d))
          at + d
        }
    }
  }

  /** Starts the pipeline: file source → observe → validate → dedup,
    * fanned out by `muxFanoutIdempotent` to the topic sink, a
    * `Sinks.parquet` sink whose routing falls back to `topic.cdc`, and
    * the `user_id` snapshot sink. */
  private def start(spark: SparkSession, run: Path, name: String, tracer: Tracer): StreamingQuery = {
    val env = CdcPipeline.deduped(CdcPipeline.validated(CdcPipeline.observed(
      CdcPipeline.fileSource(spark, run.resolve("in").toString, MaxFiles), name)))
    val topic = traceSink(tracer, "streaming.CdcPipeline.parquetTopicSink.write") { (b, _) =>
      CdcPipeline.parquetTopicSink(run.resolve("sink-topic").toString)(
        CdcPipeline.toWire(b, TopicMapping, None))
    }
    val fallback = traceSink(tracer, "streaming.Sinks.parquet.write") { (b, _) =>
      Sinks.parquet(run.resolve("sink-fallback").toString)(
        CdcPipeline.toWire(b, FallbackMapping, Some(FallbackTopic)))
    }
    val state = run.resolve("state")
    val snapshot = traceSink(tracer, "streaming.CdcPipeline.snapshotSink.write") { (b, id) =>
      CdcPipeline.snapshotSink(state.toString, "user_id")(b, id)
      if (tracer.enabled)
        tracer.add(Span(tracer.nextId(), 0L, 0L, "snapshot.generation", Clock.epochNs(),
          Clock.epochNs(), Map("bytes" -> dirBytes(state).toDouble)))
    }
    CdcPipeline.muxFanoutIdempotent(env,
        Seq("topic" -> topic, "fallback" -> fallback, "snapshot" -> snapshot),
        run.resolve("checkpoint").toString, Trigger.ProcessingTime(0L))
      .queryName(name)
      .start()
  }

  /** Drains the warm-up segments through the same pipeline in `run`. */
  def warmUp(spark: SparkSession, input: Input, run: Path): Unit = {
    val total = input.size / SegmentEvents
    land(Files.createDirectories(run.resolve("in")),
      segments(input, total - WarmSegments, WarmSegments))
    val q = start(spark, run, "replay-warmup", new Tracer(false))
    try q.processAllAvailable() finally q.stop()
  }

  /** Saturating: the first `archive` segments are staged at once in
    * `copyOrder`, then drained back to back (trigger 0) at one segment
    * per trigger. Latency is the median trigger execution time and
    * throughput the median commit-to-commit rate, both over every
    * trigger after the first (which also starts the query). */
  def replay(spark: SparkSession, input: Input, run: Path, archive: Int,
      tracer: Tracer): Measurement = {
    val segs = segments(input, 0, archive)
    land(Files.createDirectories(run.resolve("in")), copyOrder(archive).map(segs))
    val monitoring = Monitoring.attach(spark)
    val trig = try {
      val q = start(spark, run, "replay", tracer)
      try {
        q.processAllAvailable()
        triggers(q, "replay")
      } finally q.stop()
    } finally spark.streams.removeListener(monitoring)
    Clock.mark("cdc_replay archive committed")
    val rows = trig.map(_.rows).sum
    require(rows == segs.map(_.events.size).sum, s"replay committed $rows rows")
    val steady = trig.tail
    val rates = trig.zip(steady).map { case (a, b) => 1000.0 * b.rows / (b.commitMs - a.commitMs) }

    val topic = checkDelivery(input, segs, delivered(spark, run.resolve("sink-topic")),
      "topic.events", "topic sink")
    val fallback = checkDelivery(input, segs, delivered(spark, run.resolve("sink-fallback")),
      FallbackTopic, "fallback sink")
    // the snapshot a correct pipeline holds: latest WAL position per
    // user_id over every valid event, deletes hidden
    val events = segs.flatMap(_.events).filter(input.isValid)
    val model = events.groupBy(input.user).map { case (u, is) => u -> is.maxBy(input.wal) }
      .filter { case (_, i) => input.action(i) != ChangeEvent.Delete }
      .map { case (u, i) => u -> (input.wal(i), input.action(i)) }
    val view = CdcPipeline.snapshotView(spark, run.resolve("state").toString)
      .select(col("key"), col("walPosition"), col("action")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    val keys = model.keySet ++ view.keySet
    val snapshotDiff = keys.count(u => model.get(u) != view.get(u))
    val invalidStaged = segs.map(_.events.count(i => !input.isValid(i))).sum
    val invalidSeen = trig.map(_.invalid).sum
    val dropped = trig.map(_.droppedByWatermark).sum
    val wrong = topic.wrong ++ fallback.wrong ++
      monitoring.status.map(e => s"Monitoring reports a failed query: $e") ++
      (if (invalidSeen != invalidStaged)
        Seq(s"observed invalid_action $invalidSeen != $invalidStaged invalid events staged")
      else Nil)

    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        triggerSpans(tracer, trig)
        def p50(key: String) = Stats.median(steady.map(_.durations.getOrElse(key, 0L).toDouble))
        def sinkMs(name: String) = Stats.median(tracer.byName(name).map(_.ms))
        val generations = tracer.byName("snapshot.generation").map(_.attrs("bytes"))
        Map(
          "streaming.CdcPipeline.fileSource.latestOffset_ms" -> p50("latestOffset"),
          "streaming.CdcPipeline.fileSource.getBatch_ms" -> p50("getBatch"),
          "streaming.engine.queryPlanning_ms" -> p50("queryPlanning"),
          "streaming.checkpoint.walCommit_ms" -> p50("walCommit"),
          "streaming.checkpoint.commitOffsets_ms" -> p50("commitOffsets"),
          "streaming.CdcPipeline.muxFanout.addBatch_ms" -> p50("addBatch"),
          "streaming.CdcPipeline.parquetTopicSink.write_ms" ->
            sinkMs("streaming.CdcPipeline.parquetTopicSink.write"),
          "streaming.Sinks.parquet.write_ms" -> sinkMs("streaming.Sinks.parquet.write"),
          "streaming.CdcPipeline.snapshotSink.write_ms" ->
            sinkMs("streaming.CdcPipeline.snapshotSink.write"),
          "streaming.CdcPipeline.snapshot.state_bytes" -> dirBytes(run.resolve("state")).toDouble,
          "streaming.CdcPipeline.snapshot.bytes_rewritten_per_input_byte" ->
            generations.sum / segs.map(_.body.length.toDouble).sum,
          "streaming.CdcPipeline.deduped.state_rows" -> trig.last.stateRows.toDouble,
          "streaming.CdcPipeline.deduped.state_memory_bytes" -> trig.last.stateBytes.toDouble,
          "streaming.CdcPipeline.deduped.rows_dropped_by_watermark" -> dropped.toDouble,
          "streaming.CdcPipeline.observed.invalid_action" -> invalidSeen.toDouble,
          "streaming.trigger.execution_ms.p50" -> Stats.median(steady.map(_.execMs.toDouble)),
          "streaming.trigger.execution_ms.p95" -> Stats.quantile(steady.map(_.execMs.toDouble), 0.95),
          "check.duplicate_deliveries" -> (topic.duplicates + fallback.duplicates).toDouble,
        )
      }
    Measurement(
      endToEnd = Map(
        "latency_p50_ms" -> Stats.median(steady.map(_.execMs.toDouble)),
        "throughput_per_s" -> Stats.median(rates)),
      layers = layers,
      attempted = events.size + keys.size,
      failed = (topic.missing ++ fallback.missing).size + snapshotDiff,
      wrong = wrong,
      notes = Seq(
        s"cdc_replay: $archive segments from WAL position ${input.wal.head}, ${trig.size} triggers, " +
          s"${events.size} valid events",
        s"cdc_replay: lost ${topic.missing.size} (topic sink) ${fallback.missing.size} (fallback sink) " +
          s"valid events, $dropped rows dropped by the dedup watermark, " +
          s"$snapshotDiff of ${keys.size} snapshot keys differ from the model",
        s"cdc_replay: duplicate deliveries ${topic.duplicates + fallback.duplicates}",
        trig.map(_.execMs).mkString("cdc_replay: trigger ms ", " ", "")))
  }
}
