package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.ChangeEvent
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles,
  ReportsSourceMetrics, SupportsAdmissionControl}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The change-event source: a directory of numbered JSON segment files
  * read in segment-number order, as a DataSource-V2 micro-batch
  * stream. It maps the reference's PG replication loop
  * (source/postgres/postgres.go:242-296) onto DSv2: track a durable WAL
  * position, fetch the WAL past it, hand batches downstream, and persist
  * the position only after the sinks ACK (mux/mux.go:193-198,
  * persistWAL postgres.go:358-377). The segment files stand in for the
  * WAL (no PG wire exists in this sandbox).
  *
  *   - segment      = a `.json` file whose name ends in its number, the
  *                    run of decimal digits before `.json`
  *                    (`seg-000042.json` is 42). Names starting with `.`
  *                    or `_` are skipped, so a writer lands a segment
  *                    atomically by renaming a hidden file into place.
  *   - offset       = the number of the last segment consumed ≡ the WAL
  *                    position, and the query's start: the lowest
  *                    number listed at the first trigger that found a
  *                    segment. The start is kept in the offset, so it
  *                    survives a restart; a segment that lands below it
  *                    is never read, and is counted (metrics below).
  *   - latestOffset = the gap-free run of numbers past the offset,
  *                    capped by `maxFilesPerTrigger` via admission
  *                    control — the mux batchSize count-trigger
  *                    (mux/mux.go:57). A missing number holds back every
  *                    later segment until it lands; the hold is never
  *                    silent, see the source metrics below.
  *   - commit(end)  = the post-ACK WAL persist hook: Spark calls it only
  *                    after the epoch's sinks committed (for batch N,
  *                    when it plans batch N+1); it is recorded
  *                    (observable in tests; the checkpoint is the
  *                    durable store)
  *
  * A file numbered at or below the offset is never read again, so a
  * re-shipped segment is not read twice. The query fails, naming the
  * files, when an unread `.json` file has no number or two unread files
  * share one, and when a replayed batch needs a segment that is gone.
  *
  * Source metrics (`StreamingQueryProgress.sources(i).metrics`):
  * `committedSegment` (the last segment of the batch whose progress is
  * reported; Spark reports it after the batch's commit-log write),
  * `highestLandedSegment`, `unreadSegments`, `landedBelowStart` (listed
  * segments numbered below the start, never read), and
  * `waitingForSegment` — the first missing number, present only while it
  * holds back later segments. -1 stands for "none".
  *
  * Scale shape: one [[InputPartition]] per segment file, so a
  * 1000-executor cluster fans one micro-batch out to 1000 parallel
  * readers; the driver only lists names. Rows are parsed straight to
  * [[InternalRow]] under the parse rule of [[SegmentReader]].
  *
  * Usage: `spark.readStream.format(CdcFileSource.Name).option("path", dir)`.
  */
class CdcFileSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeEvent.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new CdcFileTable(new CaseInsensitiveStringMap(properties))
}

object CdcFileSource {
  /** Fully-qualified provider name for `.format(...)` (no
    * DataSourceRegister service file needed). */
  val Name: String = classOf[CdcFileSource].getName

  /** Last segment Spark committed per source directory — the test's
    * window into the commit-after-sink ordering (≡ walPositionPersisted,
    * postgres.go:372-376). */
  val committed = new ConcurrentHashMap[String, Long]()

  private[sources] val SegmentNumber = """(\d+)\.json$""".r
}

private[sources] final class CdcFileTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val dir = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("CdcFileSource: 'path' option is required"))
  override def name(): String = s"cdc-file:$dir"
  override def schema(): StructType = ChangeEvent.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = ChangeEvent.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new CdcFileMicroBatchStream(dir, Option(opts.get("maxFilesPerTrigger")).map(_.toInt),
          SQLConf.get.sessionLocalTimeZone)
    }
}

/** Offset = number of the last segment consumed and the query's start
  * segment, each -1 before the first. */
private[sources] final case class SegmentOffset(segment: Long, start: Long) extends Offset {
  override def json(): String = s"""{"segment":$segment,"start":$start}"""
}

private[sources] final class CdcFileMicroBatchStream(dir: String,
    maxFilesPerTrigger: Option[Int], timeZone: String)
    extends MicroBatchStream with SupportsAdmissionControl with ReportsSourceMetrics {

  @volatile private var backlog = Map.empty[String, Long]

  private def fail(what: String): Nothing =
    throw new IllegalStateException(s"CdcFileSource[$dir]: $what")

  /** (number, name) of every segment file listed. */
  private def listing(): List[(Long, String)] = {
    val p = Paths.get(dir)
    val names = if (!Files.isDirectory(p)) Nil else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && !n.startsWith(".") && !n.startsWith("_")).toList
      finally s.close()
    }
    val (bare, numbered) = names.partitionMap(n => CdcFileSource.SegmentNumber.findFirstMatchIn(n)
      .flatMap(_.group(1).toLongOption).map(k => (k, n)).toRight[String](n))
    if (bare.nonEmpty) fail(s"segment files without a number: ${bare.sorted.mkString(", ")}")
    numbered
  }

  /** Name by number of every segment numbered above `after`. */
  private def unread(listed: List[(Long, String)], after: Long): SortedMap[Long, String] = {
    val byNumber = listed.filter(_._1 > after).groupMap(_._1)(_._2)
    byNumber.collectFirst { case (k, names) if names.size > 1 =>
      fail(s"segment $k is landed twice: ${names.sorted.mkString(", ")}") }
    SortedMap.from(byNumber.view.mapValues(_.head))
  }

  /** Spark hands back offsets it read from the checkpoint in serialized
    * form, e.g. to `metrics` while a recovered batch re-runs. */
  private def segmentOffset(o: Offset): SegmentOffset = o match {
    case s: SegmentOffset => s
    case other => deserializeOffset(other.json()).asInstanceOf[SegmentOffset]
  }

  override def initialOffset(): Offset = SegmentOffset(-1L, -1L)
  /** A checkpoint written before offsets kept the start reads it as -1. */
  override def deserializeOffset(json: String): Offset = {
    val o = new ObjectMapper().readTree(json)
    val n = o.path("segment")
    if (!n.isIntegralNumber)
      fail(s"offset $json is no segment number; a checkpoint of another source cannot be resumed")
    SegmentOffset(n.asLong(), o.path("start").asLong(-1L))
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val SegmentOffset(from, started) = segmentOffset(start)
    val listed = listing()
    val segs = unread(listed, from)
    val cap = limit match { case m: ReadMaxFiles => m.maxFiles().toLong; case _ => Long.MaxValue }
    val first = if (from >= 0) from + 1 else segs.headOption.fold(0L)(_._1)
    val run = Iterator.iterate(first)(_ + 1)
      .takeWhile(k => segs.contains(k) && k - first < cap).size
    val end = if (run == 0) from else first + run - 1
    val startSeg = if (from < 0 && run > 0) first else started
    backlog = Map(
      "highestLandedSegment" -> listed.map(_._1).maxOption.getOrElse(-1L),
      "unreadSegments" -> segs.keysIterator.count(_ > end).toLong,
      "landedBelowStart" -> listed.count(_._1 < startSeg).toLong) ++
      Option.when(!segs.contains(end + 1) && segs.keysIterator.exists(_ > end + 1))(
        "waitingForSegment" -> (end + 1))
    SegmentOffset(end, startSeg)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (from, SegmentOffset(to, started)) = (segmentOffset(start).segment, segmentOffset(end))
    // a replayed first batch reads from the start its end offset kept,
    // not from a segment that landed below it since
    val segs = unread(listing(), if (from >= 0) from else started - 1).rangeTo(to)
    // an end of -1 admits nothing: a trigger that ran before the first
    // segment landed
    val first = if (from >= 0) from + 1 else if (to < 0) 0L else segs.headOption.fold(to)(_._1)
    (first to to).find(k => !segs.contains(k)).foreach(k =>
      fail(s"segment $k, admitted by an earlier trigger, is no longer listed"))
    segs.valuesIterator.map(n => SegmentPartition(s"$dir/$n", timeZone): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new SegmentReader(partition.asInstanceOf[SegmentPartition])

  /** Called only after the epoch's sinks committed — the DSv2 analog of
    * persistWAL-after-ACK. */
  override def commit(end: Offset): Unit =
    CdcFileSource.committed.put(dir, segmentOffset(end).segment)

  /** The backlog as of the latest listing, and the end of the batch
    * whose progress Spark reports, which it reports after that batch's
    * commit-log write. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): java.util.Map[String, String] = {
    val consumed = latestConsumedOffset.map[Long](o => segmentOffset(o).segment).orElse(-1L)
    (backlog + ("committedSegment" -> consumed)).map { case (k, v) => k -> v.toString }.asJava
  }

  override def stop(): Unit = ()
}

private[sources] final case class SegmentPartition(path: String, timeZone: String)
    extends InputPartition

/** Parses one WAL segment (JSON lines in the envelope wire shape,
  * README.md:12-25) directly into [[InternalRow]]s. The parse rule
  * follows the reference, which drops an unsupported value and logs it
  * without stopping the stream (postgres.go:421-423): a field that is
  * missing, null or not of its type is null, and a line that is not a
  * JSON object is a row of nulls. Each dropped value is logged. The
  * nulls reach `CdcPipeline.observed`, which counts them, and
  * `validated`, which drops the rows. */
private[sources] final class SegmentReader(part: SegmentPartition)
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val zone = java.time.ZoneId.of(part.timeZone)
  private val lines = Files.readAllLines(Paths.get(part.path), StandardCharsets.UTF_8)
    .asScala.iterator.filter(_.nonEmpty)
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!lines.hasNext) false
    else { current = parse(lines.next()); true }

  override def get(): InternalRow = current
  override def close(): Unit = ()

  private def dropped(what: String): Null = {
    SegmentReader.log.warn(s"${part.path}: dropped $what")
    null
  }

  private def parse(line: String): InternalRow = {
    val n = try mapper.readTree(line) catch { case NonFatal(_) => null }
    if (n == null || !n.isObject) {
      dropped(s"a line that is not a JSON object: $line")
      return new GenericInternalRow(ChangeEvent.schema.length)
    }
    def text(v: JsonNode) = UTF8String.fromString(if (v.isValueNode) v.asText() else v.toString)
    def field(f: String)(read: JsonNode => Option[Any]): Any =
      Option(n.get(f)).filterNot(_.isNull)
        .map(v => read(v).getOrElse(dropped(s"$f value $v"))).orNull
    def s(f: String) = field(f)(v => Some(text(v)))
    InternalRow(s("host"), s("database"), s("table"), s("action"),
      field("walPosition")(v => Option.when(v.isIntegralNumber && v.canConvertToLong)(v.asLong())),
      field("timestamp")(v => Option.when(v.isTextual)(v.asText()).flatMap(t =>
        DateTimeUtils.stringToTimestamp(UTF8String.fromString(t), zone))),
      s("uuid"),
      field("columns")(v => Option.when(v.isObject) {
        val es = v.properties().asScala.toArray
        ArrayBasedMapData(es.map(e => UTF8String.fromString(e.getKey)),
          es.map(e => if (e.getValue.isNull) null else text(e.getValue)))
      }))
  }
}

private object SegmentReader {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[SegmentReader])
}
