package graft

import graft.model.ChangeEvent
import graft.sources.CdcFileSource
import graft.streaming.CdcPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Specs for the change-event source: offset tracking, admission
  * control (count trigger), commit-after-sink, restart, the gap hold,
  * re-shipped segments and the parse rule. */
class CdcSourceSpec extends SparkSpec {

  private def ev(wal: Long, table: String = "users", tsStepMs: Long = 1000L): ChangeEvent =
    ChangeEvent("h", "db", table, "insert", wal,
      new java.sql.Timestamp(1700000000000L + wal * tsStepMs), s"u-$wal", Map("id" -> wal.toString))

  test("DSv2 source: parses segments, caps files per trigger, commits after sink") {
    val root = Files.createTempDirectory("graft-dsv2").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    writeSegment(in, "seg-000.json", Seq(ev(1), ev(2)))
    writeSegment(in, "seg-001.json", Seq(ev(3)))
    writeSegment(in, "seg-002.json", Seq(ev(4, table = "orders")))

    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .format(CdcFileSource.Name)
      .option("path", in)
      .option("maxFilesPerTrigger", 1)
      .load()
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.persist(); batchSizes.add(b.count())
        b.write.mode("append").parquet(s"$root/out"); b.unpersist()
        (): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()

    // admission control: one segment per micro-batch (mux batchSize)
    assert(batchSizes.size() === 3)
    assert(batchSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq === Seq(2L, 1L, 1L))
    // rows parsed to the envelope schema with values intact
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() === 4)
    val r3 = out.filter(col("walPosition") === 3).head()
    assert(r3.getAs[String]("uuid") === "u-3")
    assert(r3.getAs[String]("table") === "users")
    assert(r3.getAs[Map[String, String]]("columns") === Map("id" -> "3"))
    assert(r3.getAs[java.sql.Timestamp]("timestamp").getTime === 1700000003000L)
    // commit-after-sink: only fully-sunk epochs are confirmed. Spark
    // fires source.commit for epoch N while constructing epoch N+1, so
    // the tail epoch stays unconfirmed until the stream advances — the
    // same replayable-tail contract as the reference's delayed WAL
    // confirmation (walPos − walRetain, postgres.go:451-466).
    assert(CdcFileSource.committed.get(in) === 1L) // seg-001

    // restart from the checkpoint: nothing is reprocessed, new
    // segments flow (C1/C3 offset semantics on a native source)
    writeSegment(in, "seg-003.json", Seq(ev(5)))
    val q2 = spark.readStream.format(CdcFileSource.Name)
      .option("path", in).option("maxFilesPerTrigger", 1).load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$root/out"); (): Unit
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    val out2 = spark.read.parquet(s"$root/out")
    assert(out2.count() === 5) // only seg-003 was new
    assert(CdcFileSource.committed.get(in) >= 2L) // restart confirmed the recovered epochs
  }

  /** Polls `cond` for up to 30 s. */
  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(cond, what)
  }

  /** Starts the envelope pipeline (observe, validate, dedup) over `in`
    * at one segment per trigger into a sink that records each batch's
    * WAL positions. Idle triggers report progress every 100 ms, so the
    * source metrics of a held gap show without a new batch. */
  private def startDeduped(root: String, in: String, watermark: String,
      batches: java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]) = {
    val key = "spark.sql.streaming.noDataProgressEventInterval"
    spark.conf.set(key, "100ms")
    try CdcPipeline.deduped(CdcPipeline.validated(CdcPipeline.observed(
        CdcPipeline.fileSource(spark, in))), watermark)
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.add(b.select("walPosition").collect().map(_.getLong(0)).toSeq.sorted); (): Unit
      }.start()
    finally spark.conf.unset(key)
  }

  private def sourceMetrics(q: StreamingQuery): Map[String, String] =
    Option(q.lastProgress).map(_.sources(0).metrics.asScala.toMap).getOrElse(Map.empty)

  test("DSv2 source: a missing segment holds back later ones until it lands, in WAL order") {
    val root = Files.createTempDirectory("graft-dsv2-gap").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    // ten minutes of events a segment against a one-second watermark:
    // a segment read after a later one would be dropped as late
    def seg(k: Int) = (1 to 2).map(i => ev(10L * k + i, tsStepMs = 60000L))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = startDeduped(root, in, "1 second", batches)
    try {
      writeSegment(in, "seg-000.json", seg(0))
      q.processAllAvailable()
      writeSegment(in, "seg-002.json", seg(2))
      writeSegment(in, "seg-003.json", seg(3))
      await(s"gap reported: ${sourceMetrics(q)}")(sourceMetrics(q).get("waitingForSegment").contains("1"))
      assert(batches.asScala.toSeq.filter(_.nonEmpty) === Seq(Seq(1L, 2L)))
      val held = sourceMetrics(q)
      assert(held("committedSegment") === "0")
      assert(held("highestLandedSegment") === "3")
      assert(held("unreadSegments") === "2")
      writeSegment(in, "seg-001.json", seg(1))
      q.processAllAvailable()
      // one segment a trigger, in WAL order, nothing dropped as late
      assert(batches.asScala.toSeq.filter(_.nonEmpty) ===
        (0 to 3).map(k => Seq(10L * k + 1, 10L * k + 2)))
      assert(q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum === 0L)
      assert(!sourceMetrics(q).contains("waitingForSegment"))
    } finally q.stop()
  }

  /** Starts the bare source over `in` into a sink that records each
    * batch's WAL positions; idle triggers report progress every 100 ms. */
  private def startRecording(root: String, in: String,
      batches: java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]) = {
    val key = "spark.sql.streaming.noDataProgressEventInterval"
    spark.conf.set(key, "100ms")
    try spark.readStream.format(CdcFileSource.Name).option("path", in).load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.add(b.select("walPosition").collect().map(_.getLong(0)).toSeq.sorted); (): Unit
      }.start()
    finally spark.conf.unset(key)
  }

  test("DSv2 source: a query started on an empty directory waits for its first segment") {
    val root = Files.createTempDirectory("graft-dsv2-empty").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = startDeduped(root, in, "1 second", batches)
    try {
      // triggers run against the empty directory before anything lands
      await("an idle trigger")(q.lastProgress != null)
      writeSegment(in, "seg-000.json", (1 to 2).map(i => ev(i)))
      q.processAllAvailable()
      assert(batches.asScala.toSeq.filter(_.nonEmpty) === Seq(Seq(1L, 2L)))
    } finally q.stop()
  }

  test("DSv2 source: committedSegment reads the last batch once its sinks finished") {
    val root = Files.createTempDirectory("graft-dsv2-committed").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    writeSegment(in, "seg-007.json", Seq(ev(1)))
    val q = spark.readStream.format(CdcFileSource.Name).option("path", in).load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$root/out"); (): Unit
      }.start()
    try {
      q.processAllAvailable()
      // the only batch: Spark has not called commit for it (it does so
      // when it plans the next batch), but its progress is reported
      // after its commit-log write
      assert(spark.read.parquet(s"$root/out").count() === 1L)
      assert(q.lastProgress.sources(0).metrics.get("committedSegment") === "7")
    } finally q.stop()
  }

  test("DSv2 source: a batch re-run from the checkpoint reports its segment") {
    val root = Files.createTempDirectory("graft-dsv2-rerun").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    writeSegment(in, "seg-003.json", Seq(ev(1)))
    def start(sinkUp: Boolean) = spark.readStream.format(CdcFileSource.Name).option("path", in).load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!sinkUp) throw new IllegalStateException("sink down")
        b.write.mode("append").parquet(s"$root/out"); (): Unit
      }.start()
    val down = start(sinkUp = false)
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](down.processAllAvailable())
    finally down.stop()
    // batch 0 is in the offset log but not the commit log: the restart
    // re-runs it from the checkpoint's serialized offsets
    val q = start(sinkUp = true)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$root/out").count() === 1L)
      assert(q.lastProgress.sources(0).metrics.get("committedSegment") === "3")
    } finally q.stop()
  }

  test("DSv2 source: a segment landed below the query's start is counted, and the start survives a restart") {
    val root = Files.createTempDirectory("graft-dsv2-below").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    writeSegment(in, "seg-005.json", Seq(ev(5)))
    val q = startRecording(root, in, batches)
    try {
      q.processAllAvailable()
      writeSegment(in, "seg-004.json", Seq(ev(4)))
      writeSegment(in, "seg-006.json", Seq(ev(6)))
      q.processAllAvailable()
      // the start (5) is the lowest number the first trigger listed;
      // segment 4 landed below it and is never read
      assert(batches.asScala.toSeq.flatten === Seq(5L, 6L))
      val m = sourceMetrics(q)
      assert(m("landedBelowStart") === "1")
      assert(m("unreadSegments") === "0")
      assert(!m.contains("waitingForSegment"))
    } finally q.stop()
    // the start comes back from the checkpoint's offsets, not from a
    // new listing, which would now start at segment 3
    writeSegment(in, "seg-003.json", Seq(ev(3)))
    writeSegment(in, "seg-007.json", Seq(ev(7)))
    val q2 = startRecording(root, in, batches)
    try {
      q2.processAllAvailable()
      await(s"below-start count after restart: ${sourceMetrics(q2)}")(
        sourceMetrics(q2).get("landedBelowStart").contains("2"))
      assert(batches.asScala.toSeq.flatten === Seq(5L, 6L, 7L))
    } finally q2.stop()
  }

  test("DSv2 source: a checkpoint whose offsets carry no start still resumes") {
    val root = Files.createTempDirectory("graft-dsv2-nostart").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    writeSegment(in, "seg-000.json", Seq(ev(1)))
    val q = startRecording(root, in, batches)
    try q.processAllAvailable() finally q.stop()
    // rewrite the offsets as a source without the start wrote them
    val offsets = Files.list(Paths.get(s"$root/ckpt/offsets")).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith(".")).toList
    assert(offsets.nonEmpty)
    offsets.foreach { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      assert(text.contains("\"start\":0"), text)
      Files.write(f, text.replaceAll(""","start":-?\d+""", "").getBytes("UTF-8"))
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    writeSegment(in, "seg-001.json", Seq(ev(2)))
    val q2 = startRecording(root, in, batches)
    try {
      q2.processAllAvailable()
      assert(batches.asScala.toSeq.flatten === Seq(1L, 2L))
      await(s"metrics after resume: ${sourceMetrics(q2)}")(
        sourceMetrics(q2).get("landedBelowStart").contains("0"))
    } finally q2.stop()
  }

  test("DSv2 source: a consumed segment landed again is not read twice") {
    val root = Files.createTempDirectory("graft-dsv2-dup").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    // a watermark no replay here reaches: only the source may hold back
    val q = startDeduped(root, in, "1 day", batches)
    try {
      writeSegment(in, "seg-000.json", Seq(ev(1)))
      writeSegment(in, "seg-001.json", Seq(ev(2)))
      q.processAllAvailable()
      assert(batches.asScala.toSeq.flatten === Seq(1L, 2L))
      // re-shipped: once under its own name, once under another name
      // with the same number, then a new segment behind them
      writeSegment(in, "seg-000.json", Seq(ev(1)))
      writeSegment(in, "resent-seg-0001.json", Seq(ev(2)))
      writeSegment(in, "seg-002.json", Seq(ev(3)))
      q.processAllAvailable()
      assert(batches.asScala.toSeq.flatten === Seq(1L, 2L, 3L))
      assert(q.isActive && q.exception.isEmpty)
    } finally q.stop()
  }

  test("DSv2 source: unparseable values read as null, counted by observe and dropped by validate") {
    val root = Files.createTempDirectory("graft-dsv2-parse").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    def line(e: ChangeEvent) = TestSpark.envelope(e)
    TestSpark.landSegment(in, "seg-000.json", Seq(
      line(ev(1).copy(action = null)),                    // no action
      line(ev(2).copy(uuid = null)),                      // no uuid
      """{"host":"h","database":"db","table":"users","act"""))  // not JSON
    writeSegment(in, "seg-001.json", Seq(ev(4)))
    val q = CdcPipeline.validated(CdcPipeline.observed(CdcPipeline.fileSource(spark, in)))
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$root/out"); (): Unit
      }.start()
    try {
      q.processAllAvailable()
      val first = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("cdc")))
        .find(_.getAs[Long]("events") == 3L)
      assert(first.isDefined, s"no batch observed the three lines: ${q.recentProgress.toSeq}")
      assert(first.get.getAs[Long]("invalid_action") >= 1L)
      assert(first.get.getAs[Long]("missing_uuid") >= 1L)
      // all three lines dropped, the stream kept going to segment 1
      assert(spark.read.parquet(s"$root/out").select("walPosition").collect()
        .map(_.getLong(0)).toSeq === Seq(4L))
      assert(q.isActive && q.exception.isEmpty)
    } finally q.stop()
  }

  test("DSv2 source: composes with the envelope pipeline transforms") {
    val root = Files.createTempDirectory("graft-dsv2-pipe").toString
    val in = s"$root/wal"; Files.createDirectories(Paths.get(in))
    writeSegment(in, "seg-000.json",
      Seq(ev(1), ev(2, table = "orders"), ev(3, table = "misc")))
    val q = graft.streaming.CdcPipeline.toWire(
        graft.streaming.CdcPipeline.validated(
          spark.readStream.format(CdcFileSource.Name).option("path", in).load()),
        Map("users" -> "t.users", "orders" -> "t.orders"), Some("t.fallback"))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").partitionBy("topic").parquet(s"$root/out"); (): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    val topics = spark.read.parquet(s"$root/out")
      .select("topic").distinct().collect().map(_.getString(0)).toSet
    assert(topics === Set("t.users", "t.orders", "t.fallback"))
  }
}
