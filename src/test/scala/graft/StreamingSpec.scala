package graft

import graft.model.ChangeEvent
import graft.streaming.{CdcPipeline, Sinks}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import java.sql.Timestamp
import java.nio.file.Files

/** Streaming-semantics specs mirroring the reference's mux tests
  * (mux/mux_test.go:71-196): batch flush, dedup of replayed events,
  * multi-sink fan-out with commit-after-sink ordering, and replay
  * from checkpoint — the at-least-once contract. */
class StreamingSpec extends SparkSpec {

  private def ev(wal: Long, action: String = "insert", uuid: String = null,
                 table: String = "events", tsMs: Long = 1700000000000L): ChangeEvent =
    ChangeEvent("db1", "graft", table, action, wal,
      new Timestamp(tsMs + wal * 1000), if (uuid == null) s"u-$wal" else uuid,
      Map("k" -> wal.toString))

  test("validated stream drops invalid actions and missing uuids") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = CdcPipeline.validated(in.toDF())
      .writeStream.format("memory").queryName("validated_out")
      .outputMode("append").start()
    try {
      in.addData(ev(1), ev(2, action = "begin"), ev(3, uuid = ""), ev(4, action = "delete"))
      q.processAllAvailable()
      val got = spark.table("validated_out").select("walPosition")
        .collect().map(_.getLong(0)).sorted
      assert(got.sameElements(Array(1L, 4L)))
    } finally q.stop()
  }

  test("observe() counters report events/invalid/missing per batch (M2)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mon = graft.streaming.Monitoring.attach(spark)
    val in = MemoryStream[ChangeEvent]
    val q = CdcPipeline.validated(CdcPipeline.observed(in.toDF()))
      .writeStream.format("noop").queryName("observed_q")
      .outputMode("append").start()
    try {
      in.addData(ev(1), ev(2, action = "begin"), ev(3, uuid = ""),
        ev(4, action = "delete"), ev(5, action = null))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (mon.observedMetrics("observed_q").isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val m = mon.observedMetrics("observed_q")("cdc")
      assert(m("events") === "5")         // all rows seen pre-filter
      assert(m("invalid_action") === "2") // 'begin' marker + NULL action
      assert(m("missing_uuid") === "1")   // the empty-uuid row
    } finally {
      q.stop()
      spark.streams.removeListener(mon)
    }
  }

  test("watermarked dedup collapses an at-least-once replay") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = CdcPipeline.deduped(in.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(ev(1), ev(2))
      q.processAllAvailable()
      in.addData(ev(1), ev(2), ev(3)) // replayed batch + one new event
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("uuid").collect().map(_.getString(0))
      assert(got.length === 3 && got.toSet === Set("u-1", "u-2", "u-3"))
    } finally q.stop()
  }

  test("windowed counts aggregate per (window, table, action)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = CdcPipeline.windowedCounts(in.toDF(), window = "1 minute")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      in.addData(ev(1), ev(2), ev(61), ev(62, action = "delete"))
      q.processAllAvailable()
      val got = spark.table("win_out").collect()
      // events 1,2 land in one minute-window; 61,62 in a later one,
      // split by action → 3 groups
      assert(got.length === 3)
      assert(got.map(_.getAs[Long]("n")).sum === 4)
    } finally q.stop()
  }

  test("muxFanout writes every sink before the epoch commits; replay dedups") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream").toString
    val in = MemoryStream[ChangeEvent]
    val wire = CdcPipeline.toWire(CdcPipeline.validated(in.toDF()),
      Map("events" -> "topic.events"), fallback = Some("topic.default"))
    var sinkACalls = 0
    // data must exist BEFORE start: AvailableNow snapshots offsets at
    // query start, so later addData would be invisible to this run
    in.addData(ev(1), ev(2, table = "other"))
    val q = CdcPipeline.muxFanout(wire, Seq(
        "a" -> { b => sinkACalls += 1; b.write.mode("append").parquet(s"$tmp/a") },
        "b" -> { b => b.write.mode("append").parquet(s"$tmp/b") }),
      checkpoint = s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(60000), "stream did not finish in time")
      val a = spark.read.parquet(s"$tmp/a")
      val b = spark.read.parquet(s"$tmp/b")
      // both sinks saw the same single batch (fan-out reads source once)
      assert(a.count() === 2 && b.count() === 2)
      assert(sinkACalls >= 1)
      // routing: known table → mapped topic, unknown → fallback
      val topics = a.select("topic").collect().map(_.getString(0)).toSet
      assert(topics === Set("topic.events", "topic.default"))
      // wire value is the full JSON envelope
      val v = a.filter(col("topic") === "topic.events")
        .select(get_json_object(col("value"), "$.uuid")).head().getString(0)
      assert(v === "u-1")
    } finally q.stop()
  }

  test("snapshot maintenance applies insert/update/delete; replay is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-snap").toString
    val state = s"$tmp/state"
    def evk(wal: Long, action: String, key: String, v: String): ChangeEvent =
      ChangeEvent("db1", "graft", "users", action, wal,
        new Timestamp(1700000000000L + wal * 1000), s"u-$wal",
        Map("user_id" -> key, "v" -> v))
    val in = MemoryStream[ChangeEvent]
    in.addData(
      evk(1, "insert", "a", "a1"), evk(2, "insert", "b", "b1"),
      evk(3, "update", "a", "a2"), evk(4, "delete", "b", "-"),
      evk(5, "insert", "c", "c1"))
    val q = CdcPipeline.validated(in.toDF()).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        CdcPipeline.snapshotSink(state, "user_id")(b, id) }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(60000)) finally q.stop()
    val view = CdcPipeline.snapshotView(spark, state)
      .select(col("key"), col("walPosition"), element_at(col("columns"), "v").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    // 'a' at its update, 'b' deleted (tombstone hidden), 'c' present
    assert(view.toSeq === Seq(("a", 3L, "a2"), ("c", 5L, "c1")))
    // tombstone retained in state (idempotence under replayed updates)
    assert(CdcPipeline.snapshotState(spark, state)
      .filter(col("action") === "delete").count() === 1)

    // at-least-once replay: re-apply the whole stream as one batch —
    // the per-key max-WAL merge must leave the state unchanged
    val replay = Seq(
      evk(1, "insert", "a", "a1"), evk(2, "insert", "b", "b1"),
      evk(3, "update", "a", "a2"), evk(4, "delete", "b", "-"),
      evk(5, "insert", "c", "c1")).toDF()
    CdcPipeline.snapshotSink(state, "user_id")(replay, 99L)
    val after = CdcPipeline.snapshotView(spark, state)
      .select("key", "walPosition").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(after.toSeq === Seq(("a", 3L), ("c", 5L)))
  }

  test("trending view: per-window top-k over streaming windowed counts via foreachBatch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val latest = new java.util.concurrent.atomic.AtomicReference[Array[org.apache.spark.sql.Row]](Array.empty)
    val q = CdcPipeline.windowedCounts(in.toDF(), window = "1 minute")
      .writeStream
      .outputMode("complete")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        latest.set(CdcPipeline.topPerWindow(b, k = 2).collect())
        (): Unit
      }.start()
    try {
      // window 1: events×3 inserts, orders×2 inserts, audit×1 delete →
      // top-2 = events, orders (audit cut); window 2: one orders insert
      in.addData(ev(1), ev(2), ev(3),
        ev(4, table = "orders"), ev(5, table = "orders"),
        ev(6, table = "audit", action = "delete"),
        ev(61, table = "orders"))
      q.processAllAvailable()
      val got = latest.get()
      val w1 = got
        .sortBy(r => (r.getAs[java.sql.Timestamp]("window_start").getTime, r.getAs[Int]("rank")))
      assert(w1.length === 3, s"expected 2 ranked rows in w1 + 1 in w2, got ${w1.toSeq}")
      assert(w1(0).getAs[String]("table") === "events")
      assert(w1(0).getAs[Long]("n") === 3L)
      assert(w1(1).getAs[Long]("n") === 2L && w1(1).getAs[String]("table") === "orders")
      assert(w1(2).getAs[Long]("n") === 1L && w1(2).getAs[String]("table") === "orders")
    } finally q.stop()
  }

  test("scd2Pipeline end-to-end: JSON segment files -> validated -> versioned history") {
    val root = Files.createTempDirectory("graft-scd2e2e").toString
    val inDir = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    def evj(wal: Long, action: String, key: String, v: String): ChangeEvent =
      ChangeEvent("h", "db", "users", action, wal,
        new Timestamp(1700000000000L + wal * 1000), s"u-$wal",
        Map("user_id" -> key, "v" -> v))
    // includes a transaction marker the validation stage must drop
    writeSegment(inDir, "seg-000.json", Seq(evj(1, "insert", "a", "a1"),
      evj(2, "update", "a", "a2"), evj(3, "begin", "x", "-")))
    val q = CdcPipeline.scd2Pipeline(spark, inDir,
      s"$root/state", s"$root/ckpt", "user_id")
    try q.processAllAvailable() finally q.stop()
    val hist = CdcPipeline.scd2History(spark, s"$root/state")
      .select(col("key"), col("version"), col("action"), col("walPosition"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(hist.toSeq === Seq(("a", 1, "insert", 1L), ("a", 2, "update", 2L)))
  }

  test("flagship pipeline end-to-end: segments -> validate -> dedup -> route -> topic parquet") {
    val root = Files.createTempDirectory("graft-flagship").toString
    val inDir = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    // a valid event, a replayed duplicate (same uuid), an invalid
    // marker, and an unmapped table for the fallback topic
    writeSegment(inDir, "seg-000.json",
      Seq(ev(1), ev(1), ev(2, action = "begin"), ev(3, table = "misc")))
    val q = CdcPipeline.pipeline(spark, inDir, s"$root/out", s"$root/ckpt",
      mapping = Map("events" -> "topic.events"))
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(s"$root/out")
    val byTopic = out.collect()
      .groupBy(_.getAs[String]("topic")).view.mapValues(_.length).toMap
    // duplicate collapsed, marker dropped, fallback routed
    assert(byTopic === Map("topic.events" -> 1, "topic.default" -> 1))
  }

  test("snapshotPipeline end-to-end: JSON segment files -> validated -> live snapshot") {
    val root = Files.createTempDirectory("graft-snape2e").toString
    val inDir = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(inDir))
    def evj(wal: Long, action: String, key: String, v: String): ChangeEvent =
      ChangeEvent("h", "db", "users", action, wal,
        new Timestamp(1700000000000L + wal * 1000), s"u-$wal",
        Map("user_id" -> key, "v" -> v))
    writeSegment(inDir, "seg-000.json", Seq(evj(1, "insert", "a", "a1"),
      evj(2, "insert", "b", "b1"), evj(3, "update", "a", "a2"), evj(4, "delete", "b", "-")))
    val q = CdcPipeline.snapshotPipeline(spark, inDir,
      s"$root/state", s"$root/ckpt", "user_id")
    try q.processAllAvailable() finally q.stop()
    val view = CdcPipeline.snapshotView(spark, s"$root/state")
      .select(col("key"), element_at(col("columns"), "v").as("v"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(view.toSeq === Seq(("a", "a2"))) // b deleted, a at latest image
  }

  test("streaming SCD2: version history accrues across restart; replay is a no-op") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-scd2").toString
    val state = s"$tmp/state"
    def evk(wal: Long, action: String, key: String, v: String): ChangeEvent =
      ChangeEvent("db1", "graft", "users", action, wal,
        new Timestamp(1700000000000L + wal * 1000), s"u-$wal",
        Map("user_id" -> key, "v" -> v))
    val in = MemoryStream[ChangeEvent]
    def start() = CdcPipeline.validated(in.toDF()).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        CdcPipeline.scd2Sink(state, "user_id")(b, id) }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // run 1: a's first two versions + b's insert
    in.addData(evk(1, "insert", "a", "a1"), evk(2, "insert", "b", "b1"),
      evk(3, "update", "a", "a2"))
    val q1 = start()
    try assert(q1.awaitTermination(60000)) finally q1.stop()
    // restart from the same checkpoint: only the NEW changes apply, and
    // they EXTEND the version chains instead of overwriting current
    in.addData(evk(4, "delete", "b", "-"), evk(5, "update", "a", "a3"))
    val q2 = start()
    try assert(q2.awaitTermination(60000)) finally q2.stop()
    def history() = CdcPipeline.scd2History(spark, state)
      .select(col("key"), col("version"), col("action"), col("walPosition"),
        col("valid_from_s"), col("valid_to_s"), col("is_current"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5), r.getInt(6)))
      .sortBy(t => (t._1, t._2)).toSeq
    val expected = Seq(
      // a: insert → update → update; each version's window closed by the next
      ("a", 1, "insert", 1L, 1700000001L, 1700000003L, 0),
      ("a", 2, "update", 3L, 1700000003L, 1700000005L, 0),
      ("a", 3, "update", 5L, 1700000005L, -1L, 1),
      // b: insert closed by its delete (the delete emits no row but
      // closes the window → b has no current version)
      ("b", 1, "insert", 2L, 1700000002L, 1700000004L, 0))
    assert(history() === expected)
    // at-least-once replay of the WHOLE stream as one batch: the
    // (key, walPosition) dedup makes the merge a set-union no-op
    val replay = Seq(
      evk(1, "insert", "a", "a1"), evk(2, "insert", "b", "b1"),
      evk(3, "update", "a", "a2"), evk(4, "delete", "b", "-"),
      evk(5, "update", "a", "a3")).toDF()
    CdcPipeline.scd2Sink(state, "user_id")(replay, 99L)
    assert(history() === expected)
  }

  test("checkpoint restart does not reprocess committed batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-ckpt").toString
    val in = MemoryStream[ChangeEvent]
    def start(s: MemoryStream[ChangeEvent]) =
      CdcPipeline.muxFanout(
        CdcPipeline.toWire(s.toDF(), Map("events" -> "t.e"), Some("t.d")),
        Seq("p" -> { b => b.write.mode("append").parquet(s"$tmp/out") }),
        checkpoint = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // data before start: AvailableNow snapshots offsets at query start
    in.addData(ev(10), ev(11))
    val q1 = start(in)
    assert(q1.awaitTermination(60000), "first run did not finish"); q1.stop()
    assert(spark.read.parquet(s"$tmp/out").count() === 2)
    // restart from the same checkpoint with the same source content:
    // committed offsets are not re-emitted (C1 commit-point semantics)
    val q2 = start(in)
    assert(q2.awaitTermination(60000), "restart did not finish"); q2.stop()
    assert(spark.read.parquet(s"$tmp/out").count() === 2)
  }

  test("sliding windows count each event into window/slide overlapping windows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    // 10-minute window sliding every 5 → every event lands in exactly 2
    val q = CdcPipeline.windowedCounts(in.toDF(), window = "10 minutes",
        slide = Some("5 minutes"))
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    try {
      in.addData(ev(1), ev(2), ev(3))
      q.processAllAvailable()
      val got = spark.table("sliding_out").collect()
      assert(got.map(_.getAs[Long]("n")).sum === 6) // 3 events × 2 windows
      assert(got.length === 2) // two overlapping windows, same (table, action)
    } finally q.stop()
  }

  test("idempotent sink: checkpoint rewind replays WITHOUT duplicates") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-idem").toString
    val in = MemoryStream[ChangeEvent]
    def start() =
      CdcPipeline.muxFanoutIdempotent(
        CdcPipeline.toWire(in.toDF(), Map("events" -> "t.e"), Some("t.d")),
        Seq("p" -> graft.streaming.Sinks.idempotentParquet(s"$tmp/out") _),
        checkpoint = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    in.addData(ev(30), ev(31))
    val q1 = start()
    assert(q1.awaitTermination(60000)); q1.stop()
    assert(spark.read.parquet(s"$tmp/out/batch=0").count() === 2)
    // rewind: wipe the progress store → the same data replays under the
    // SAME epoch ids and overwrites its own directories — exactly-once
    // OUTPUT with zero dedup state (contrast the append-sink rewind
    // test above, where duplicates appear and uuid-dedup must repair)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$tmp/ckpt")).deleteRecursively()
    val q2 = start()
    assert(q2.awaitTermination(60000)); q2.stop()
    val dirs = new java.io.File(s"$tmp/out").listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs === Set("batch=0"))
    assert(spark.read.parquet(s"$tmp/out/batch=0").count() === 2) // no duplicates
  }

  test("deleting the checkpoint rewinds and replays (C3 walPositionOverride)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-rewind").toString
    val in = MemoryStream[ChangeEvent]
    def start() =
      CdcPipeline.muxFanout(
        CdcPipeline.toWire(in.toDF(), Map("events" -> "t.e"), Some("t.d")),
        Seq("p" -> { b => b.write.mode("append").parquet(s"$tmp/out") }),
        checkpoint = s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    in.addData(ev(20), ev(21))
    val q1 = start()
    assert(q1.awaitTermination(60000)); q1.stop()
    assert(spark.read.parquet(s"$tmp/out").count() === 2)
    // rewind: wipe the progress store (≡ walPositionOverride to 0,
    // postgres.go:131-140) → the source replays from the beginning,
    // at-least-once duplicates appear, and uuid-dedup repairs them
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$tmp/ckpt")).deleteRecursively()
    val q2 = start()
    assert(q2.awaitTermination(60000)); q2.stop()
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() === 4) // replayed: duplicates visible (at-least-once)
    val deduped = out.withColumn("uuid",
      org.apache.spark.sql.functions.get_json_object(
        org.apache.spark.sql.functions.col("value"), "$.uuid"))
      .dropDuplicates("uuid")
    assert(deduped.count() === 2) // idempotent downstream repair
  }

  test("fan-out: a failing sink fails its batch uncommitted; restart replays it to every sink") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-fanout-fail").toString
    val in = MemoryStream[ChangeEvent]
    in.addData(ev(40), ev(41))
    val (boomB, boomC) = (new IllegalStateException("b is down"), new IllegalStateException("c is down"))
    val down = new java.util.concurrent.atomic.AtomicBoolean(true)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    def sink(name: String, fail: Option[Throwable]) = name -> { (b: DataFrame, id: Long) =>
      if (name == "c") Thread.sleep(300) // the slowest sink, still waited for
      done.add((name, id, b.count()))
      if (down.get) fail.foreach(e => throw e)
    }
    def start() = CdcPipeline.muxFanoutIdempotent(
        CdcPipeline.toWire(in.toDF(), Map("events" -> "t.e"), Some("t.d")),
        Seq(sink("a", None), sink("b", Some(boomB)), sink("c", Some(boomC))),
        checkpoint = s"$tmp/ckpt", trigger = Trigger.AvailableNow()).start()
    val q1 = start()
    val err = intercept[StreamingQueryException](q1.awaitTermination(60000))
    q1.stop()
    // the first failing sink's own exception fails the batch; the
    // other failure rides along as suppressed
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).contains(boomB))
    assert(boomB.getSuppressed.toSeq === Seq(boomC))
    assert(done.asScala.map(_._1).toSet === Set("a", "b", "c"))
    assert(new java.io.File(s"$tmp/ckpt/offsets/0").exists)
    assert(!new java.io.File(s"$tmp/ckpt/commits/0").exists, "a failed batch must not commit")
    done.clear()
    down.set(false)
    val q2 = start()
    assert(q2.awaitTermination(60000), "restart did not finish"); q2.stop()
    assert(done.asScala.toSet === Set(("a", 0L, 2L), ("b", 0L, 2L), ("c", 0L, 2L)))
    assert(new java.io.File(s"$tmp/ckpt/commits/0").exists)
  }

  test("fan-out: stop() while a sink blocks leaves no sink thread and no persisted batch") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-fanout-stop").toString
    val in = MemoryStream[ChangeEvent]
    in.addData(ev(50), ev(51))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    def added = persisted -- before
    val (wrote, blocked, never) = (new CountDownLatch(1), new CountDownLatch(1), new CountDownLatch(1))
    val q = CdcPipeline.muxFanoutIdempotent(
        CdcPipeline.toWire(in.toDF(), Map("events" -> "t.e"), Some("t.d")),
        Seq(
          "quick" -> { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$tmp/quick"); wrote.countDown() },
          "stuck" -> { (_: DataFrame, _: Long) => blocked.countDown(); never.await() }),
        checkpoint = s"$tmp/ckpt", trigger = Trigger.ProcessingTime(0L)).start()
    try {
      assert(wrote.await(60, TimeUnit.SECONDS) && blocked.await(60, TimeUnit.SECONDS))
      assert(added.nonEmpty, "the batch is persisted while its sinks run")
    } finally q.stop()
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(CdcPipeline.FanOutThreadPrefix))
    assert(alive.isEmpty, s"fan-out threads outlived stop(): $alive")
    assert(added.isEmpty, s"persisted RDDs outlived stop(): $added")
    assert(!new java.io.File(s"$tmp/ckpt/commits/0").exists)
  }

  /** Parquet part files under `dir`, counted per directory relative to
    * it ("" for `dir` itself). */
  private def partFiles(dir: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      .groupBy(p => root.relativize(p.getParent).toString).map { case (d, fs) => d -> fs.size }
    finally s.close()
  }

  /** `n` insert events from WAL position `from` on, alternating between
    * the `events` and `orders` tables over seven `user_id` keys. */
  private def tableEvents(from: Long, n: Int): Seq[ChangeEvent] =
    (from until from + n).map(w => ChangeEvent("h", "db", if (w % 2 == 0) "events" else "orders",
      "insert", w, new Timestamp(1700000000000L + w * 1000), s"s-$w", Map("user_id" -> s"k${w % 7}")))

  /** The dedup → two `Sinks.parquet` sinks and the snapshot sink, under
    * `root`; `a` routes both tables, `b` one and falls back for the other. */
  private def sizedFanOut(spark: org.apache.spark.sql.SparkSession, root: String,
      maxFiles: Int) =
    CdcPipeline.muxFanoutIdempotent(
      CdcPipeline.deduped(CdcPipeline.validated(CdcPipeline.fileSource(spark, s"$root/in", maxFiles))),
      Seq(
        "a" -> { (b: DataFrame, _: Long) => Sinks.parquet(s"$root/a")(
          CdcPipeline.toWire(b, Map("events" -> "t.events", "orders" -> "t.orders"), None)) },
        "b" -> { (b: DataFrame, _: Long) => Sinks.parquet(s"$root/b")(
          CdcPipeline.toWire(b, Map("events" -> "t.events"), Some("t.cdc"))) },
        "snapshot" -> CdcPipeline.snapshotSink(s"$root/state", "user_id") _),
      s"$root/ckpt", Trigger.ProcessingTime(0L))

  test("fan-out: a one-segment trigger writes one file per topic per sink, one per snapshot generation") {
    val root = Files.createTempDirectory("graft-fanout-one").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    writeSegment(s"$root/in", "seg-000.json", tableEvents(0, 40))
    // the second segment re-ships the first one's last 10 events: the
    // dedup must read back what the first trigger stored
    writeSegment(s"$root/in", "seg-001.json", tableEvents(30, 40))
    val q = sizedFanOut(spark, root, maxFiles = 1).start()
    try q.processAllAvailable() finally q.stop()
    assert(new java.io.File(s"$root/ckpt/commits/1").exists, "both triggers should commit")
    // two one-segment triggers: one writer, so one file per topic, each
    assert(partFiles(s"$root/a") === Map("topic=t.events" -> 2, "topic=t.orders" -> 2))
    assert(partFiles(s"$root/b") === Map("topic=t.events" -> 2, "topic=t.cdc" -> 2))
    // one delta per trigger (the dedup's no-data trigger included), each one file
    val state = partFiles(s"$root/state")
    val triggers = new java.io.File(s"$root/ckpt/commits").list().count(_.forall(_.isDigit))
    assert(state.keySet.map(_.split('-').take(2).mkString("-")) ===
      (0 until triggers).map(id => s"delta-$id").toSet)
    assert(state.values.forall(_ == 1))
    // all four state-store partitions of the dedup loaded and committed
    // under their own index in both triggers, inside the one sink task
    for (p <- 0 until 4; v <- 1 to 2)
      assert(new java.io.File(s"$root/ckpt/state/0/$p/$v.delta").exists, s"partition $p version $v")
    val a = spark.read.parquet(s"$root/a")
    assert(a.count() === 70 && a.select(get_json_object(col("value"), "$.uuid")).distinct().count() === 70)
    assert(CdcPipeline.snapshotView(spark, s"$root/state").count() === 7)
  }

  test("fan-out: a trigger that admits 2 segments over 2 state partitions keeps 2 writers") {
    val root = Files.createTempDirectory("graft-fanout-two").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    writeSegment(s"$root/in", "seg-000.json", tableEvents(0, 40))
    writeSegment(s"$root/in", "seg-001.json", tableEvents(40, 40))
    val two = spark.newSession()
    two.conf.set("spark.sql.shuffle.partitions", "2")
    val q = sizedFanOut(two, root, maxFiles = 2).start()
    try q.processAllAvailable() finally q.stop()
    assert(new java.io.File(s"$root/ckpt/commits/0").exists)
    assert(Files.readString(java.nio.file.Paths.get(s"$root/ckpt/offsets/0")).contains("\"segment\":1"),
      "the first trigger should admit both segments")
    assert(partFiles(s"$root/a") === Map("topic=t.events" -> 2, "topic=t.orders" -> 2))
    assert(partFiles(s"$root/b") === Map("topic=t.events" -> 2, "topic=t.cdc" -> 2))
    for (p <- 0 until 2)
      assert(new java.io.File(s"$root/ckpt/state/0/$p/1.delta").exists, s"partition $p")
    assert(spark.read.parquet(s"$root/a").count() === 80)
  }
}
