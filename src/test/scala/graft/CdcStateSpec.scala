package graft

import graft.model.ChangeEvent
import graft.streaming.CdcPipeline
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** The maintained CDC state (`snapshotSink`, `scd2Sink`) kept as a base
  * plus per-trigger deltas: after every crash window the layout has,
  * the snapshot view and the SCD2 history equal a fold of the events,
  * and an ordinary trigger writes only its own batch. */
class CdcStateSpec extends SparkSpec {

  private def evk(w: Long, action: String, key: String): ChangeEvent =
    ChangeEvent("h", "db", "users", action, w, new Timestamp(1700000000000L + w * 1000L),
      s"u-$w", Map("user_id" -> key, "v" -> s"v$w"))

  /** `n` changes from WAL position `from` over five keys: inserts,
    * updates and a delete now and then. */
  private def changes(from: Long, n: Int): Seq[ChangeEvent] =
    (from until from + n).map(w =>
      evk(w, if (w % 7 == 3) "delete" else if (w < 5) "insert" else "update", s"k${w % 5}"))

  /** The live keys of a fold of `events`: (key, walPosition, action). */
  private def snapshotModel(events: Seq[ChangeEvent]): Set[(String, Long, String)] =
    events.groupBy(_.columns("user_id")).values.map(_.maxBy(_.walPosition))
      .filter(_.action != ChangeEvent.Delete)
      .map(e => (e.columns("user_id"), e.walPosition, e.action)).toSet

  /** The SCD2 history of `events`: (key, version, action, walPosition,
    * valid_from_s, valid_to_s or -1, is_current). */
  private def scd2Model(events: Seq[ChangeEvent]) =
    events.distinctBy(_.walPosition).groupBy(_.columns("user_id")).toSeq.flatMap { case (k, es) =>
      val vs = es.sortBy(_.walPosition)
      vs.zipWithIndex.collect { case (e, j) if e.action != ChangeEvent.Delete =>
        val next = vs.lift(j + 1).map(_.timestamp.getTime / 1000)
        (k, j + 1, e.action, e.walPosition, e.timestamp.getTime / 1000, next.getOrElse(-1L),
          if (next.isEmpty) 1 else 0)
      }
    }.toSet

  /** Both views over `snap` and `scd2` equal the fold of `events`, and
    * the SCD2 state holds each accepted change once. */
  private def assertFold(snap: String, scd2: String, events: Seq[ChangeEvent]): Unit = {
    val view = CdcPipeline.snapshotView(spark, snap)
      .select(col("key"), col("walPosition"), col("action")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(view === snapshotModel(events))
    val history = CdcPipeline.scd2History(spark, scd2)
      .select("key", "version", "action", "walPosition", "valid_from_s", "valid_to_s", "is_current")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5), r.getInt(6))).toSet
    assert(history === scd2Model(events))
    assert(CdcPipeline.scd2State(spark, scd2).count() === events.map(_.walPosition).distinct.size)
  }

  private def entries(dir: String): Seq[String] =
    Option(new File(dir).list).fold(Seq.empty[String])(_.toSeq.sorted)

  /** One trigger's worth of `events`, handed to both sinks directly. */
  private def trigger(snap: String, scd2: String, events: Seq[ChangeEvent], id: Long): Unit = {
    import spark.implicits._
    val batch = events.toDF()
    CdcPipeline.snapshotSink(snap, "user_id")(batch, id)
    CdcPipeline.scd2Sink(scd2, "user_id")(batch, id)
  }

  test("merge-on-read: a fresh checkpoint over existing state keeps every change") {
    val root = Files.createTempDirectory("graft-state-fresh").toString
    val (snap, scd2) = (s"$root/snap", s"$root/scd2")
    def run(in: String, ckpt: String): Unit = {
      val q = CdcPipeline.muxFanoutIdempotent(
          CdcPipeline.validated(CdcPipeline.fileSource(spark, in)),
          Seq("snapshot" -> CdcPipeline.snapshotSink(snap, "user_id") _,
            "scd2" -> CdcPipeline.scd2Sink(scd2, "user_id") _),
          ckpt, Trigger.ProcessingTime(0L)).start()
      try q.processAllAvailable() finally q.stop()
    }
    // run 1: twelve one-segment triggers, enough for a fold and the
    // deltas after it
    Seq("in1", "in2").foreach(d => Files.createDirectories(Paths.get(root, d)))
    val first = (0 until 12).map(s => changes(10L * s, 6))
    first.zipWithIndex.foreach { case (es, s) => writeSegment(s"$root/in1", f"seg-$s%03d.json", es) }
    run(s"$root/in1", s"$root/ckpt")
    assertFold(snap, scd2, first.flatten)
    // run 2: the checkpoint is gone, so batch ids start at 0 again, over
    // the same state and a new WAL archive
    FileUtils.deleteDirectory(new File(s"$root/ckpt"))
    val second = (0 until 4).map(s => changes(1000L + 10L * s, 6))
    second.take(3).zipWithIndex.foreach { case (es, s) =>
      writeSegment(s"$root/in2", f"seg-$s%03d.json", es) }
    run(s"$root/in2", s"$root/ckpt")
    assertFold(snap, scd2, first.flatten ++ second.take(3).flatten)
    writeSegment(s"$root/in2", "seg-003.json", second(3))
    run(s"$root/in2", s"$root/ckpt")
    assertFold(snap, scd2, first.flatten ++ second.flatten)
  }

  test("crash window: a delta written before its batch commits is written again by the replay") {
    val root = Files.createTempDirectory("graft-state-replay").toString
    val (snap, scd2) = (s"$root/snap", s"$root/scd2")
    Files.createDirectories(Paths.get(root, "in"))
    val segs = (0 until 3).map(s => changes(10L * s, 6))
    segs.zipWithIndex.foreach { case (es, s) => writeSegment(s"$root/in", f"seg-$s%03d.json", es) }
    @volatile var failed = false
    def start() = CdcPipeline.validated(CdcPipeline.fileSource(spark, s"$root/in")).writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        CdcPipeline.snapshotSink(snap, "user_id")(b, id)
        CdcPipeline.scd2Sink(scd2, "user_id")(b, id)
        if (id == 1 && !failed) { failed = true; throw new IllegalStateException("crash before commit") }
      }.start()
    val q1 = start()
    intercept[StreamingQueryException](try q1.processAllAvailable() finally q1.stop())
    assert(!new File(s"$root/ckpt/commits/1").exists, "batch 1 must not commit")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    for (dir <- Seq(snap, scd2))
      assert(entries(dir).count(_.startsWith("delta-1-")) === 2, s"batch 1's delta twice in $dir")
    assertFold(snap, scd2, segs.flatten)
  }

  test("crash window: a fold written but never renamed is ignored, and the next fold succeeds") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-state-torn").toString
    val (snap, scd2) = (s"$root/snap", s"$root/scd2")
    val batches = (0 until CdcPipeline.FoldEvery).map(i => changes(10L * i, 6))
    batches.init.zipWithIndex.foreach { case (es, i) => trigger(snap, scd2, es, i) }
    // what a fold leaves when it dies before its rename: rows that
    // would change both views, and its `_absorbed` list, under a hidden
    // name
    val bogus = Seq(evk(1000000L, "update", "k0"), evk(1000001L, "delete", "k1")).toDF()
    for ((dir, schema, merge) <- Seq(
        (snap, CdcPipeline.snapshotSchema, CdcPipeline.mergeSnapshot _),
        (scd2, CdcPipeline.scd2StateSchema, CdcPipeline.mergeScd2 _))) {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      merge(empty, bogus, "user_id").write.parquet(s"$dir/_torn-fold")
      Files.write(Paths.get(dir, "_torn-fold", "_absorbed"),
        entries(dir).filter(_.startsWith("delta-")).mkString("\n").getBytes)
    }
    assertFold(snap, scd2, batches.init.flatten)
    trigger(snap, scd2, batches.last, batches.size - 1L)
    for (dir <- Seq(snap, scd2))
      assert(entries(dir) === Seq("base-0"), s"the fold should leave one base in $dir")
    assertFold(snap, scd2, batches.flatten)
  }

  test("crash window: a fold renamed before its cleanup counts nothing twice; the next fold cleans up") {
    val root = Files.createTempDirectory("graft-state-cleanup").toString
    val (snap, scd2) = (s"$root/snap", s"$root/scd2")
    val k = CdcPipeline.FoldEvery
    val batches = (0 until 3 * k).map(i => changes(10L * i, 6))
    // one fold (base-0), then the deltas up to the next fold
    batches.take(2 * k - 1).zipWithIndex.foreach { case (es, i) => trigger(snap, scd2, es, i) }
    val before = Seq(snap, scd2).map(d => d -> entries(d)).toMap
    FileUtils.copyDirectory(new File(root), new File(s"$root-saved"))
    trigger(snap, scd2, batches(2 * k - 1), 2L * k - 1)
    // the second fold renamed base-1; put back what its cleanup deleted
    for (dir <- Seq(snap, scd2)) {
      assert(entries(dir) === Seq("base-1"))
      assert(Files.readAllLines(Paths.get(dir, "base-1", "_absorbed")).toArray.toSet ===
        before(dir).filter(_.startsWith("delta-")).toSet)
      before(dir).foreach(e => FileUtils.copyDirectory(
        new File(dir.replace(root, s"$root-saved"), e), new File(dir, e)))
      assert(entries(dir) === (before(dir) :+ "base-1").sorted)
    }
    assertFold(snap, scd2, batches.take(2 * k).flatten)
    // the leftovers bring the next fold forward; it deletes them
    trigger(snap, scd2, batches(2 * k), 2L * k)
    for (dir <- Seq(snap, scd2)) assert(entries(dir) === Seq("base-2"))
    assertFold(snap, scd2, batches.take(2 * k + 1).flatten)
  }

  test("a state directory of another layout fails the read instead of reading as empty") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft-state-other").resolve("state").toString
    // one generation written straight into the directory
    CdcPipeline.mergeSnapshot(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], CdcPipeline.snapshotSchema),
      changes(0, 6).toDF(), "user_id").write.parquet(state)
    val e = intercept[IllegalArgumentException](CdcPipeline.snapshotView(spark, state))
    assert(e.getMessage.contains("part-"))
    intercept[IllegalArgumentException](CdcPipeline.snapshotSink(state, "user_id")(changes(6, 6).toDF(), 0L))
  }

  test("SCD2: an ordinary trigger writes only its batch's accepted changes, however long the history") {
    import spark.implicits._
    val k = CdcPipeline.FoldEvery
    for (n <- Seq(3, 2 * k + 3)) {
      val scd2 = Files.createTempDirectory("graft-scd2-delta").resolve("state").toString
      (0 until n).foreach(i =>
        CdcPipeline.scd2Sink(scd2, "user_id")(changes(10L * i, 8).toDF(), i))
      // the batch carries two events the pipeline rejects
      val batch = changes(10L * n, 8) ++ Seq(
        evk(10L * n + 8, "begin", "k0"), evk(10L * n + 9, "update", "k1").copy(uuid = ""))
      val bases = entries(scd2).filter(_.startsWith("base-"))
      CdcPipeline.scd2Sink(scd2, "user_id")(CdcPipeline.validated(batch.toDF()), n)
      assert(entries(scd2).filter(_.startsWith("base-")) === bases, s"trigger $n should not fold")
      val Seq(delta) = entries(scd2).filter(_.startsWith(s"delta-$n-"))
      val written = spark.read.schema(CdcPipeline.scd2StateSchema).parquet(s"$scd2/$delta")
        .select("key", "walPosition", "action", "tus").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq.sortBy(_._2)
      assert(written === changes(10L * n, 8).map(e =>
        (e.columns("user_id"), e.walPosition, e.action, e.timestamp.getTime * 1000L)), s"after $n triggers")
    }
  }
}
