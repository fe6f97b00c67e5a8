package graft

import graft.model.ChangeEvent
import graft.streaming.CdcPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import java.nio.file.{Files, Path}
import java.sql.Timestamp

/** The at-least-once contract of the CDC pipeline under any landing
  * order (mux/mux.go:169-198). Each case lands 5–8 segments of random
  * envelopes in a random order while a query runs: one segment lands a
  * second time, one sink fails once after writing, so its batch
  * replays, and the query then restarts with another
  * `maxFilesPerTrigger`. The snapshot and the SCD2 history must equal a
  * pure fold of the valid events; the topic sink must hold every valid
  * event, and any duplicate must lie inside the replayed batch.
  *
  * The WAL begins at segment 0, which lands first: the source starts at
  * the lowest number it lists, so a later segment listed first would
  * start it there by definition. Torn segments are out of scope: a
  * segment lands by an atomic rename, so no reader sees part of one. */
object CdcLandingLaws extends Properties("CdcLanding") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20).withWorkers(1)

  private lazy val spark = TestSpark.spark

  /** One generated event: its action (null or "begin" is invalid), a
    * missing uuid (invalid too), and its key. */
  final case class Ev(action: String, noUuid: Boolean, key: String)

  final case class Case(segments: Vector[Vector[Ev]], order: Vector[Int], relandAfter: Int,
      relandIndex: Int, failAtCall: Int, maxFiles: Int, settle: Vector[Boolean]) {
    def maxFilesAfterRestart: Int = maxFiles % 3 + 1
    /** Segments in landing order, the re-landed one included. */
    def landings: Vector[Int] = order.zipWithIndex.flatMap { case (seg, k) =>
      seg +: (if (k == relandAfter) Vector(order(relandIndex)) else Vector.empty)
    }
  }

  private val ev: Gen[Ev] = for {
    action <- Gen.frequency(6 -> "insert", 4 -> "update", 2 -> "delete", 1 -> "begin", 1 -> (null: String))
    noUuid <- Gen.frequency(12 -> false, 1 -> true)
    key <- Gen.oneOf("a", "b", "c", "d")
  } yield Ev(action, noUuid, key)

  private val cases: Gen[Case] = for {
    n <- Gen.choose(5, 8)
    segments <- Gen.listOfN(n, Gen.choose(1, 5).flatMap(Gen.listOfN(_, ev).map(_.toVector)))
    shuffle <- Gen.listOfN(n - 1, Gen.long)
    relandAfter <- Gen.choose(0, n - 1)
    relandIndex <- Gen.choose(0, relandAfter)
    maxFiles <- Gen.choose(1, 3)
    // every run has at least ceil(n / 3) sink calls, so the failure fires
    failAtCall <- Gen.choose(0, (n + 2) / 3 - 1)
    settle <- Gen.listOfN(n + 1, Gen.oneOf(true, false))
  } yield Case(segments.toVector,
    (0 +: (1 until n).zip(shuffle).sortBy(_._2).map(_._1)).toVector,
    relandAfter, relandIndex, failAtCall, maxFiles, settle.toVector)

  private def wal(seg: Int, i: Int): Long = 10L * seg + i
  private def tsMs(w: Long): Long = 1700000000000L + w * 1000L

  private def event(seg: Int, i: Int, e: Ev): ChangeEvent = {
    val w = wal(seg, i)
    ChangeEvent("h", "db", "users", e.action, w, new Timestamp(tsMs(w)),
      if (e.noUuid) null else s"e-$w", Map("user_id" -> e.key, "v" -> s"v$w"))
  }

  private def land(dir: Path, c: Case, seg: Int): Unit =
    TestSpark.landSegment(dir.toString, f"seg-$seg%03d.json",
      c.segments(seg).zipWithIndex.map { case (e, i) => TestSpark.envelope(event(seg, i, e)) })

  property("snapshot, SCD2 and topic sink hold the fold of the valid events") =
    Prop.forAllNoShrink(cases) { c =>
      val root = Files.createTempDirectory("graft-landing")
      try check(root, c)
      finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }

  private def check(root: Path, c: Case): Prop = {
    val in = Files.createDirectories(root.resolve("in"))
    val (topic, state, scd2) = (root.resolve("topic").toString,
      root.resolve("state").toString, root.resolve("scd2").toString)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var replayed = Set.empty[String]
    val topicSink = (b: DataFrame, _: Long) => {
      val wire = CdcPipeline.toWire(b, Map("users" -> "t.users"), None)
      CdcPipeline.parquetTopicSink(topic)(wire)
      if (calls.getAndIncrement() == c.failAtCall) {
        replayed = b.select("uuid").collect().map(_.getString(0)).toSet
        throw new IllegalStateException("topic sink fails once after writing")
      }
    }
    def start(maxFiles: Int): StreamingQuery =
      CdcPipeline.muxFanoutIdempotent(
          CdcPipeline.deduped(CdcPipeline.validated(
            CdcPipeline.fileSource(spark, in.toString, maxFiles))),
          Seq("topic" -> topicSink,
            "snapshot" -> CdcPipeline.snapshotSink(state, "user_id") _,
            "scd2" -> CdcPipeline.scd2Sink(scd2, "user_id") _),
          root.resolve("ckpt").toString, Trigger.ProcessingTime(0L))
        .start()

    val landings = c.landings
    land(in, c, landings.head)
    var q = start(c.maxFiles)
    var restarted = false
    // one restart is the schedule; a second failure is a defect
    def restart(): Unit = {
      if (restarted) throw q.exception.getOrElse(new IllegalStateException("query stopped"))
      q.stop()
      restarted = true
      q = start(c.maxFilesAfterRestart)
    }
    def settle(): Unit =
      try q.processAllAvailable()
      catch { case _: StreamingQueryException => restart(); q.processAllAvailable() }
    try {
      landings.zip(c.settle).tail.foreach { case (seg, wait) =>
        if (!q.isActive) restart()
        land(in, c, seg)
        if (wait) settle()
      }
      settle()
    } finally q.stop()

    // the model: a fold of the valid events in WAL order
    val valid = for {
      (es, seg) <- c.segments.zipWithIndex
      (e, i) <- es.zipWithIndex
      if ChangeEvent.ValidActions.contains(e.action) && !e.noUuid
    } yield (wal(seg, i), e)
    val byKey = valid.groupBy(_._2.key).map { case (k, vs) => k -> vs.sortBy(_._1) }
    val snapshotModel = byKey.map { case (k, vs) => k -> vs.last }
      .collect { case (k, (w, e)) if e.action != ChangeEvent.Delete => (k, w, e.action) }.toSet
    val scd2Model = byKey.toSeq.flatMap { case (k, vs) =>
      vs.zipWithIndex.collect { case ((w, e), j) if e.action != ChangeEvent.Delete =>
        val next = vs.lift(j + 1).map(n => tsMs(n._1) / 1000)
        (k, j + 1, e.action, w, tsMs(w) / 1000, next.getOrElse(-1L), if (next.isEmpty) 1 else 0)
      }
    }.toSet

    val snapshot = CdcPipeline.snapshotView(spark, state)
      .select(col("key"), col("walPosition"), col("action")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val history = CdcPipeline.scd2History(spark, scd2)
      .select("key", "version", "action", "walPosition", "valid_from_s", "valid_to_s", "is_current")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5), r.getInt(6))).toSet
    val delivered = if (!Files.exists(root.resolve("topic"))) Seq.empty[String]
      else spark.read.parquet(topic).select(get_json_object(col("value"), "$.uuid"))
        .collect().map(_.getString(0)).toSeq
    val validIds = valid.map { case (w, _) => s"e-$w" }.toSet
    val duplicated = delivered.groupBy(identity).collect { case (u, us) if us.size > 1 => u }.toSet

    (calls.get > c.failAtCall && restarted) :| "the failing sink forced a restart" &&
      (snapshot == snapshotModel) :| s"snapshot $snapshot != model $snapshotModel" &&
      (history == scd2Model) :| s"SCD2 history $history != model $scd2Model" &&
      (delivered.toSet == validIds) :| s"topic sink holds ${delivered.toSet}, valid events $validIds" &&
      duplicated.subsetOf(replayed) :| s"duplicates $duplicated outside the replayed batch $replayed"
  }
}
