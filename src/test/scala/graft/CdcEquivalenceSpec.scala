package graft

import graft.model.ChangeEvent
import graft.operators.CdcOps
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files

/** One CDC algebra for batch and stream: the events table's change
  * envelopes, landed as segments and run through the streaming
  * pipeline's snapshot and SCD2 sinks, must leave exactly the state the
  * batch queries `cdc_snapshot` and `cdc_scd2` compute from the table.
  * Both sides share the envelope schema, the valid-action filter, the
  * change-row projection, the latest-per-key merge and the SCD2
  * derivation; a rule that drifts on one side fails here. */
class CdcEquivalenceSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("stream snapshot and SCD2 history equal cdc_snapshot and cdc_scd2 row for row") {
    val root = Files.createTempDirectory("graft-equiv").toString
    val in = s"$root/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val lines = CdcOps.toEnvelope(Tables.events(spark, sf))
      .select(col("walPosition"),
        to_json(struct(ChangeEvent.schema.fieldNames.toIndexedSeq.map(col): _*)))
      .orderBy("walPosition").collect().map(_.getString(1))
    // four segments, one per trigger, newest changes first: the state is
    // merged incrementally, and by WAL position, not by arrival
    lines.grouped((lines.length + 3) / 4).toSeq.reverse.zipWithIndex.foreach { case (seg, i) =>
      TestSpark.landSegment(in, f"seg-$i%03d.json", seg.toSeq)
    }
    val (snap, scd2) = (s"$root/snapshot", s"$root/scd2")
    val q = CdcPipeline.muxFanoutIdempotent(
      CdcPipeline.validated(CdcPipeline.fileSource(spark, in)),
      Seq("snapshot" -> CdcPipeline.snapshotSink(snap, "user_id") _,
        "scd2" -> CdcPipeline.scd2Sink(scd2, "user_id") _),
      s"$root/ckpt", Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === 4)

    assert(CdcPipeline.scd2State(spark, scd2).count() === 602, "change events accepted")
    val snapshot = rows(CdcPipeline.snapshotView(spark, snap).select(col("key").as("user_id"),
      col("walPosition").as("last_wal"), col("action").as("last_action"),
      element_at(col("columns"), "props").as("props")))
    assert(snapshot.nonEmpty)
    assert(snapshot === rows(CdcOps.qSnapshot(spark, sf)
      .select("user_id", "last_wal", "last_action", "props")))

    // cdc_scd2's columns: user_id, version, action, wal_position,
    // valid_from_s, valid_to_s, is_current
    val history = rows(CdcPipeline.scd2History(spark, scd2).select(col("key").as("user_id"),
      col("version"), col("action"), col("walPosition").as("wal_position"),
      col("valid_from_s"), col("valid_to_s"), col("is_current")))
    assert(history.map(_.getString(0)).distinct.size === 15, "users with a version")
    assert(history === rows(CdcOps.qScd2(spark, sf)))
  }
}
