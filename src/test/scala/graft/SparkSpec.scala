package graft

import graft.model.ChangeEvent
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Shared local SparkSession for all specs (one JVM-wide session —
  * ScalaTest suites run sequentially in the forked test JVM), and the
  * change-event segments the streaming specs feed the pipeline. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Smallest driver-provided scale factor; tests are correctness-only. */
  val sf: String = "/root/testdata/sf0.001"

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The wire form of a change event (README.md:12-25); a null field
    * is left out. */
  def envelope(e: ChangeEvent): String = {
    val n = mapper.createObjectNode()
    Seq("host" -> e.host, "database" -> e.database, "table" -> e.table, "action" -> e.action)
      .foreach { case (k, v) => if (v != null) n.put(k, v) }
    n.put("walPosition", e.walPosition)
    if (e.timestamp != null) n.put("timestamp", e.timestamp.toInstant.toString)
    if (e.uuid != null) n.put("uuid", e.uuid)
    if (e.columns != null) {
      val c = n.putObject("columns")
      e.columns.foreach { case (k, v) => c.put(k, v) }
    }
    mapper.writeValueAsString(n)
  }

  /** Lands `lines` as the segment file `dir/name` the way a WAL shipper
    * does: written under a hidden name, which the source skips, then
    * renamed into place, replacing a segment of that name. */
  def landSegment(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Lands `events` as the change-event segment `dir/name`, one JSON
    * envelope a line (see [[TestSpark.landSegment]]). */
  def writeSegment(dir: String, name: String, events: Seq[ChangeEvent]): Unit =
    TestSpark.landSegment(dir, name, events.map(TestSpark.envelope))
}
