package graft.model

import org.apache.spark.sql.types._

/** The engine's one fundamental record type: a change-data-capture event
  * envelope, re-expressed for Spark.
  *
  * Mirrors the reference's `Event` struct (reference: event/event.go:24-34):
  * origin coordinates (host/database/table), an action enum
  * (insert|update|delete, event/event.go:8-21), a monotone WAL position,
  * processing timestamp, per-event UUID assigned at ingest
  * (source/postgres/postgres.go:349-350), and a dynamic row image.
  *
  * The row image is `Map[String,String]`: the reference's
  * `map[string]interface{}` degrades to JSON-typed values on its Kafka hop
  * anyway (source/kafka/kafka.go:180), so a string map is the lossless
  * canonical form; typed per-table views are derived with `from_json` +
  * a per-table schema, never stored.
  */
case class ChangeEvent(
    host: String,
    database: String,
    table: String,
    action: String,
    walPosition: Long,
    timestamp: java.sql.Timestamp,
    uuid: String,
    columns: Map[String, String])

object ChangeEvent {
  val Insert = "insert"
  val Update = "update"
  val Delete = "delete"
  val ValidActions: Seq[String] = Seq(Insert, Update, Delete)

  /** Envelope schema of the change-event source (README.md:12-25 wire
    * shape, lower_snake field names on the Spark side). Every field is
    * nullable: the source reads a missing or unparseable value as null
    * (`sources.CdcFileSource`), and a non-nullable field would let the
    * optimizer fold `CdcPipeline.observed`'s null checks to false. */
  val schema: StructType = StructType(Seq(
    StructField("host", StringType),
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("action", StringType),
    StructField("walPosition", LongType),
    StructField("timestamp", TimestampType),
    StructField("uuid", StringType),
    StructField("columns", MapType(StringType, StringType))))
}
