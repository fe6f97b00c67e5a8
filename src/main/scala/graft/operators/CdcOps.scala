package graft.operators

import graft.{QueryScope, Tables}
import graft.model.ChangeEvent
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The reference's CDC dataflow surface, re-expressed as composable
  * `DataFrame => DataFrame` transforms (the Spark analog of the
  * reference's handler chain, sink/kafka/kafka.go:20-23).
  *
  * The driver's `events` table stands in for the replication stream:
  * `event_type` drives the action mapping, `props` is the JSON row
  * image, `event_id` is the WAL position (monotone), `ts` event time.
  *
  * Every transform is pure column algebra (no UDFs), so the whole CDC
  * pipeline stays inside whole-stage codegen and is embarrassingly
  * parallel — no shuffle anywhere on the envelope path at any scale.
  */
object CdcOps {

  // ---- envelope construction (P1 decode + M1 uuid; postgres.go:379-428) ----

  /** Deterministic UUID-shaped id derived from the WAL position via md5.
    * The reference assigns a random v4 at ingest (postgres.go:349); random
    * ids are nondeterministic across replays/retries, so the engine pins
    * them to content — same idempotence the reference gets by assigning
    * before the fan-out, but replay-stable (SURVEY.md §7 "hard parts"). */
  def deterministicUuid(c: Column): Column = {
    val h = md5(c.cast("string").cast("binary"))
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  /** events row → change envelope in [[ChangeEvent.schema]], the one
    * envelope shape the streaming pipeline reads too. Action mapping:
    * signup→insert, purchase→update, error→delete; click/view carry no
    * row change and map to NULL (dropped by the action filter, mirroring
    * Begin/Commit markers being dropped, postgres.go:327-330). */
  def toEnvelope(events: DataFrame): DataFrame = {
    val action = when(col("event_type") === "signup", ChangeEvent.Insert)
      .when(col("event_type") === "purchase", ChangeEvent.Update)
      .when(col("event_type") === "error", ChangeEvent.Delete)
      .otherwise(lit(null))
    events.select(
      lit("db1").as("host"),
      lit("graft").as("database"),
      lit("events").as("table"),
      action.as("action"),
      col("event_id").as("walPosition"),
      col("ts").as("timestamp"),
      deterministicUuid(col("event_id")).as("uuid"),
      map(
        lit("event_id"), col("event_id").cast("string"),
        lit("user_id"), col("user_id").cast("string"),
        lit("event_type"), col("event_type"),
        lit("props"), col("props")).as("columns"))
  }

  // ---- the CDC rules: one definition each, shared by the batch queries
  // below and the streaming pipeline (streaming.CdcPipeline) ----

  /** The valid-action predicate (F2); null for a null action. */
  private[graft] def validAction: Column = col("action").isin(ChangeEvent.ValidActions: _*)

  /** F2: keep only valid change actions; Begin/Commit-like rows drop. */
  def filterActions(envelopes: DataFrame): DataFrame = envelopes.filter(validAction)

  /** R2: default Kafka message key `host:database:table:action` — drives
    * the sink's hash partitioning, same as the reference's balancer. */
  def withKey(envelopes: DataFrame): DataFrame =
    envelopes.withColumn("key",
      concat_ws(":", col("host"), col("database"), col("table"), col("action")))

  /** The change rows of an envelope frame: the row key `keyField` of the
    * row image as `key`, the WAL position and the action, then the
    * caller's `payload` columns. The input of [[latestPerKey]] and
    * [[scd2Versions]]. */
  def changes(envelopes: DataFrame, keyField: String, payload: Column*): DataFrame =
    envelopes.select(Seq(element_at(col("columns"), keyField).as("key"),
      col("walPosition"), col("action")) ++ payload: _*)

  /** Last write wins: per key of `changes`, the highest WAL position and
    * the action and `payload` columns of the change at it, plus the
    * caller's `extra` aggregates. A delete stays as the key's latest
    * change; callers filter it.
    *
    * Scale shape: `groupBy(key).agg(max_by(_, wal))` — ONE shuffle with
    * map-side partial aggregation (each map task pre-reduces to one
    * candidate row per key), which is strictly better at 100 TB than
    * the window row_number() formulation (full sort of every version
    * within each key, no partial agg). */
  def latestPerKey(changes: DataFrame, payload: Seq[String], extra: Column*): DataFrame =
    changes.groupBy(col("key")).agg(max(col("walPosition")).as("walPosition"),
      ("action" +: payload).map(c => max_by(col(c), col("walPosition")).as(c)) ++ extra: _*)

  /** SCD2 versions of `changes` (which carry `tus`, the change time in
    * µs): per key in WAL order, `version` numbers every change and its
    * validity window runs from its own time to the next change's
    * (`valid_from_s`, `valid_to_s`, epoch seconds; while current,
    * `valid_to_s` is NULL and `is_current` 1). Deletes close their
    * predecessor's window but are not versions themselves; a key whose
    * last change is a delete has no current row.
    *
    * Scale shape: one shuffle on the row key, one ordered window walk
    * per key (version numbering + lead share the same window frame),
    * no joins. */
  def scd2Versions(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("walPosition"))
    changes
      .withColumn("next_tus", lead(col("tus"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .filter(col("action") =!= ChangeEvent.Delete)
      .withColumn("valid_from_s", expr("tus DIV 1000000"))
      .withColumn("valid_to_s", expr("next_tus DIV 1000000"))
      .withColumn("is_current", col("next_tus").isNull.cast("int"))
  }

  // ---- F1 validity on the raw feed (kafka.go:180-192) ----

  /** Evaluate an expensive expression exactly ONCE per row when both a
    * pushed-down filter and the output projection reference it. The
    * optimizer substitutes deterministic aliases while pushing
    * predicates through projections, so `withColumn(c).filter(on c)`
    * ends up evaluating `c` twice — once below the pushed filter, once
    * in the projection (the guide §4.4 duplication, for built-in
    * expressions instead of UDFs). Guarding the expression behind an
    * always-true non-deterministic condition
    * (`monotonically_increasing_id() >= 0`; the ids are never
    * negative) pins it to one projection: non-deterministic aliases
    * may not be duplicated or substituted into pushed predicates.
    * Values are unchanged — the branch is never null. PlanAuditSpec
    * pins one parse per plan for `cdc_typed_view` and
    * `cdc_validity_filter`.
    * Use ONLY on expensive parses (JSON decode); it also blocks
    * legitimate pushdown of other predicates past the projection. */
  private def evalOnce(c: Column): Column =
    when(monotonically_increasing_id() >= 0, c)

  /** F1: validity filter on the raw feed — row image must be parseable
    * JSON with the expected key, and the event must carry a uuid.
    * Corrupt rows are dropped, not fatal (kafka.go:181-192). */
  def filterValid(events: DataFrame): DataFrame = {
    // one JSON parse per row (see evalOnce): the raw-key column is
    // shared by the validity predicate and the typed output cast
    events
      .withColumn("uuid", deterministicUuid(col("event_id")))
      .withColumn("k_raw", evalOnce(get_json_object(col("props"), "$.k")))
      .filter(col("k_raw").isNotNull && col("uuid").isNotNull &&
        (col("uuid") =!= ""))
      .withColumn("k", col("k_raw").cast("int"))
      .drop("k_raw")
  }

  // ---- routing (R1 kafka.go:169-215) ----

  /** Table→topic routing with optional fallback. Unmapped tables route to
    * the fallback topic; with no fallback they are dropped (the reference
    * counts them as noTopic). Pure map lookup — broadcast-free, shuffle-free:
    * the routing table is a literal CASE baked into codegen. */
  def route(df: DataFrame, tableCol: Column, mapping: Map[String, String],
            fallback: Option[String]): DataFrame = {
    val mapped = mapping.foldLeft(lit(null).cast("string")) {
      case (acc, (t, topic)) => when(tableCol === t, topic).otherwise(acc)
    }
    val topic = fallback.map(f => coalesce(mapped, lit(f))).getOrElse(mapped)
    df.withColumn("topic", topic).filter(col("topic").isNotNull)
  }

  /** H1 passthrough handler: envelope → JSON wire bytes (value column),
    * ready for a Kafka sink (`format("kafka")` consumes key/value/topic). */
  def serialize(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumn("value", to_json(struct(cols.map(col): _*)))

  // ================= driver-contract queries + oracles =================

  private val routing = Map("signup" -> "topic.users", "purchase" -> "topic.txn")

  /** The change envelopes of the events table: valid actions only. */
  private def envelopes(spark: SparkSession, sfDir: String): DataFrame =
    filterActions(toEnvelope(Tables.events(spark, sfDir)))

  /** Change rows of [[envelopes]] keyed by `user_id`. */
  private def userChanges(spark: SparkSession, sfDir: String, payload: Column*): DataFrame =
    changes(envelopes(spark, sfDir), "user_id", payload: _*)

  /** Envelope projection (P1+M1+R2): scalar view of the envelope for the
    * oracle (map column stays engine-side; maps don't hash-compare). */
  def qEnvelope(spark: SparkSession, sfDir: String): DataFrame =
    withKey(envelopes(spark, sfDir)).select(
      col("walPosition").as("wal_position"), col("host"), col("database"),
      col("table").as("tbl"), col("action"), col("uuid"), col("key"),
      element_at(col("columns"), "event_type").as("col_event_type"),
      element_at(col("columns"), "user_id").as("col_user_id"))

  val qEnvelopeOracle: String =
    """WITH env AS (
      |  SELECT event_id AS wal_position, 'db1' AS host, 'graft' AS database,
      |    'events' AS tbl,
      |    CASE event_type WHEN 'signup' THEN 'insert'
      |         WHEN 'purchase' THEN 'update'
      |         WHEN 'error' THEN 'delete' END AS action,
      |    md5(CAST(event_id AS VARCHAR)) AS h,
      |    event_type AS col_event_type, CAST(user_id AS VARCHAR) AS col_user_id
      |  FROM events)
      |SELECT wal_position, host, database, tbl, action,
      |  substr(h,1,8)||'-'||substr(h,9,4)||'-'||substr(h,13,4)||'-'||substr(h,17,4)||'-'||substr(h,21,12) AS uuid,
      |  host||':'||database||':'||tbl||':'||action AS key,
      |  col_event_type, col_user_id
      |FROM env WHERE action IS NOT NULL
      |ORDER BY wal_position""".stripMargin

  /** F1 validity filter: parseable JSON row image with key `k` + uuid. */
  def qValidity(spark: SparkSession, sfDir: String): DataFrame =
    filterValid(Tables.events(spark, sfDir))
      .select(col("event_id"), col("k"))

  val qValidityOracle: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events
      |WHERE json_extract_string(props, '$.k') IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** R1 routing, fallback configured: every event gets a topic. */
  def qRouteFallback(spark: SparkSession, sfDir: String): DataFrame =
    route(Tables.events(spark, sfDir), col("event_type"), routing,
      fallback = Some("topic.default"))
      .select(col("event_id"), col("event_type"), col("topic"))

  val qRouteFallbackOracle: String =
    """SELECT event_id, event_type,
      |  CASE event_type WHEN 'signup' THEN 'topic.users'
      |       WHEN 'purchase' THEN 'topic.txn'
      |       ELSE 'topic.default' END AS topic
      |FROM events ORDER BY event_id""".stripMargin

  /** R1 routing, no fallback: unmapped events are dropped (noTopic path). */
  def qRouteDrop(spark: SparkSession, sfDir: String): DataFrame =
    route(Tables.events(spark, sfDir), col("event_type"), routing, None)
      .select(col("event_id"), col("topic"))

  val qRouteDropOracle: String =
    """SELECT event_id,
      |  CASE event_type WHEN 'signup' THEN 'topic.users'
      |       WHEN 'purchase' THEN 'topic.txn' END AS topic
      |FROM events
      |WHERE event_type IN ('signup','purchase')
      |ORDER BY event_id""".stripMargin

  /** H1 serialization: envelope → compact JSON wire value. */
  def qSerialize(spark: SparkSession, sfDir: String): DataFrame = {
    val env = envelopes(spark, sfDir).select(col("host"), col("database"),
      col("table").as("tbl"), col("action"), col("walPosition").as("wal_position"), col("uuid"))
    serialize(env, env.columns.toIndexedSeq).select(col("wal_position"), col("value"))
  }

  val qSerializeOracle: String =
    """WITH env AS (
      |  SELECT event_id AS wal_position,
      |    CASE event_type WHEN 'signup' THEN 'insert'
      |         WHEN 'purchase' THEN 'update'
      |         WHEN 'error' THEN 'delete' END AS action,
      |    md5(CAST(event_id AS VARCHAR)) AS h
      |  FROM events)
      |SELECT wal_position,
      |  to_json(struct_pack(
      |    host := 'db1', database := 'graft', tbl := 'events',
      |    action := action, wal_position := wal_position,
      |    uuid := substr(h,1,8)||'-'||substr(h,9,4)||'-'||substr(h,13,4)||'-'||substr(h,17,4)||'-'||substr(h,21,12)
      |  ))::VARCHAR AS value
      |FROM env WHERE action IS NOT NULL
      |ORDER BY wal_position""".stripMargin

  /** Stateful dedup by uuid: replayed feed (union with itself — the
    * at-least-once duplicate case, README.md:58) collapses back to one
    * row per uuid. Batch analog of the streaming dropDuplicates. */
  def qDedupUuid(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("uuid", deterministicUuid(col("event_id")))
    ev.unionAll(ev)
      .dropDuplicates("uuid")
      .select(col("event_id"), col("uuid"))
  }

  val qDedupUuidOracle: String =
    """WITH replayed AS (
      |  SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS h FROM events
      |  UNION ALL
      |  SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS h FROM events)
      |SELECT DISTINCT event_id,
      |  substr(h,1,8)||'-'||substr(h,9,4)||'-'||substr(h,13,4)||'-'||substr(h,17,4)||'-'||substr(h,21,12) AS uuid
      |FROM replayed ORDER BY event_id""".stripMargin

  /** F1 dead-letter variant: instead of silently dropping invalid rows
    * (the reference logs-and-skips, kafka.go:181-192), tag every row
    * valid→its route / invalid→the DLQ topic with a reason. One pass,
    * no shuffle; at 100 TB the DLQ branch is the difference between
    * debuggable ingestion and silent data loss. */
  def qDeadLetter(spark: SparkSession, sfDir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k")
    val routed = route(Tables.events(spark, sfDir), col("event_type"),
      routing, fallback = Some("topic.default"))
    routed
      .withColumn("is_valid", k.isNotNull)
      .withColumn("dest",
        when(col("is_valid"), col("topic")).otherwise(lit("topic.dlq")))
      .withColumn("reason",
        when(col("is_valid"), lit(null).cast("string"))
          .otherwise(lit("missing_row_image_key")))
      .groupBy(col("dest"), col("reason"))
      .agg(count(lit(1)).as("n"))
  }

  val qDeadLetterOracle: String =
    """WITH t AS (
      |  SELECT CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
      |    THEN CASE event_type WHEN 'signup' THEN 'topic.users'
      |         WHEN 'purchase' THEN 'topic.txn' ELSE 'topic.default' END
      |    ELSE 'topic.dlq' END AS dest,
      |  CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN NULL
      |       ELSE 'missing_row_image_key' END AS reason
      |  FROM events)
      |SELECT dest, reason, COUNT(*) AS n FROM t
      |GROUP BY dest, reason ORDER BY dest, reason""".stripMargin

  /** P2 schema-registry analog: a typed per-table view. The reference
    * caches Relation metadata to decode tuples (postgres.go:301-305);
    * Spark's equivalent is a per-table StructType applied with
    * `from_json` — the dynamic row image stays canonical, the typed
    * view is derived on demand and fully codegen'd. */
  def qTypedView(spark: SparkSession, sfDir: String): DataFrame = {
    val propsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    // one from_json per row (see evalOnce): without the guard the
    // pushed-down null filter re-parsed props below the projection —
    // two full JSON decodes of every row (plans/r17/cdc_typed_view)
    Tables.events(spark, sfDir)
      .withColumn("p", evalOnce(from_json(col("props"), propsSchema)))
      .select(col("event_id"), col("p.k").as("k"), col("p.tag").as("tag"))
      .filter(col("k").isNotNull)
  }

  val qTypedViewOracle: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |  json_extract_string(props, '$.tag') AS tag
      |FROM events
      |WHERE json_extract_string(props, '$.k') IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** B1 batching analog: 5-minute tumbling windows per action — the
    * batch-mode equivalent of the mux's count/time flush, expressed as
    * an event-time window (what the streaming pipeline uses). */
  def qBatchWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = col("value").cast(DecimalType(18, 2))
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec).cast(DoubleType).as("sum_value"))
      .select(unix_seconds(col("w.start")).as("window_start_s"),
        col("event_type"), col("n"), col("sum_value"))
  }

  val qBatchWindowsOracle: String =
    """SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start_s,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_s, event_type""".stripMargin

  /** Snapshot materialization — the canonical CONSUMER of the change
    * stream the reference produces: apply insert/update/delete per key
    * in WAL order and emit the current-state table (what a downstream
    * warehouse does with the reference's Kafka topics). Last-write-wins
    * by WAL position ([[latestPerKey]]); a key whose latest change is a
    * delete has no row. */
  def qSnapshot(spark: SparkSession, sfDir: String): DataFrame =
    latestPerKey(userChanges(spark, sfDir, element_at(col("columns"), "props").as("props")),
        Seq("props"), count(lit(1)).as("n_changes"))
      .select(col("key").as("user_id"), col("walPosition").as("last_wal"),
        col("action").as("last_action"), col("props"), col("n_changes"))
      .filter(col("last_action") =!= ChangeEvent.Delete)

  val qSnapshotOracle: String =
    """WITH env AS (
      |  SELECT CAST(user_id AS VARCHAR) AS user_id, event_id AS wal, props,
      |    CASE event_type WHEN 'signup' THEN 'insert'
      |         WHEN 'purchase' THEN 'update'
      |         WHEN 'error' THEN 'delete' END AS action
      |  FROM events
      |  WHERE event_type IN ('signup', 'purchase', 'error'))
      |SELECT user_id, MAX(wal) AS last_wal,
      |  arg_max(action, wal) AS last_action,
      |  arg_max(props, wal) AS props,
      |  COUNT(*) AS n_changes
      |FROM env GROUP BY 1
      |HAVING arg_max(action, wal) <> 'delete'
      |ORDER BY user_id""".stripMargin

  /** SCD2 dimension build — the OTHER canonical consumer of a change
    * stream: instead of collapsing to current state (qSnapshot), keep
    * every version with its validity interval [valid_from, valid_to)
    * — `valid_to` = the NEXT change's time (lead over WAL order),
    * NULL while current. Deletes close the prior version's interval
    * but are not themselves versions; a key whose last change is a
    * delete has no current row. This is how a warehouse keeps
    * point-in-time history from the reference's topics
    * ([[scd2Versions]]). Timestamps surface as epoch seconds (the
    * ns-parquet / µs-Spark parity rule). */
  def qScd2(spark: SparkSession, sfDir: String): DataFrame =
    scd2Versions(userChanges(spark, sfDir, unix_micros(col("timestamp")).as("tus")))
      .select(col("key").as("user_id"), col("version"), col("action"),
        col("walPosition").as("wal_position"), col("valid_from_s"), col("valid_to_s"),
        col("is_current"))

  val qScd2Oracle: String =
    """WITH env AS (
      |  SELECT CAST(user_id AS VARCHAR) AS user_id, event_id AS wal,
      |    epoch_us(ts) AS tus,
      |    CASE event_type WHEN 'signup' THEN 'insert'
      |         WHEN 'purchase' THEN 'update'
      |         WHEN 'error' THEN 'delete' END AS action
      |  FROM events
      |  WHERE event_type IN ('signup', 'purchase', 'error')),
      |v AS (
      |  SELECT user_id, action, wal AS wal_position, tus,
      |    lead(tus) OVER w AS next_tus,
      |    row_number() OVER w AS version
      |  FROM env WINDOW w AS (PARTITION BY user_id ORDER BY wal))
      |SELECT user_id, CAST(version AS INT) AS version, action, wal_position,
      |  CAST(tus // 1000000 AS BIGINT) AS valid_from_s,
      |  CAST(next_tus // 1000000 AS BIGINT) AS valid_to_s,
      |  CAST(next_tus IS NULL AS INT) AS is_current
      |FROM v WHERE action <> 'delete'
      |ORDER BY user_id, version""".stripMargin

  /** SNAPSHOT RECONCILIATION → CDC derivation: diff two table
    * snapshots into the insert/update/delete stream that connects
    * them — what a pipeline runs to BACKFILL a change stream when no
    * WAL was captured (the snapshot-vs-resnapshot reconcile of every
    * CDC deployment; the inverse of [[qSnapshot]], which APPLIES a
    * stream to get a snapshot). Reference analogue: the initial
    * table COPY the source performs before streaming
    * (source/postgres/postgres.go — snapshot then WAL).
    *
    * The two states are derived deterministically from `documents`
    * so the oracle rebuilds them bit-for-bit: the base snapshot is
    * missing every doc_id ≡ 3 (mod 11) (→ inserts), carries a stale
    * half-length text for doc_id ≡ 5 (mod 13) (→ updates), and the
    * next snapshot dropped doc_id ≡ 2 (mod 17) (→ deletes).
    *
    * Scale shape: each side reduces to (key, md5 fingerprint)
    * MAP-SIDE — the join ships 16-byte digests, never the payload —
    * then ONE full-outer hash join on the key classifies every row;
    * unchanged keys (the overwhelming mass of a daily diff) drop in
    * the post-join filter. Column pruning keeps the scans at
    * (doc_id, text, n_chars); lang/source never leave the parquet
    * (pinned in CdcOpsSpec). */
  def qSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), md5(
        when(col("doc_id") % 13 === 5,
          expr("substr(text, 1, CAST(n_chars DIV 2 AS INT))"))
          .otherwise(col("text")).cast("binary")).as("base_fp"))
    val next = docs.filter(col("doc_id") % 17 =!= 2)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("next_fp"))
    base.join(next, Seq("doc_id"), "full_outer")
      .withColumn("op",
        when(col("base_fp").isNull, "insert")
          .when(col("next_fp").isNull, "delete")
          .when(col("base_fp") =!= col("next_fp"), "update"))
      .filter(col("op").isNotNull)
      .select(col("doc_id"), col("op"),
        coalesce(col("base_fp"), lit("")).as("base_fp"),
        coalesce(col("next_fp"), lit("")).as("next_fp"))
  }

  val qSnapshotDiffOracle: String =
    """WITH base AS (
      |  SELECT doc_id, md5(CASE WHEN doc_id % 13 = 5
      |      THEN substr(text, 1, CAST(n_chars // 2 AS INT))
      |      ELSE text END) AS base_fp
      |  FROM documents WHERE doc_id % 11 != 3),
      |nxt AS (
      |  SELECT doc_id, md5(text) AS next_fp
      |  FROM documents WHERE doc_id % 17 != 2),
      |j AS (
      |  SELECT COALESCE(b.doc_id, n.doc_id) AS doc_id, b.base_fp, n.next_fp
      |  FROM base b FULL OUTER JOIN nxt n ON b.doc_id = n.doc_id)
      |SELECT doc_id,
      |  CASE WHEN base_fp IS NULL THEN 'insert'
      |       WHEN next_fp IS NULL THEN 'delete'
      |       ELSE 'update' END AS op,
      |  COALESCE(base_fp, '') AS base_fp,
      |  COALESCE(next_fp, '') AS next_fp
      |FROM j
      |WHERE base_fp IS NULL OR next_fp IS NULL OR base_fp != next_fp
      |ORDER BY doc_id""".stripMargin

  /** MERGE / upsert apply — the INCREMENTAL consumer of the change
    * stream: apply one change BATCH onto an existing BASE state and
    * emit the new state, without ever replaying the full log (the
    * `MERGE INTO` a warehouse runs per micro-batch on the reference's
    * topics; completes the triangle with [[qSnapshot]], which replays
    * everything, and [[qSnapshotDiff]], which derives the stream).
    *
    * The WAL splits at the midpoint W = max(wal)/2 (a driver-side
    * scalar off a column-pruned scan): base = per-key state of the
    * prefix (tombstones dropped, as a materialized table stores no
    * deletes), batch = the suffix collapsed to latest-per-key WITH
    * delete markers kept. Merge semantics: a batch delete removes the
    * key; any other batch row upserts (an update on a key the base
    * never had — e.g. deleted in the prefix — inserts, the standard
    * `WHEN NOT MATCHED` arm); untouched base rows pass through. Each
    * row reports which arm fired (`op` ∈ insert/update/keep).
    *
    * The algebraic gate: merge(state(prefix), batch(suffix)) must
    * equal state(full log) — the oracle computes the split-and-merge
    * dataflow in DuckDB and the spec asserts equality against
    * [[qSnapshot]] row-for-row, so the merge law is checked from two
    * independent directions.
    *
    * Scale shape: both sides collapse with ONE map-side-combining
    * groupBy each (the batch's is tiny), then ONE full-outer hash
    * join on the key. At 100 TB the base is a stored table
    * partitioned/bucketed on the key: the join co-locates without a
    * base shuffle, and with partition-level change pruning only the
    * partitions the batch touches rewrite — the plan here is that
    * shape minus the storage layout. */
  def qApplyMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = userChanges(spark, sfDir, element_at(col("columns"), "props").as("props"))
    val maxWal = Tables.events(spark, sfDir)
      .agg(max(col("event_id"))).head.getLong(0)
    val w = maxWal / 2
    def collapsed(df: DataFrame, side: String) = latestPerKey(df, Seq("props"))
      .select(col("key").as("user_id"), col("walPosition").as(s"${side}_wal"),
        col("action").as(s"${side}_act"), col("props").as(s"${side}_props"))
    val base = collapsed(rows.filter(col("walPosition") <= w), "b")
      .filter(col("b_act") =!= ChangeEvent.Delete)
    mergeStates(base, collapsed(rows.filter(col("walPosition") > w), "c"))
  }

  /** The merge arm proper: base (b_wal/b_act/b_props, no tombstones)
    * ⟗ batch (c_wal/c_act/c_props, deletes kept as markers) on
    * user_id; batch deletes remove, other batch rows upsert, untouched
    * base rows pass through. Exposed so the three arms are unit-
    * testable on synthetic states (the fixture's dense stream never
    * produces a `keep`). */
  private[graft] def mergeStates(base: DataFrame, batch: DataFrame): DataFrame =
    base.join(batch, Seq("user_id"), "full_outer")
      .filter(coalesce(col("c_act"), col("b_act")) =!= ChangeEvent.Delete)
      .select(col("user_id"),
        coalesce(col("c_wal"), col("b_wal")).as("last_wal"),
        coalesce(col("c_act"), col("b_act")).as("last_action"),
        coalesce(col("c_props"), col("b_props")).as("props"),
        when(col("c_act").isNull, "keep")
          .when(col("b_act").isNull, "insert")
          .otherwise("update").as("op"))

  /** The same split-collapse-merge dataflow in DuckDB (W as a scalar
    * subquery); equality with [[qSnapshotOracle]]'s state is what the
    * spec checks on the Spark side. */
  val qApplyMergeOracle: String =
    """WITH env AS (
      |  SELECT CAST(user_id AS VARCHAR) AS user_id, event_id AS wal, props,
      |    CASE event_type WHEN 'signup' THEN 'insert'
      |         WHEN 'purchase' THEN 'update'
      |         WHEN 'error' THEN 'delete' END AS action
      |  FROM events
      |  WHERE event_type IN ('signup', 'purchase', 'error')),
      |w AS (SELECT MAX(event_id) // 2 AS w FROM events),
      |base AS (
      |  SELECT user_id, MAX(wal) AS b_wal, arg_max(action, wal) AS b_act,
      |    arg_max(props, wal) AS b_props
      |  FROM env WHERE wal <= (SELECT w FROM w) GROUP BY 1
      |  HAVING arg_max(action, wal) <> 'delete'),
      |batch AS (
      |  SELECT user_id, MAX(wal) AS c_wal, arg_max(action, wal) AS c_act,
      |    arg_max(props, wal) AS c_props
      |  FROM env WHERE wal > (SELECT w FROM w) GROUP BY 1)
      |SELECT COALESCE(b.user_id, c.user_id) AS user_id,
      |  COALESCE(c_wal, b_wal) AS last_wal,
      |  COALESCE(c_act, b_act) AS last_action,
      |  COALESCE(c_props, b_props) AS props,
      |  CASE WHEN c_act IS NULL THEN 'keep'
      |       WHEN b_act IS NULL THEN 'insert'
      |       ELSE 'update' END AS op
      |FROM base b FULL OUTER JOIN batch c ON b.user_id = c.user_id
      |WHERE COALESCE(c_act, b_act) <> 'delete'
      |ORDER BY user_id""".stripMargin

  /** WAL CONTINUITY AUDIT — the replication QA check every CDC
    * deployment runs after a failover or resnapshot: scan the change
    * stream's WAL positions in order and report every gap, i.e. spans
    * the consumer never saw. Position gaps are either benign (rows
    * filtered as non-changes — here the dropped click/view markers,
    * exactly like Begin/Commit records in a real WAL) or data loss;
    * the audit quantifies them so the operator can reconcile against
    * the source's retained-WAL accounting. Emits each gap with its
    * bounds, width, and the running total of missing positions.
    *
    * Scale shape (r9 — own-sweep fix): the DEFINITION is one ordered
    * walk over the stream, but the r8 plan really WAS one reducer (an
    * unpartitioned lag over every position, then an unpartitioned
    * running sum — the exact shape the rank-query rewrites removed,
    * caught by the same plan sweep). Adjacency parallelizes: range-
    * shard on position, per-shard lag finds every intra-shard gap in
    * parallel, and the only adjacencies a shard cannot see — its
    * boundary to the previous shard — come from the shard-count-sized
    * (min, max) relation. The running total is then the same parallel
    * prefix-sum as the skyline sweep: per-shard partials + broadcast
    * shard offsets. Answer-identical (the oracle keeps the naive
    * global walk); every remaining unpartitioned window reads a
    * ≤shard-count relation. */
  def qWalGaps(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val local = envelopes(spark, sfDir)
      .select(col("walPosition"))
      .repartitionByRange(parts, col("walPosition"))
      .withColumn("__shard", spark_partition_id())
      .transform(scope.persist)
    val wS = Window.partitionBy(col("__shard")).orderBy(col("walPosition"))
    val intra = local
      .withColumn("prev_wal", lag(col("walPosition"), 1).over(wS))
      .filter(col("prev_wal").isNotNull)
      .select(col("__shard"), col("walPosition"), col("prev_wal"))
    val bounds = local.groupBy(col("__shard"))
      .agg(min(col("walPosition")).as("mn"), max(col("walPosition")).as("mx"))
    // consecutive non-empty shards pair up by shard order (empty range
    // shards simply have no bounds row)
    val cross = bounds
      .withColumn("prev_mx", lag(col("mx"), 1).over(
        Window.orderBy(col("__shard"))))
      .filter(col("prev_mx").isNotNull)
      .select(col("__shard"), col("mn").as("walPosition"),
        col("prev_mx").as("prev_wal"))
    // shard-major ordering holds: a boundary gap's gap_from exceeds
    // every gap_from of the previous shard and precedes this shard's
    val gaps = intra.unionByName(cross)
      .filter(col("walPosition") - col("prev_wal") > 1)
      .select(col("__shard"), (col("prev_wal") + 1).as("gap_from"),
        (col("walPosition") - 1).as("gap_to"),
        (col("walPosition") - col("prev_wal") - 1).as("missing"))
      .transform(scope.persist)
    val offsets = gaps.groupBy(col("__shard")).agg(sum(col("missing")).as("__m"))
      .withColumn("__off", coalesce(sum(col("__m")).over(
        Window.orderBy(col("__shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__shard"), col("__off"))
    gaps
      .withColumn("__run", sum(col("missing")).over(
        Window.partitionBy(col("__shard")).orderBy(col("gap_from"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), Seq("__shard"))
      .select(col("gap_from"), col("gap_to"), col("missing"),
        (col("__off") + col("__run")).as("cum_missing"))
  }

  val qWalGapsOracle: String =
    """WITH env AS (
      |  SELECT event_id AS wal FROM events
      |  WHERE event_type IN ('signup', 'purchase', 'error')),
      |g AS (
      |  SELECT wal, lag(wal) OVER (ORDER BY wal) AS prev_wal FROM env),
      |gaps AS (
      |  SELECT prev_wal + 1 AS gap_from, wal - 1 AS gap_to,
      |    wal - prev_wal - 1 AS missing
      |  FROM g WHERE prev_wal IS NOT NULL AND wal - prev_wal > 1)
      |SELECT gap_from, gap_to, CAST(missing AS BIGINT) AS missing,
      |  CAST(SUM(missing) OVER (ORDER BY gap_from
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_missing
      |FROM gaps ORDER BY gap_from""".stripMargin

  /** All CDC queries + oracles, for SparkEntry registration. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_wal_gaps" -> (qWalGaps _),
    "cdc_apply_merge" -> (qApplyMerge _),
    "cdc_snapshot_diff" -> (qSnapshotDiff _),
    "cdc_envelope" -> (qEnvelope _),
    "cdc_validity_filter" -> (qValidity _),
    "cdc_route_fallback" -> (qRouteFallback _),
    "cdc_route_drop" -> (qRouteDrop _),
    "cdc_serialize" -> (qSerialize _),
    "cdc_dedup_uuid" -> (qDedupUuid _),
    "cdc_batch_windows" -> (qBatchWindows _),
    "cdc_typed_view" -> (qTypedView _),
    "cdc_dead_letter" -> (qDeadLetter _),
    "cdc_snapshot" -> (qSnapshot _),
    "cdc_scd2" -> (qScd2 _))

  val oracles: Map[String, String] = Map(
    "cdc_wal_gaps" -> qWalGapsOracle,
    "cdc_apply_merge" -> qApplyMergeOracle,
    "cdc_snapshot_diff" -> qSnapshotDiffOracle,
    "cdc_envelope" -> qEnvelopeOracle,
    "cdc_validity_filter" -> qValidityOracle,
    "cdc_route_fallback" -> qRouteFallbackOracle,
    "cdc_route_drop" -> qRouteDropOracle,
    "cdc_serialize" -> qSerializeOracle,
    "cdc_dedup_uuid" -> qDedupUuidOracle,
    "cdc_batch_windows" -> qBatchWindowsOracle,
    "cdc_typed_view" -> qTypedViewOracle,
    "cdc_dead_letter" -> qDeadLetterOracle,
    "cdc_snapshot" -> qSnapshotOracle,
    "cdc_scd2" -> qScd2Oracle)
}
