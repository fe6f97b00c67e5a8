package graft

import graft.model.ChangeEvent
import graft.streaming.StatefulOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Specs for session windows, stream-stream joins, and
  * mapGroupsWithState running counters. */
class StatefulOpsSpec extends SparkSpec {

  private val T0 = 1700000000000L
  private def ev(wal: Long, action: String = "insert", table: String = "users",
                 offsetSec: Long = 0, id: String = "1"): ChangeEvent =
    ChangeEvent("h", "db", table, action, wal,
      new Timestamp(T0 + offsetSec * 1000), s"u-$wal", Map("id" -> id))

  test("session windows merge events within the gap, split across it") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StatefulOps.sessionCounts(in.toDF(), gap = "1 minute")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("complete").start()
    try {
      // 3 events 10s apart (one session), then one 10 min later
      in.addData(ev(1), ev(2, offsetSec = 10), ev(3, offsetSec = 20),
        ev(4, offsetSec = 600))
      q.processAllAvailable()
      val got = spark.table("sessions_out").orderBy("session_start").collect()
      assert(got.length === 2)
      assert(got(0).getAs[Long]("n") === 3)
      assert(got(1).getAs[Long]("n") === 1)
    } finally q.stop()
  }

  test("stream-stream join finds delete-after-insert within horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StatefulOps.shortLivedRows(in.toDF())
      .writeStream.format("memory").queryName("shortlived_out")
      .outputMode("append").start()
    try {
      in.addData(
        ev(1, "insert", id = "42"),
        ev(2, "delete", id = "42", offsetSec = 120),   // dies at 2 min → match
        ev(3, "insert", id = "77"),
        ev(4, "delete", id = "77", offsetSec = 7200))  // dies at 2 h → outside horizon
      q.processAllAvailable()
      val got = spark.table("shortlived_out").collect()
      assert(got.length === 1)
      assert(got(0).getAs[String]("row_id") === "42")
      assert(got(0).getAs[Long]("lifetime_ms") === 120000L)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits survivors after the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StatefulOps.insertOutcomes(in.toDF())
      .writeStream.format("memory").queryName("outcomes_out")
      .outputMode("append").start()
    try {
      in.addData(
        ev(1, "insert", id = "42"),
        ev(2, "delete", id = "42", offsetSec = 120), // matched pair
        ev(3, "insert", id = "77"))                  // never deleted
      q.processAllAvailable()
      // push BOTH sides' watermarks far past 77's insert + horizon (the
      // global watermark is the MIN across inputs — advancing only the
      // insert side would leave the join's watermark stuck at the last
      // delete), then give the store extra batches to evict
      in.addData(ev(4, "insert", id = "99", offsetSec = 50000),
        ev(5, "delete", id = "901", offsetSec = 50000))
      q.processAllAvailable()
      in.addData(ev(6, "insert", id = "100", offsetSec = 100000),
        ev(7, "delete", id = "902", offsetSec = 100000))
      q.processAllAvailable()
      val got = spark.table("outcomes_out").collect()
        .map(r => r.getAs[String]("row_id") ->
          Option(r.getAs[java.sql.Timestamp]("deleted_at"))).toMap
      assert(got("42").isDefined)  // matched within horizon
      assert(got.contains("77") && got("77").isEmpty) // survivor: null match
    } finally q.stop()
  }

  test("stream-static join enriches events from a broadcast dimension") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq(("users", "team-identity"), ("orders", "team-billing"))
      .toDF("table", "owner")
    val in = MemoryStream[ChangeEvent]
    val q = StatefulOps.enriched(in.toDF(), dim)
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode("append").start()
    try {
      in.addData(ev(1, table = "users"), ev(2, table = "orders"), ev(3, table = "misc"))
      q.processAllAvailable()
      val got = spark.table("enriched_out")
        .select("table", "owner").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === Map("users" -> "team-identity",
        "orders" -> "team-billing", "misc" -> null))
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits a session once its timeout passes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StatefulOps.closedSessions(in.toDS(), gapSec = 60)
      .writeStream.format("memory").queryName("closed_out")
      .outputMode("append").start()
    try {
      // session on table A: two events 10s apart
      in.addData(ev(1, table = "a"), ev(2, table = "a", offsetSec = 10))
      q.processAllAvailable()
      assert(spark.table("closed_out").count() === 0) // still open
      // an event far in the future advances the watermark past a's
      // timeout (end + 60s) → a's session closes
      in.addData(ev(3, table = "b", offsetSec = 600))
      q.processAllAvailable()
      in.addData(ev(4, table = "b", offsetSec = 1200)) // extra batch to fire timeouts
      q.processAllAvailable()
      val closed = spark.table("closed_out").collect()
      assert(closed.length === 1)
      val s = closed.head
      assert(s.getAs[String]("table") === "a")
      assert(s.getAs[Long]("n") === 2)
      assert(s.getAs[Long]("end_ms") - s.getAs[Long]("start_ms") === 10000L)
    } finally q.stop()
  }

  test("RocksDB state store: provider engages and state survives a restart") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rocksdb").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    // RocksDB-backed keyed state: on a real cluster this is what keeps
    // state off-heap and restart-safe; rocksdbjni ships with Spark 4
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[ChangeEvent]
      // memory sink cannot recover from a checkpoint; collect emitted
      // state rows via foreachBatch (which can) instead
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[StatefulOps.TableCounts]()
      def start() = StatefulOps.runningCounts(in.toDS())
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(StatefulOps.runningCountsOutputMode)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StatefulOps.TableCounts], _: Long) =>
          b.collect().foreach(seen.add)
          (): Unit
        }.start()
      val q1 = start()
      in.addData(ev(1, "insert"), ev(2, "insert"))
      q1.processAllAvailable()
      // the provider is per-query: confirm RocksDB is actually serving
      // the state operator, not the default HDFS-backed store
      val custom = q1.lastProgress.stateOperators.head.customMetrics.keySet.asScala
      assert(custom.exists(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb metrics, got: $custom")
      q1.stop()
      // restart from the checkpoint: counts continue from durable state
      val q2 = start()
      in.addData(ev(3, "update"))
      q2.processAllAvailable()
      val users = seen.asScala.filter(_.table == "users").last
      assert(users.inserts === 2) // survived the restart
      assert(users.updates === 1)
      q2.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState flags WAL regressions per table, state crosses batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[ChangeEvent]
      val q = StatefulOps.walAnomalies(in.toDS())
        .writeStream.format("memory").queryName("wal_anomalies")
        .outputMode("append").start()
      try {
        in.addData(ev(10), ev(20), ev(15, table = "orders")) // all fine per table
        q.processAllAvailable()
        assert(spark.table("wal_anomalies").count() === 0)
        // next batch: users replays wal=20 (≤ high-water 20) → anomaly;
        // orders advances fine — per-table state survived the batch gap
        in.addData(ev(20), ev(30), ev(16, table = "orders"))
        q.processAllAvailable()
        val rows = spark.table("wal_anomalies").collect()
        assert(rows.length === 1)
        assert(rows.head.getAs[String]("table") === "users")
        assert(rows.head.getAs[Long]("walPosition") === 20L)
        assert(rows.head.getAs[Long]("lastWal") === 20L)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("WAL monitor folds a batch in (timestamp, walPosition) order, not arrival order") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[ChangeEvent]
      val q = StatefulOps.walAnomalies(in.toDS())
        .writeStream.format("memory").queryName("wal_anomalies_order")
        .outputMode("append").start()
      try {
        // wal 25 was committed a second AFTER wal 30: in event-time
        // order it regresses, whatever order the shuffle delivers
        in.addData(ev(25, offsetSec = 1), ev(30, offsetSec = 0))
        q.processAllAvailable()
        val rows = spark.table("wal_anomalies_order").collect()
          .map(r => (r.getAs[String]("table"), r.getAs[Long]("walPosition"),
            r.getAs[Long]("lastWal"))).toSeq
        assert(rows === Seq(("users", 25L, 30L)))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming funnel replayed over the events fixture matches the batch stage counts") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the REAL fixture, replayed in event-time order (split into two
      // batches to cross a state boundary mid-stream)
      val fixture = Tables.events(spark, sf)
        .select(col("user_id"), col("event_type"), col("ts"))
        .orderBy(col("ts"), col("user_id"))
        .as[StatefulOps.FunnelEvent]
        .collect()
      val (first, second) = fixture.splitAt(fixture.length / 2)
      val in = MemoryStream[StatefulOps.FunnelEvent]
      val q = StatefulOps.streamingFunnel(in.toDS())
        .writeStream.format("memory").queryName("funnel_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val hits = spark.table("funnel_out").collect()
        // each (user, stage) is emitted at most once
        assert(hits.map(r => (r.getLong(0), r.getInt(1))).distinct.length === hits.length)
        val stageCounts = hits.groupBy(_.getInt(1)).view.mapValues(_.length.toLong).toMap
        val batch = graft.operators.EventOps.qFunnel(spark, sf).head()
        assert(stageCounts.getOrElse(1, 0L) === batch.getAs[Long]("u_view"))
        assert(stageCounts.getOrElse(2, 0L) === batch.getAs[Long]("u_click_after_view"))
        assert(stageCounts.getOrElse(3, 0L) === batch.getAs[Long]("u_purchase_after_click"))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming session paths replayed over the fixture equal the batch trigram relation") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val fixture = Tables.events(spark, sf)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .orderBy(col("ts"), col("event_id"))
        .as[StatefulOps.PathEvent]
        .collect()
      val (first, second) = fixture.splitAt(fixture.length / 2)
      val in = MemoryStream[StatefulOps.PathEvent]
      val q = StatefulOps.streamingEventPaths(in.toDS())
        .writeStream.format("memory").queryName("paths_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val streamed = spark.table("paths_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
        val batch = graft.operators.EventOps.sessionTrigrams(spark, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
        assert(streamed === batch,
          s"streaming trigrams diverged: ${streamed.length} vs ${batch.length}")
        assert(streamed.nonEmpty, "fixture should produce trigrams")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming attribution replayed over the events fixture matches the batch rows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val fixture = Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .orderBy(col("ts"), col("event_id"))
        .as[StatefulOps.TouchEvent]
        .collect()
      val (first, second) = fixture.splitAt(fixture.length / 2)
      val in = MemoryStream[StatefulOps.TouchEvent]
      val q = StatefulOps.streamingAttribution(in.toDS())
        .writeStream.format("memory").queryName("attr_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val streamed = spark.table("attr_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val batch = graft.operators.EventOps.qAttribution(spark, sf).collect()
          .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("touch_id"),
            r.getAs[Long]("latency_us"))).toSet
        assert(streamed === batch,
          s"streaming-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming retention replayed over the events fixture matches the batch cohort cells") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val fixture = Tables.events(spark, sf)
        .select(col("user_id"), col("ts"))
        .orderBy(col("ts"), col("user_id"))
        .as[StatefulOps.RetentionEvent]
        .collect()
      val (first, second) = fixture.splitAt(fixture.length / 2)
      val in = MemoryStream[StatefulOps.RetentionEvent]
      val q = StatefulOps.streamingRetention(in.toDS())
        .writeStream.format("memory").queryName("retention_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val streamed = spark.table("retention_out").collect()
          .groupBy(r => (r.getLong(1), r.getLong(2)))
          .view.mapValues(_.length.toLong).toMap
        val batch = graft.operators.EventOps.qRetention(spark, sf).collect()
          .map(r => (r.getAs[Long]("cohort_day"), r.getAs[Long]("week_offset")) ->
            r.getAs[Long]("n_users")).toMap
        assert(streamed === batch,
          s"cell diff: ${(streamed.toSet diff batch.toSet).take(3)} / ${(batch.toSet diff streamed.toSet).take(3)}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("late cross-batch events: no negative attribution latency, no negative retention week") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def t(sec: Long) = new Timestamp(T0 + sec * 1000)
    try {
      // attribution: click at t=100 lands first; a LATE purchase from
      // t=50 arrives in the next batch — it must not be credited to
      // the future touch (negative latency), and a purchase after the
      // touch still works
      val ain = MemoryStream[StatefulOps.TouchEvent]
      val aq = StatefulOps.streamingAttribution(ain.toDS())
        .writeStream.format("memory").queryName("late_attr_out")
        .outputMode("append").start()
      try {
        ain.addData(StatefulOps.TouchEvent(1L, 7L, "click", t(100)))
        aq.processAllAvailable()
        ain.addData(StatefulOps.TouchEvent(2L, 7L, "purchase", t(50)))
        aq.processAllAvailable()
        assert(spark.table("late_attr_out").isEmpty,
          "late purchase must not attribute to a future touch")
        ain.addData(StatefulOps.TouchEvent(3L, 7L, "purchase", t(130)))
        aq.processAllAvailable()
        val hits = spark.table("late_attr_out").collect()
        assert(hits.length === 1 && hits.head.getLong(2) === 30000000L)
      } finally aq.stop()
      // retention: first event anchors the cohort; a LATE event 8 days
      // earlier arrives next batch — dropped, no bit-63 wraparound, and
      // a later in-horizon week still credits normally
      val rin = MemoryStream[StatefulOps.RetentionEvent]
      val rq = StatefulOps.streamingRetention(rin.toDS())
        .writeStream.format("memory").queryName("late_ret_out")
        .outputMode("append").start()
      try {
        rin.addData(StatefulOps.RetentionEvent(9L, t(0)))
        rq.processAllAvailable()
        rin.addData(StatefulOps.RetentionEvent(9L, t(-8L * 86400)))
        rq.processAllAvailable()
        rin.addData(StatefulOps.RetentionEvent(9L, t(8L * 86400)))
        rq.processAllAvailable()
        val cells = spark.table("late_ret_out").collect()
          .map(r => (r.getLong(1), r.getLong(2))).sorted
        val cohort = cells.head._1
        assert(cells.toSeq === Seq((cohort, 0L), (cohort, 1L)),
          s"expected weeks 0 and 1 only, got ${cells.toSeq}")
      } finally rq.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("retention credits far-horizon weeks past the 64-week bitmask, emit-once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def at(day: Long) = StatefulOps.RetentionEvent(7L,
        new Timestamp(day * 86400000L))
      val in = MemoryStream[StatefulOps.RetentionEvent]
      val q = StatefulOps.streamingRetention(in.toDS())
        .writeStream.format("memory").queryName("retention_far_out")
        .outputMode("append").start()
      try {
        // cohort at day 10; mask edge (week 63), first far week (64),
        // a years-later week (200) — split across batches so the far
        // weeks exercise MapState persistence, with duplicates that
        // must NOT re-emit
        in.addData(at(10), at(10 + 63 * 7), at(10 + 64 * 7))
        q.processAllAvailable()
        in.addData(at(10 + 64 * 7 + 1), at(10 + 200 * 7), at(10 + 200 * 7 + 2))
        q.processAllAvailable()
        val got = spark.table("retention_far_out").collect()
          .map(r => (r.getLong(1), r.getLong(2))).sorted
        assert(got.toSeq === Seq((10L, 0L), (10L, 63L), (10L, 64L), (10L, 200L)),
          s"far-horizon cells wrong: ${got.toSeq}")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("retention state survives a checkpoint restart: a credited far week never re-emits") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-retention").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def at(day: Long) = StatefulOps.RetentionEvent(7L,
        new Timestamp(day * 86400000L))
      val in = MemoryStream[StatefulOps.RetentionEvent]
      // the memory sink cannot restart from a checkpoint; foreachBatch can
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      def start() = StatefulOps.streamingRetention(in.toDS())
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StatefulOps.RetentionHit], _: Long) =>
          b.collect().foreach(h => seen.add((h.cohort_day, h.week_offset)))
          (): Unit
        }.start()
      val q1 = start()
      in.addData(at(10), at(10 + 64 * 7))
      q1.processAllAvailable()
      q1.stop()
      assert(seen.asScala.toSeq.sorted === Seq((10L, 0L), (10L, 64L)))
      seen.clear()
      // restart from the checkpoint, then re-deliver the far-week event
      // beside a new far week: only the new week may emit
      val q2 = start()
      try {
        in.addData(at(10 + 64 * 7), at(10 + 65 * 7))
        q2.processAllAvailable()
      } finally q2.stop()
      assert(seen.asScala.toSeq === Seq((10L, 65L)),
        s"expected only the new far week after restart: ${seen.asScala.toSeq}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("state TTL bounds the funnel: an evicted user re-enters as new") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ttl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofSeconds(2))
      def ev(sec: Long, typ: String) = StatefulOps.FunnelEvent(42L, typ,
        new Timestamp(1700000000000L + sec * 1000))
      val in = MemoryStream[StatefulOps.FunnelEvent]
      val q = StatefulOps.streamingFunnel(in.toDS(), ttl = ttl)
        .writeStream.format("memory").queryName("funnel_ttl_out")
        .outputMode("append").start()
      // In processing-time mode the stateful operator requests a batch
      // after every batch (the TTL clock must advance even without
      // data), so processAllAvailable never settles — poll the sink
      // for POSITIVE signals instead.
      def hitsWithin(deadlineMs: Long, want: Int): Seq[(Int, Long)] = {
        val t0 = System.currentTimeMillis()
        var got = Seq.empty[(Int, Long)]
        while (got.length < want && System.currentTimeMillis() - t0 < deadlineMs) {
          Thread.sleep(100)
          got = spark.table("funnel_ttl_out").collect()
            .map(r => (r.getInt(1), r.getLong(0))).toSeq
        }
        got
      }
      try {
        // view and click land in ONE batch: state cannot be evicted
        // mid-batch, so the stage-2 advance shows state alive without
        // racing the TTL clock under suite load
        in.addData(ev(0, "view"), ev(1, "click"))
        assert(hitsWithin(30000, 2).map(_._1).sorted === Seq(1, 2))
        // past the TTL the user's state is evicted — bounded state —
        // and the next view re-enters the funnel at stage 1 (the
        // documented eviction semantics). Without eviction this view
        // would be suppressed and no third row could ever appear.
        // 5x the TTL (not 2.5x): wall-clock mode is inherently load-
        // sensitive, so the margin absorbs a slow CI batch; the
        // deterministic eviction story lives in the event-time tests.
        Thread.sleep(10000)
        in.addData(ev(2, "view"))
        val hits = hitsWithin(30000, 3)
        assert(hits.map(_._1).sorted === Seq(1, 1, 2),
          s"expected stage-1 re-entry after TTL eviction: $hits")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming incremental similarity verdicts equal the batch stored-index twin") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{DedupOps, SamplingOps, SimilarityOps}
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) -> ((r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // batch reference — also builds + memoizes the stored index
    val expected = SimilarityOps.qSimIncremental(spark, sf).collect().map(key).toMap
    assert(expected.values.exists(_._1 == "match") &&
      expected.values.exists(_._1 == "new"), "fixture must exercise both verdicts")
    val (dir, k) = SimilarityOps.incrementalIndexDir(spark, sf)
    val index = spark.read.parquet(dir)
    // the same arrival slice the batch twin classifies
    val arrivals = DedupOps.normedVectors(Tables.embeddings(spark, sf))
      .withColumn("hb", SamplingOps.bucket100("vec_id"))
      .filter(col("hb") >= 90)
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (first, second) = arrivals.splitAt(arrivals.length / 2)
    val in = MemoryStream[(Long, Seq[Double])]
    val stream = in.toDF().toDF("vec_id", "v")
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
    val q = StatefulOps.streamingSimIncremental(stream, index, k)
      .writeStream.format("memory").queryName("siminc_out")
      .outputMode("update").start()
    try {
      in.addData(first.toSeq)
      q.processAllAvailable()
      in.addData(second.toSeq)
      q.processAllAvailable()
      val got = spark.table("siminc_out").collect().map(key).toMap
      assert(got === expected,
        s"diff: ${(got.toSet diff expected.toSet).take(3)} / ${(expected.toSet diff got.toSet).take(3)}")
      // re-delivery is idempotent: the same verdicts re-emit, nothing new
      in.addData(first.toSeq)
      q.processAllAvailable()
      val again = spark.table("siminc_out").collect().map(key)
      assert(again.toSet.map((kv: (Long, (String, Option[Long], Option[Double]))) => kv) ===
        expected.toSet, "re-delivered arrivals must re-emit identical verdicts")
    } finally q.stop()
  }

  test("streaming text-classify verdicts equal the batch delta-classify twin") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.DedupOps
    // batch reference — also builds + memoizes the prev_sig artifact
    val expected = DedupOps.qDedupDeltaClassify(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(expected.values.exists(_._1 == "near") &&
      expected.values.exists(_._1 == "new"), "fixture must exercise verdicts")
    val dir = graft.Artifacts.getOrBuild(spark, sf, "prev_sig") { d =>
      DedupOps.baseSignatures(DedupOps.prevSnapshotDocs(spark, sf))
        .write.parquet(d)
    }
    val index = spark.read.parquet(dir)
    // the same arrival slice the batch twin classifies
    val arrivals = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 =!= 0 &&
        (col("doc_id") % 10 === 9 || col("doc_id") % 7 === 3))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (first, second) = arrivals.splitAt(arrivals.length / 2)
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val q = StatefulOps.streamingTextClassify(stream, index)
      .writeStream.format("memory").queryName("txtcls_out")
      .outputMode("update").start()
    def snapshot() = spark.table("txtcls_out").collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    try {
      in.addData(first.toSeq)
      q.processAllAvailable()
      in.addData(second.toSeq)
      q.processAllAvailable()
      assert(snapshot() === expected,
        s"diff: ${(snapshot().toSet diff expected.toSet).take(3)} / " +
          s"${(expected.toSet diff snapshot().toSet).take(3)}")
      // re-delivery is idempotent: same verdicts re-emit, nothing new
      in.addData(first.toSeq)
      q.processAllAvailable()
      assert(snapshot() === expected,
        "re-delivered arrivals must re-emit identical verdicts")
    } finally q.stop()
  }

  test("streaming contamination flags equal the batch decontaminate twin") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{CorpusPipeline, SamplingOps}
    // batch reference: the exact twin's contaminated flags at >= 5 hits
    val expected = SamplingOps.qDecontaminate(spark, sf)
      .filter(col("contaminated"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same slices the batch twin uses: train docs (bucket < 80) arrive
    // as the stream; the bench slice's distinct shingles are the static
    // side
    val shb = CorpusPipeline.bucketedShingles(Tables.documents(spark, sf))
    val bench = shb.filter(col("bucket") >= 90).select("shingle").distinct()
    val trainIds = shb.filter(col("bucket") < 80)
      .select("doc_id").distinct()
    val T0 = 1700000000000L
    val trainDocs = Tables.documents(spark, sf).join(trainIds, "doc_id")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), new Timestamp(T0)))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StatefulOps.streamingContamination(
      in.toDF().toDF("doc_id", "text", "ts"), bench)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    try {
      in.addData(trainDocs.toSeq)
      q.processAllAvailable()
      // a far-future row advances the watermark past the window so the
      // per-doc aggregates emit (its own doc is alone in a later window
      // and never reaches minHits)
      in.addData((-1L, "x y z", new Timestamp(T0 + 8 * 3600000L)))
      q.processAllAvailable()
      val got = spark.table("contam_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      assert(got === expected,
        s"diff: ${(got.toSet diff expected.toSet).take(3)} / ${(expected.toSet diff got.toSet).take(3)}")
      assert(got.nonEmpty) // the fixture does contain contaminated docs
    } finally q.stop()
  }

  test("streaming novelty flags roll up to the batch novelty twin on an in-order replay") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch reference: (doc_id -> (n_shingles, n_novel))
      val expected = graft.operators.TextOps.qNovelty(spark, sf).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"))).toMap
      // replay in doc_id order — the batch query's definition of
      // ingestion order — split at an arbitrary cross-batch boundary
      val T0 = 1700000000000L
      val fixture = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), new Timestamp(T0)))
      val (first, second) = fixture.splitAt(fixture.length / 2)
      val in = MemoryStream[(Long, String, Timestamp)]
      val q = StatefulOps.streamingNovelty(
        in.toDF().toDF("doc_id", "text", "ts"))
        .writeStream.format("memory").queryName("novelty_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val flags = spark.table("novelty_out").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
        val got = flags.groupBy(_._1).map { case (d, fs) =>
          d -> (fs.length.toLong, fs.count(_._3).toLong) }
        assert(got === expected,
          s"diff: ${(got.toSet diff expected.toSet).take(3)} / ${(expected.toSet diff got.toSet).take(3)}")
        // cross-batch state: second-batch docs repeating first-batch
        // shingles must NOT be re-flagged novel — every shingle is
        // novel exactly once across the whole stream
        val perShingle = flags.groupBy(_._2).values
        assert(perShingle.forall(_.count(_._3) == 1),
          "a shingle was flagged novel more than once across batches")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming Welford z-score matches a driver-side fold of the replayed fixture") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val fixture = Tables.events(spark, sf)
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
        .orderBy(col("ts"), col("event_id"))
        .as[StatefulOps.MetricEvent]
        .collect()
      val (first, second) = fixture.splitAt(fixture.length / 2)
      val in = MemoryStream[StatefulOps.MetricEvent]
      val q = StatefulOps.streamingZscoreOutliers(in.toDS(), minN = 30)
        .writeStream.format("memory").queryName("zscore_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val streamed = spark.table("zscore_out").collect()
          .map(r => (r.getLong(0), r.getDouble(3))).toMap
        // driver-side reference: fold through the REAL welfordStep
        // kernel in the same (ts, event_id) order, so the assertion
        // isolates the streaming plumbing (state threading, batch
        // boundaries, emission) — double-for-double exact. The
        // kernel's own accuracy vs a two-pass reference is WelfordLaws'
        // job, not this test's.
        val ref = scala.collection.mutable.Map[Long, Double]()
        val stats = scala.collection.mutable.Map[String, StatefulOps.WelfordState]()
        fixture.foreach { e =>
          val s = stats.getOrElse(e.event_type, StatefulOps.WelfordState(0L, 0.0, 0.0))
          if (s.n >= 30) {
            val sd = math.sqrt(s.m2 / s.n)
            if (sd > 0) {
              val z = (e.value - s.mean) / sd
              if (math.abs(z) >= 3.0) ref(e.event_id) = z
            }
          }
          stats(e.event_type) = StatefulOps.welfordStep(s, e.value)
        }
        assert(streamed === ref.toMap,
          s"diff: ${(streamed.toSet diff ref.toSet).take(3)} / ${(ref.toSet diff streamed.toSet).take(3)}")
        assert(streamed.nonEmpty) // the fixture does contain outliers
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("event-time timers evict idle funnel users at the watermark, deterministically") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val T0 = 1700000000000L
      val Hour = 3600000L
      def ev(user: Long, offMs: Long, typ: String) =
        StatefulOps.FunnelEvent(user, typ, new Timestamp(T0 + offMs))
      val in = MemoryStream[StatefulOps.FunnelEvent]
      // no-data microbatches OFF: timers may then only fire on batches
      // that carry data, which is exactly the adversarial interleaving
      // for the processor's re-arm (input rows are delivered BEFORE
      // expired timers and the re-arm deletes them) — the IN-BAND
      // watermark eviction check must carry the semantics alone
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val ndPrev = spark.conf.getOption(ndKey)
      spark.conf.set(ndKey, "false")
      // zero watermark delay: eviction points depend only on EVENT
      // time, so the whole test is sleep-free and replay-deterministic
      val q = try StatefulOps.streamingFunnelEventTime(in.toDS(),
        watermark = "0 seconds", horizonMs = Hour)
        .writeStream.format("memory").queryName("funnel_et_out")
        .outputMode("append").start()
      finally {
        ndPrev match {
          case Some(v) => spark.conf.set(ndKey, v)
          case None => spark.conf.unset(ndKey)
        }
      }
      try {
        // user 7 enters and clicks; user 9 enters
        in.addData(ev(7, 0, "view"), ev(7, 1000, "click"), ev(9, 0, "view"))
        q.processAllAvailable()
        // user 9 clicks within the horizon: state alive -> stage 2.
        // This also drives the watermark to +30min (< both deadlines).
        in.addData(ev(9, 30 * 60000, "click"))
        q.processAllAvailable()
        // watermark jumps to +3h: both users' inactivity deadlines
        // (last activity + 1h) pass -> timers fire, state cleared
        in.addData(ev(8, 3 * Hour, "view"))
        q.processAllAvailable()
        // user 7 re-enters: a fresh stage-1 hit proves eviction (with
        // state alive this view would be suppressed); the purchase
        // cannot fire — the old click state is gone
        in.addData(ev(7, 3 * Hour + 60000, "purchase"),
          ev(7, 3 * Hour + 120000, "view"))
        q.processAllAvailable()
        val got = spark.table("funnel_et_out").collect()
          .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
        assert(got === Seq((7L, 1), (7L, 1), (7L, 2), (8L, 1), (9L, 1), (9L, 2)),
          s"unexpected hits: $got")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stale expired timer in the re-entry batch must not wipe the fresh funnel state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val T0 = 1700000000000L
      val Hour = 3600000L
      def ev(user: Long, offMs: Long, typ: String) =
        StatefulOps.FunnelEvent(user, typ, new Timestamp(T0 + offMs))
      val in = MemoryStream[StatefulOps.FunnelEvent]
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val ndPrev = spark.conf.getOption(ndKey)
      spark.conf.set(ndKey, "false")
      val q = try StatefulOps.streamingFunnelEventTime(in.toDS(),
        watermark = "0 seconds", horizonMs = Hour)
        .writeStream.format("memory").queryName("funnel_stale_out")
        .outputMode("append").start()
      finally {
        ndPrev match {
          case Some(v) => spark.conf.set(ndKey, v)
          case None => spark.conf.unset(ndKey)
        }
      }
      try {
        // user 7 enters; their timer arms at +1h
        in.addData(ev(7, 0, "view"))
        q.processAllAvailable()
        // watermark jumps to +3h — past user 7's deadline — WITHOUT
        // delivering user-7 data, so their expired timer is pending
        in.addData(ev(8, 3 * Hour, "view"))
        q.processAllAvailable()
        // ADVERSARIAL batch: user 7's re-entry data arrives in the very
        // batch whose starting watermark (+3h) already exceeds their
        // old deadline (+1h). Input rows run first (in-band eviction ->
        // fresh stage-1 hit), then the batch's expired-timer pass may
        // still fire the stale +1h timer — whether deleteTimer cancels
        // an expired-but-unfired timer is not contractual. The guard
        // must see the re-anchored activity clock and leave the fresh
        // incarnation alive.
        in.addData(ev(7, 3 * Hour + 60000, "view"))
        q.processAllAvailable()
        // if the stale timer wiped the fresh state, this click finds no
        // stage-1 entry and is suppressed — no stage-2 row can appear
        in.addData(ev(7, 3 * Hour + 120000, "click"))
        q.processAllAvailable()
        val got = spark.table("funnel_stale_out").collect()
          .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
        assert(got === Seq((7L, 1), (7L, 1), (7L, 2), (8L, 1)),
          s"stale timer wiped re-anchored state: $got")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("event-time timers evict idle attribution touches at the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val T0 = 1700000000000L
      val Min = 60000L
      def ev(id: Long, user: Long, typ: String, offMs: Long) =
        StatefulOps.TouchEvent(id, user, typ, new Timestamp(T0 + offMs))
      val in = MemoryStream[StatefulOps.TouchEvent]
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val ndPrev = spark.conf.getOption(ndKey)
      spark.conf.set(ndKey, "false")
      // horizon (30 min) DELIBERATELY shorter than AttributionMaxLagUs
      // (1 h): the eviction below removes a touch the lag window would
      // still credit, so the test separates eviction from lag filtering
      val q = try StatefulOps.streamingAttributionEventTime(in.toDS(),
        watermark = "0 seconds", horizonMs = 30 * Min)
        .writeStream.format("memory").queryName("attr_et_out")
        .outputMode("append").start()
      finally {
        ndPrev match {
          case Some(v) => spark.conf.set(ndKey, v)
          case None => spark.conf.unset(ndKey)
        }
      }
      try {
        // touch then purchase 10 min later: credited (10 min latency)
        in.addData(ev(1, 5, "click", 0), ev(2, 5, "purchase", 10 * Min))
        q.processAllAvailable()
        // watermark to +45min: user 5 idle since +10min, horizon 30min
        // passed -> touch evicted
        in.addData(ev(3, 6, "view", 45 * Min))
        q.processAllAvailable()
        // purchase at +50min: the old touch (age 50 min) is INSIDE the
        // 1h lag window, so only eviction explains a missing credit
        in.addData(ev(4, 5, "purchase", 50 * Min))
        q.processAllAvailable()
        // a fresh touch + purchase credit normally after re-entry
        in.addData(ev(5, 5, "view", 51 * Min), ev(6, 5, "purchase", 52 * Min))
        q.processAllAvailable()
        val got = spark.table("attr_et_out").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got === Seq((2L, 1L), (6L, 5L)),
          s"expected purchase 4 uncredited after eviction: $got")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("event-time timers re-anchor an evicted retention cohort") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val Day = 86400000L
      def at(user: Long, day: Long) =
        StatefulOps.RetentionEvent(user, new Timestamp(day * Day))
      val in = MemoryStream[StatefulOps.RetentionEvent]
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val ndPrev = spark.conf.getOption(ndKey)
      spark.conf.set(ndKey, "false")
      val q = try StatefulOps.streamingRetentionEventTime(in.toDS(),
        watermark = "0 seconds", horizonMs = 30 * Day)
        .writeStream.format("memory").queryName("ret_et_out")
        .outputMode("append").start()
      finally {
        ndPrev match {
          case Some(v) => spark.conf.set(ndKey, v)
          case None => spark.conf.unset(ndKey)
        }
      }
      try {
        // cohort anchors at day 10; week 1 credited at day 17
        in.addData(at(5, 10), at(5, 17))
        q.processAllAvailable()
        // watermark to day 100: user 5 idle since day 17 + 30d horizon
        // -> evicted
        in.addData(at(6, 100))
        q.processAllAvailable()
        // re-entry at day 101 anchors a NEW cohort (week 0), not week
        // 13 of the old one
        in.addData(at(5, 101))
        q.processAllAvailable()
        val got = spark.table("ret_et_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        assert(got === Seq((5L, 10L, 0L), (5L, 10L, 1L), (5L, 101L, 0L),
          (6L, 100L, 0L)),
          s"expected re-anchored cohort after eviction: $got")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("quota sampler admits first-N per source across batches, default for unmapped") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def d(id: Long, src: String) =
        StatefulOps.QuotaDoc(id, src, new Timestamp(T0 + id * 1000))
      val in = MemoryStream[StatefulOps.QuotaDoc]
      val q = StatefulOps.quotaSampled(in.toDS(),
          quotas = Map("a" -> 3L, "b" -> 1L), defaultQuota = 2L)
        .writeStream.format("memory").queryName("quota_out")
        .outputMode("append").start()
      try {
        in.addData(d(1, "a"), d(2, "a"), d(3, "b"), d(4, "c"))
        q.processAllAvailable()
        // quota state survives the batch boundary: a has 1 slot left,
        // b none, c one
        in.addData(d(5, "a"), d(6, "a"), d(7, "b"), d(8, "c"), d(9, "c"))
        q.processAllAvailable()
        val got = spark.table("quota_out").collect()
          .map(r => (r.getString(1), r.getLong(0)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        assert(got("a") === Set(1L, 2L, 5L)) // first 3 arrivals
        assert(got("b") === Set(3L))         // quota 1
        assert(got("c") === Set(4L, 8L))     // default quota 2
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming domain filter replayed over the fixture matches batch stats and verdicts") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch truth + the frozen references derived from it
      val batch = graft.operators.SamplingOps.qDomainFilter(spark, sf)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      val hostStats = batch.values.map { case (h, n, q, _) => (h, n, q) }.toSet
      val total = hostStats.toSeq.map(_._2).sum
      val gq = hostStats.toSeq.map(_._3).sum
      val nHosts = hostStats.size.toLong
      val cap = total * 8 / (nHosts * 10)
      val globalMilli = gq * 1000 / total
      // the EXACT batch per-doc projection, replayed in doc_id order
      val docs = graft.operators.SamplingOps.domainDocs(spark, sf)
        .orderBy("doc_id").collect()
        .map(r => StatefulOps.DomainDoc(r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3), new Timestamp(T0 + r.getLong(0))))
      val in = MemoryStream[StatefulOps.DomainDoc]
      val q = StatefulOps.streamingDomainFilter(in.toDS(), globalMilli, cap)
        .writeStream.format("memory").queryName("domain_out")
        .outputMode("append").start()
      try {
        val (c1, c2) = docs.splitAt(docs.length / 2)
        in.addData(c1.toIndexedSeq); q.processAllAvailable()
        in.addData(c2.toIndexedSeq); q.processAllAvailable()
        val got = spark.table("domain_out").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        assert(got.length === docs.length)
        // each host's LAST arrival carries the batch host stats exactly
        val lastByHost = got.groupBy(_._2).view
          .mapValues(_.maxBy(_._3)).toMap
        hostStats.foreach { case (h, n, qs) =>
          val (_, _, gn, gqs) = lastByHost(h)
          assert((gn, gqs) === ((n, qs)), s"host $h final stats diverged")
        }
        // the shared verdict algebra at FINAL stats reproduces every
        // batch verdict (h comes from the replayed projection)
        docs.foreach { d =>
          val (_, n, qs, v) = batch(d.doc_id)
          assert(StatefulOps.domainVerdict(n, qs, d.h, globalMilli, cap) === v,
            s"doc ${d.doc_id}: scala verdict algebra diverged from batch SQL")
        }
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      spark.catalog.clearCache()
    }
  }

  test("streaming perplexity filter matches batch terciles everywhere off the frozen boundaries") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // batch truth: per-doc scores + driver-side ntile(3) per language
    // (the registered query only ships the per-bucket rollup)
    val scored = graft.operators.TextOps.lmScoredDocs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batchBucket: Map[Long, Int] = scored.groupBy(_._2).flatMap {
      case (_, v) =>
        val ord = v.sortBy(x => (-x._4, x._1))
        val (base, extra) = (ord.length / 3, ord.length % 3)
        val sizes = Array.tabulate(3)(b => base + (if (b < extra) 1 else 0))
        val starts = sizes.scanLeft(0)(_ + _)
        ord.zipWithIndex.map { case (x, i) =>
          x._1 -> ((0 until 3).find(b => i < starts(b + 1)).get + 1) }
    }
    // frozen statics: stored LM + per-language cutoffs
    val (lm, nTotal) = graft.operators.TextOps.lmStored(spark, sf)
    val cuts = graft.operators.SamplingOps.perplexityCutoffs(spark, sf)
    val boundary: Map[String, Set[Double]] = cuts.collect()
      .map(r => r.getString(0) -> Set(r.getDouble(1), r.getDouble(2))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val in = MemoryStream[(Long, String, String)]
    val q = StatefulOps.streamingPerplexityFilter(
        in.toDF().toDF("doc_id", "lang", "text"), lm, nTotal, cuts)
      .writeStream.format("memory").queryName("ppl_out")
      .outputMode("update").start()
    try {
      val (c1, c2) = docs.splitAt(docs.length / 2)
      in.addData(c1.toIndexedSeq); q.processAllAvailable()
      in.addData(c2.toIndexedSeq); q.processAllAvailable()
      def snapshot() = spark.table("ppl_out").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getDouble(3), r.getInt(4), r.getBoolean(5))))
        .toMap
      val got = snapshot()
      assert(got.size === scored.length, "every doc must score")
      val batchScore = scored.map(x => x._1 -> x._4).toMap
      var offBoundary = 0
      got.foreach { case (id, (lang, score, bucket, kept)) =>
        assert(score === batchScore(id), s"doc $id: stream score diverged")
        assert(kept === (bucket <= 2))
        if (!boundary(lang).contains(score)) {
          offBoundary += 1
          assert(bucket === batchBucket(id),
            s"doc $id: bucket $bucket != batch ${batchBucket(id)} off-boundary")
        } else
          // ON a boundary the threshold maps the tie to the better
          // bucket; batch ntile may have split it one bucket down
          assert(bucket <= batchBucket(id),
            s"doc $id: boundary tie must not worsen the bucket")
      }
      assert(offBoundary > scored.length / 2,
        "fixture must exercise mostly off-boundary docs")
      // re-delivery is idempotent under Update mode
      in.addData(c1.toIndexedSeq); q.processAllAvailable()
      assert(snapshot() === got, "re-delivery must re-emit identical rows")
    } finally q.stop()
  }

  test("streaming sequential monitor: delta rollup telescopes to the batch mSPRT row-for-row") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the per-user daily spend stream (what a windowed upstream
      // rollup emits) — integer cents, exactly the batch monitor's input
      val rows = Tables.events(spark, sf)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("day"),
          (col("value") * 100).cast("decimal(18,0)").cast("long").as("c"))
        .groupBy("user_id", "day")
        .agg(sum(col("c")).as("cents"))
        .collect()
        .map(r => StatefulOps.PurchaseDay(r.getLong(0), r.getLong(1), r.getLong(2)))
      // cut by DAY so each user's days arrive in order across batches
      val midDay = rows.map(_.day).sorted.apply(rows.length / 2)
      val (c1, c2) = rows.partition(_.day <= midDay)
      assert(c1.nonEmpty && c2.nonEmpty, "both cuts must carry data")
      val in = MemoryStream[StatefulOps.PurchaseDay]
      val q = StatefulOps.streamingSeqMonitor(in.toDS())
        .writeStream.format("memory").queryName("seqmon_out")
        .outputMode("append").start()
      try {
        in.addData(c1.toIndexedSeq); q.processAllAvailable()
        in.addData(c2.toIndexedSeq); q.processAllAvailable()
        def readout() = StatefulOps.sequentialReadout(spark.table("seqmon_out"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
        val got = readout()
        val want = graft.operators.EventOps.qAbSequential(spark, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
        // the stream emits readout rows on days WITH arrivals; a
        // corpus-quiet day's batch row is a repeat of the previous day
        val active = rows.map(_.day).toSet
        val wantActive = want.filter(w => active.contains(w._1))
        assert(wantActive.length === want.length,
          "fixture must have purchases every monitored day")
        assert(got.toSeq === wantActive.toSeq,
          "streaming delta rollup must equal the batch monitor exactly")
        assert(got.exists(_._2 >= 2) && got.length > 5,
          "fixture must exercise a multi-day readout")
        // re-delivery is idempotent: replaying cut 1 emits nothing
        val n0 = spark.table("seqmon_out").count()
        in.addData(c1.toIndexedSeq); q.processAllAvailable()
        assert(spark.table("seqmon_out").count() === n0,
          "re-delivered days must emit no deltas")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming k-anonymity monitor: latest row per class equals the batch report, risk only decays") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = Tables.documents(spark, sf)
        .select("doc_id", "lang", "source", "n_chars").collect()
        .map(r => StatefulOps.KAnonDoc(r.getLong(0), r.getString(1),
          r.getString(2), r.getLong(3)))
      // cut by doc_id HALVES: source = doc_id mod 20 on this corpus, so
      // a parity cut would hand every class wholly to one batch and the
      // cross-cut assertions below would be vacuous
      val (c1, c2) = docs.sortBy(_.doc_id).splitAt(docs.length / 2)
      assert(c1.nonEmpty && c2.nonEmpty, "both cuts must carry data")
      val in = MemoryStream[StatefulOps.KAnonDoc]
      val q = StatefulOps.streamingKAnonMonitor(in.toDS())
        .writeStream.format("memory").queryName("kanon_out")
        .outputMode("append").start()
      try {
        type Row6 = (Long, Boolean, Long, Boolean)
        // count is monotone, so the latest row per class is its max
        def snapshot(): Map[(String, String), Row6] =
          spark.table("kanon_out").collect()
            .map(r => ((r.getString(0), r.getString(1)),
              (r.getLong(2), r.getBoolean(3), r.getLong(4), r.getBoolean(5))))
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).maxBy(_._1) }
        in.addData(c1.toIndexedSeq); q.processAllAvailable()
        val mid = snapshot()
        in.addData(c2.toIndexedSeq); q.processAllAvailable()
        val got = snapshot()
        val want = graft.operators.TextOps.qKAnonymity(spark, sf).collect()
          .map(r => ((r.getString(0), r.getString(1)),
            (r.getLong(2), r.getBoolean(3), r.getLong(4), r.getBoolean(5))))
          .toMap
        assert(got === want,
          "streamed class rows must equal the batch k-anonymity report")
        // risk decays monotonically as classes fill across the cut
        mid.foreach { case (k, (n1, kr1, b1, lr1)) =>
          val (n2, kr2, b2, lr2) = got(k)
          assert(n1 <= n2 && b1 <= b2, s"$k: count/diversity must grow")
          assert(kr1 >= kr2 && lr1 >= lr2, s"$k: risk must only decay")
        }
        // the fixture must exercise a real flip: some class risky at
        // the cut became safe by the end (a vacuous gate tests nothing)
        assert(mid.exists { case (k, (_, kr1, _, lr1)) =>
          val (_, kr2, _, lr2) = got(k)
          (kr1 && !kr2) || (lr1 && !lr2)
        }, "some class must cross a risk threshold between the cuts")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming weighted reservoir: any cut's readout equals the batch draw over docs seen so far") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the SHARED key pipeline — the stream races the batch's keys
      val keyed = graft.operators.SamplingOps
        .reservoirKeyed(Tables.documents(spark, sf)).collect()
        .map(r => StatefulOps.ResDoc(r.getLong(0), r.getLong(1), r.getDouble(2)))
      val (c1, c2) = keyed.sortBy(_.doc_id).splitAt(keyed.length / 2)
      val in = MemoryStream[StatefulOps.ResDoc]
      val q = StatefulOps.streamingWeightedReservoir(in.toDS())
        .writeStream.format("memory").queryName("res_out")
        .outputMode("append").start()
      try {
        def readout() = StatefulOps.reservoirReadout(spark.table("res_out"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
            r.getDouble(3)))
        def batchDraw(rows: Seq[StatefulOps.ResDoc]) = rows
          .sortBy(d => (d.e1000_r, d.doc_id))
          .take(graft.operators.SamplingOps.ReservoirK)
          .zipWithIndex.map { case (d, i) => (i + 1, d.doc_id, d.w, d.e1000_r) }
        in.addData(c1.toIndexedSeq); q.processAllAvailable()
        assert(readout().toSeq === batchDraw(c1.toIndexedSeq),
          "mid-stream cut must equal the batch draw over the seen half")
        in.addData(c2.toIndexedSeq); q.processAllAvailable()
        val fin = readout()
        assert(fin.toSeq === batchDraw(keyed.toIndexedSeq),
          "final readout must equal the batch draw over the full corpus")
        // and the batch QUERY itself — same keys, same ranks
        val want = graft.operators.SamplingOps.qWeightedReservoir(spark, sf)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
            r.getDouble(3)))
        assert(fin.toSeq === want.toSeq)
        // re-delivery is a no-op for a min-merge
        in.addData(c1.toIndexedSeq); q.processAllAvailable()
        assert(readout().toSeq === fin.toSeq,
          "re-delivered docs must not change the reservoir")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming IVFPQ/ADC serve: any cut's readout equals the batch stored-index search") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{DedupOps, SimilarityOps}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch reference — also builds + memoizes the stored code artifact
      val expected = SimilarityOps.qSimIvfPqTopkStored(spark, sf).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      assert(expected.nonEmpty)
      // the FROZEN serving model: the batch query's own artifact,
      // centroids, and codebook — one builder each, no drift
      val codes = spark.read.parquet(SimilarityOps.pqIndexDir(spark, sf))
      val cents = SimilarityOps.ivfCentroidModel(spark, sf)
      val cb = SimilarityOps.pqCodebook(spark, sf)
      // the same arrival slice the batch search ranks: the query vectors
      val arrivals = DedupOps.normedVectors(Tables.embeddings(spark, sf))
        .filter(col("vec_id") < SimilarityOps.NumQueries)
        .select("vec_id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val (first, second) = arrivals.splitAt(arrivals.length / 2)
      val in = MemoryStream[(Long, Seq[Double])]
      val stream = in.toDF().toDF("vec_id", "v")
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
      val q = StatefulOps.streamingIvfPqServe(stream, codes, cents, cb)
        .writeStream.format("memory").queryName("adc_out")
        .outputMode("append").start()
      try {
        def readout() = StatefulOps.adcReadout(spark.table("adc_out"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getLong(3)))
        in.addData(first.toSeq); q.processAllAvailable()
        val seen = first.map(_._1).toSet
        assert(readout().toSeq === expected.filter(e => seen(e._1)).toSeq,
          "mid-stream cut must equal the batch verdicts for the seen arrivals")
        in.addData(second.toSeq); q.processAllAvailable()
        assert(readout().toSeq === expected.toSeq,
          "final readout must equal the batch stored-index search row-for-row")
        // re-delivery is a no-op for a min-merge
        in.addData(first.toSeq); q.processAllAvailable()
        assert(readout().toSeq === expected.toSeq,
          "re-delivered arrivals must not change any top-k")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming IVFADC,R: shortlist stream + exact-refine readout equals the batch rerank at any cut") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{DedupOps, SimilarityOps}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch reference (also builds + memoizes the stored code artifact)
      val expected = SimilarityOps.qSimIvfPqRerank(spark, sf).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getDouble(4)))
      assert(expected.nonEmpty)
      val codes = spark.read.parquet(SimilarityOps.pqIndexDir(spark, sf))
      val cents = SimilarityOps.ivfCentroidModel(spark, sf)
      val cb = SimilarityOps.pqCodebook(spark, sf)
      val corpus = DedupOps.normedVectors(Tables.embeddings(spark, sf))
      val arrivals = corpus
        .filter(col("vec_id") < SimilarityOps.NumQueries)
        .select("vec_id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val (first, second) = arrivals.splitAt(arrivals.length / 2)
      val in = MemoryStream[(Long, Seq[Double])]
      val stream = in.toDF().toDF("vec_id", "v")
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
      // the stateful stage is the SAME serve, widened to the shortlist
      val q = StatefulOps.streamingIvfPqServe(stream, codes, cents, cb,
          k = SimilarityOps.RerankShortlist)
        .writeStream.format("memory").queryName("rerank_out")
        .outputMode("append").start()
      try {
        // arrival features for the refine: the vectors as they streamed
        val qVecs = arrivals.toSeq.toDF("vec_id", "v")
          .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
        def readout() = StatefulOps.rerankReadout(
          spark.table("rerank_out"), qVecs, corpus)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getLong(3), r.getDouble(4)))
        in.addData(first.toSeq); q.processAllAvailable()
        val seen = first.map(_._1).toSet
        assert(readout().toSeq === expected.filter(e => seen(e._1)).toSeq,
          "mid-stream cut must equal the batch rerank for the seen arrivals")
        in.addData(second.toSeq); q.processAllAvailable()
        assert(readout().toSeq === expected.toSeq,
          "final readout must equal the batch rerank row-for-row")
        // re-delivery is a no-op: the refine inherits the shortlist merge
        in.addData(first.toSeq); q.processAllAvailable()
        assert(readout().toSeq === expected.toSeq,
          "re-delivered arrivals must not change any refined top-k")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming Dirichlet QL scores every arrival exactly as the batch ranker") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the frozen model: the batch's own collection statistics
    val (ctf, c) = graft.operators.TextOps.qlCollectionStats(spark, sf)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = StatefulOps.streamingQlDirichlet(
        in.toDF().toDF("doc_id", "text"), ctf, c)
      .writeStream.format("memory").queryName("ql_out")
      .outputMode("update").start()
    try {
      val (c1, c2) = docs.splitAt(docs.length / 2)
      in.addData(c1.toIndexedSeq); q.processAllAvailable()
      in.addData(c2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("ql_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // EVERY document scores (QL ranks no-hit docs by length prior)
      assert(got.keySet === docs.map(_._1).toSet,
        "the stream must score every arrival")
      // every batch top-20 row reproduces exactly in the stream
      val want = graft.operators.TextOps.qQlDirichlet(spark, sf).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(want.nonEmpty)
      want.foreach { case (id, nHit, score) =>
        assert(got.get(id) === Some((nHit, score)),
          s"doc $id: stream score diverged from the batch ranker")
      }
      // re-delivery is idempotent — a stateless projection by shape
      in.addData(c1.toIndexedSeq); q.processAllAvailable()
      val again = spark.table("ql_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(again === got, "re-delivery must re-emit identical rows")
    } finally q.stop()
  }

  test("streaming Kneser-Ney serves the frozen model: two-cut replay equals the stored batch scorer") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // frozen statics: the stored twin's own artifacts + meta T
      val (c2, ctx, cont, t) = graft.operators.TextOps.knStored(spark, sf)
      val want = graft.operators.TextOps.qLmKneserNeyStored(spark, sf)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
            r.getBoolean(5)))).toMap
      val docs = Tables.documents(spark, sf)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val in = MemoryStream[(Long, String)]
      val q = StatefulOps.streamingKneserNey(
          in.toDF().toDF("doc_id", "text"), c2, ctx, cont, t)
        .writeStream.format("memory").queryName("kn_out")
        .outputMode("append").start()
      try {
        def rows() = spark.table("kn_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getDouble(4), r.getBoolean(5)))
        val (cut1, cut2) = docs.splitAt(docs.length / 2)
        // cut 1: rows equal the batch rows for EXACTLY the seen docs
        in.addData(cut1.toIndexedSeq); q.processAllAvailable()
        val seen = cut1.map(_._1).toSet
        val mid = rows()
        assert(mid.map(_._1).toSet === seen.filter(want.contains),
          "cut-1 emissions must cover exactly the delivered docs")
        mid.foreach { case (id, nb, nuc, ni, a, h) =>
          assert(want(id) === ((nb, nuc, ni, a, h)),
            s"doc $id: stream KN row diverged from text_lm_kn_stored") }
        // cut 2: the full corpus equals the batch scorer row-for-row
        in.addData(cut2.toIndexedSeq); q.processAllAvailable()
        val all = rows()
        assert(all.map(_._1).toSet === want.keySet,
          "after both cuts every scorable doc must have a row")
        all.foreach { case (id, nb, nuc, ni, a, h) =>
          assert(want(id) === ((nb, nuc, ni, a, h)),
            s"doc $id: stream KN row diverged from text_lm_kn_stored") }
        // the corpus fixture must exercise the interpolation branch
        assert(all.exists(_._4 > 0),
          "fixture must hit the unseen-bigram interpolation path")
        // re-delivery re-emits the STORED rows (first-delivery-wins):
        // appended duplicates are bit-identical, no doc changes value
        val n0 = all.length
        in.addData(cut1.toIndexedSeq); q.processAllAvailable()
        val re = rows()
        assert(re.length > n0, "append sink must show the re-emissions")
        re.groupBy(_._1).foreach { case (id, vs) =>
          assert(vs.distinct.length === 1,
            s"doc $id: re-delivery changed the emitted row") }
        re.foreach { case (id, nb, nuc, ni, a, h) =>
          assert(want(id) === ((nb, nuc, ni, a, h))) }
        // unseen-CONTEXT branch (this template-vocabulary corpus never
        // hits it): an out-of-vocabulary arrival has the closed form
        // logp = ln(Pcont) = ln(1/T) per bigram — checked against the
        // formula directly, independent of the fold under test
        in.addData(Seq((9999999L, "zzq zzq zzq"))); q.processAllAvailable()
        val oov = rows().filter(_._1 == 9999999L)
        val lnT = java.math.BigDecimal.valueOf(math.log(1.0 / t))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        assert(oov.toSeq === Seq((9999999L, 2L, 2L, 0L, lnT, true)),
          "OOV arrival must score the pure continuation floor ln(1/T)")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming BM25 scores arrivals exactly as the batch ranker scores them") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // frozen statics: the FULL stored model — the op itself restricts
    // to the query's terms before folding literals (r12 review: a
    // vocabulary-sized expression tree must never reach codegen)
    val (model, n, sumdl) = graft.operators.TextOps.bm25Stored(spark, sf)
    val dfStatic = model.select(col("tk"), col("df").cast("double").as("df"))
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)]
    val q = StatefulOps.streamingBm25(
        in.toDF().toDF("doc_id", "text"), dfStatic, n, sumdl)
      .writeStream.format("memory").queryName("bm25_out")
      .outputMode("update").start()
    try {
      val (c1, c2) = docs.splitAt(docs.length / 2)
      in.addData(c1.toIndexedSeq); q.processAllAvailable()
      in.addData(c2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("bm25_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // every batch top-20 row reproduces exactly in the stream
      val want = graft.operators.TextOps.qBm25(spark, sf).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(want.nonEmpty)
      want.foreach { case (id, nHit, score) =>
        assert(got.get(id) === Some((nHit, score)),
          s"doc $id: stream score diverged from the batch ranker")
      }
      // the stream scores exactly the docs with >=1 query term
      val terms = graft.operators.TextOps.Bm25Terms.toSet
      val expected = docs.filter(_._2.split(" ", -1).exists(terms)).map(_._1).toSet
      assert(got.keySet === expected,
        "stream must score exactly the docs containing a query term")
      // re-delivery is idempotent under Update mode
      in.addData(c1.toIndexedSeq); q.processAllAvailable()
      val again = spark.table("bm25_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(again === got, "re-delivery must re-emit identical rows")
    } finally q.stop()
  }

  test("streaming crawl delta over two snapshot batches matches the batch report minus removals") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the EXACT snapshot projections the batch query joins
      def snap(df: org.apache.spark.sql.DataFrame, t: Long) =
        df.collect().map(r => StatefulOps.CrawlDoc(r.getLong(0),
          r.getString(1), r.getString(2), new Timestamp(T0 + t)))
      val prevSnap = snap(graft.operators.DedupOps.crawlPrev(spark, sf), 0L)
      val curSnap = snap(graft.operators.DedupOps.crawlCur(spark, sf), 1000L)
      val in = MemoryStream[StatefulOps.CrawlDoc]
      val q = StatefulOps.streamingCrawlDelta(in.toDS())
        .writeStream.format("memory").queryName("crawl_out")
        .outputMode("append").start()
      try {
        in.addData(prevSnap.toIndexedSeq); q.processAllAvailable()
        val c1 = spark.table("crawl_out").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        assert(c1.length === prevSnap.length)
        assert(c1.forall(_._3 == "added"), "first crawl must be all added")
        in.addData(curSnap.toIndexedSeq); q.processAllAvailable()
        val all = spark.table("crawl_out").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        // batch-2 rows = multiset difference (sink order is not
        // contractual across batches)
        val c1Count = c1.groupBy(identity).view.mapValues(_.length).toMap
        val b2 = all.groupBy(identity).toSeq.flatMap { case (t, v) =>
          Seq.fill(v.length - c1Count.getOrElse(t, 0))(t) }
        assert(b2.length === curSnap.length)
        // per-source status counts equal the oracled batch report's
        // added/changed/unchanged columns (removed is the batch
        // full-outer sweep's job — absence is not an event)
        val got = b2.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong)
        val batch = graft.operators.DedupOps.qCrawlDelta(spark, sf)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(3), r.getLong(4)))
        batch.foreach { case (src, (nAdd, nChg, nUnchg)) =>
          assert(got.getOrElse((src, "added"), 0L) === nAdd, s"$src added")
          assert(got.getOrElse((src, "changed"), 0L) === nChg, s"$src changed")
          assert(got.getOrElse((src, "unchanged"), 0L) === nUnchg,
            s"$src unchanged")
        }
        assert(batch.map(_._2._2).sum > 0, "fixture must contain edits")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      spark.catalog.clearCache()
    }
  }

  test("mapGroupsWithState accumulates per-table counts across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StatefulOps.runningCounts(in.toDS())
      .writeStream.format("memory").queryName("counts_out")
      .outputMode(StatefulOps.runningCountsOutputMode).start()
    try {
      in.addData(ev(1, "insert"), ev(2, "insert"), ev(3, "delete", table = "orders"))
      q.processAllAvailable()
      in.addData(ev(4, "update"), ev(5, "insert", table = "orders"))
      q.processAllAvailable()
      // memory sink in update mode appends each emitted update; the
      // LAST row per table is the current state
      val rows = spark.table("counts_out").collect()
      val latest = rows.zipWithIndex
        .groupBy(_._1.getAs[String]("table"))
        .map { case (t, rs) => t -> rs.maxBy(_._2)._1 }
      assert(latest("users").getAs[Long]("inserts") === 2)
      assert(latest("users").getAs[Long]("updates") === 1)
      assert(latest("orders").getAs[Long]("deletes") === 1)
      assert(latest("orders").getAs[Long]("inserts") === 1)
    } finally q.stop()
  }

  test("streaming ewma emits the batch twin's exact fixed-point value per arriving day") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch reference: the gap-filled spine query
      val batch = graft.operators.EventOps.qEwmaDaily(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      // the natural stream: NON-ZERO daily counts only (a windowed
      // rollup emits nothing for a quiet day — the processor's gap
      // shift must reconstruct those zeros)
      val daily = Tables.events(spark, sf)
        .select(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .groupBy("event_type", "day").count()
        .collect()
        .map(r => StatefulOps.DailyCount(r.getString(0), r.getLong(1),
          r.getLong(2)))
        .sortBy(d => (d.day, d.event_type))
      // split at a day boundary so per-type order survives the cut
      val midDay = daily(daily.length / 2).day
      val (first, second) = daily.partition(_.day < midDay)
      val in = MemoryStream[StatefulOps.DailyCount]
      val q = StatefulOps.streamingEwma(in.toDS())
        .writeStream.format("memory").queryName("ewma_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val got = spark.table("ewma_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // one emission per arriving (type, day), equal to the batch row
        assert(got.length === daily.length)
        got.foreach { case (t, d, cnt, scaled) =>
          assert(batch((t, d)) === ((cnt, scaled)),
            s"mismatch at ($t, $d)")
        }
        // the cut exercised the cross-batch gap shift
        assert(second.nonEmpty && first.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("composed streaming ingest equals the three batch stages applied in order") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = 1700000000000L
      val quotas = Map("src0" -> 5L, "src1" -> 4L)
      val docs = Tables.documents(spark, sf)
        .select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
      // the batch twin, driver-side: gate -> simhash first-wins -> quota
      def quality(t: String): (Int, Double) = {
        val ts = t.split(" ", -1)
        val ttr = ts.distinct.length.toDouble / ts.length
        val stop = ts.count(Set("the", "a", "of", "and", "to")).toDouble / ts.length
        (ts.length, ttr * (1.0 - stop))
      }
      val gated = docs.filter { case (_, _, t) =>
        val (n, q) = quality(t); n >= 3 && q >= 0.1
      }
      val simhash = Tables.documents(spark, sf)
        .select(col("doc_id"),
          graft.operators.DedupOps.simhashExpr(col("text")).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val seen = scala.collection.mutable.Set[Long]()
      val deduped = gated.filter { case (id, _, _) => seen.add(simhash(id)) }
      val admitted = scala.collection.mutable.Map[String, Long]()
      val want = deduped.filter { case (_, src, _) =>
        val n = admitted.getOrElse(src, 0L)
        val ok = n < quotas.getOrElse(src, Long.MaxValue)
        if (ok) admitted(src) = n + 1
        ok
      }.map(d => (d._1, d._2)).toSeq
      val arrivals = docs.map { case (id, src, t) =>
        (id, src, t, new java.sql.Timestamp(t0 + id * 1000)) }
      val (first, second) = arrivals.splitAt(arrivals.length / 2)
      val in = MemoryStream[(Long, String, String, java.sql.Timestamp)]
      val q = StatefulOps.streamingIngest(
          in.toDF().toDF("doc_id", "source", "text", "ts"), quotas)
        .writeStream.format("memory").queryName("ingest_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val got = spark.table("ingest_out").collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        assert(got.toSeq === want.sortBy(_._1))
        // the src0 cap binds whenever the fixture supplies enough docs
        val src0Avail = deduped.count(_._2 == "src0").toLong
        assert(want.count(_._2 == "src0").toLong === math.min(5L, src0Avail))
        assert(src0Avail > 5L, "fixture must actually exercise the cap")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming WAL gaps equal the batch continuity audit across a cut") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = graft.operators.CdcOps.qWalGaps(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val wals = Tables.events(spark, sf)
        .filter(col("event_type").isin("signup", "purchase", "error"))
        .select("event_id").collect().map(_.getLong(0)).sorted
        .map(w => StatefulOps.WalPos("wal", w))
      val (first, second) = wals.splitAt(wals.length / 2)
      val in = MemoryStream[StatefulOps.WalPos]
      val q = StatefulOps.streamingWalGaps(in.toDS())
        .writeStream.format("memory").queryName("walgap_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val got = spark.table("walgap_out").collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .sortBy(_._1)
        assert(got.toSeq === batch.toSeq)
        assert(first.nonEmpty && second.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming CUSUM fed batch-median targets equals the batch drift query") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = graft.operators.EventOps.qCusumDrift(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(4), r.getBoolean(5)))).toMap
      // the nightly-published targets: the batch twin's own medians
      val targets = graft.operators.EventOps.qCusumDrift(spark, sf)
        .select("event_type", "med").distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val daily = Tables.events(spark, sf)
        .select(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .groupBy("event_type", "day").count()
        .collect()
        .map(r => StatefulOps.DailyCount(r.getString(0), r.getLong(1),
          r.getLong(2)))
        .sortBy(d => (d.day, d.event_type))
      val midDay = daily(daily.length / 2).day
      val (first, second) = daily.partition(_.day < midDay)
      val in = MemoryStream[StatefulOps.DailyCount]
      val q = StatefulOps.streamingCusum(in.toDS(), targets)
        .writeStream.format("memory").queryName("cusum_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        val got = spark.table("cusum_out").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getBoolean(4)))
        assert(got.length === daily.length)
        got.foreach { case (t, d, cnt, s, alarm) =>
          assert(batch((t, d)) === ((cnt, s, alarm)), s"mismatch at ($t, $d)")
        }
        assert(first.nonEmpty && second.nonEmpty)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming KMV sketches combine into the batch overlap query's exact row") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batchRow = graft.operators.EventOps.qKmvOverlap(spark, sf)
        .collect().head
      val arrivals = Tables.events(spark, sf)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("event_type"), col("user_id"), col("event_id"))
        .distinct().collect()
        .map(r => (r.getLong(2), StatefulOps.SegmentUser(r.getString(0), r.getLong(1))))
        .sortBy(_._1).map(_._2)
      val (first, second) = arrivals.splitAt(arrivals.length / 2)
      val in = MemoryStream[StatefulOps.SegmentUser]
      val q = StatefulOps.streamingKmv(in.toDS())
        .writeStream.format("memory").queryName("kmv_out")
        .outputMode("append").start()
      try {
        in.addData(first.toSeq)
        q.processAllAvailable()
        in.addData(second.toSeq)
        q.processAllAvailable()
        // last emission per segment is the final sketch summary
        val rows = spark.table("kmv_out").collect().zipWithIndex
          .groupBy(_._1.getString(0))
          .map { case (s, rs) => s -> rs.maxBy(_._2)._1 }
        // rebuild the final minima driver-side (the emissions carry the
        // summary; the state equivalence is via the pure merge law)
        def minima(seg: String): Seq[Long] = arrivals
          .filter(_.segment == seg).map(u => StatefulOps.h48(u.user_id))
          .distinct.sorted.take(64).toSeq
        val (aSk, bSk) = (minima("view"), minima("purchase"))
        for ((seg, sk) <- Seq("view" -> aSk, "purchase" -> bSk)) {
          val r = rows(seg)
          assert(r.getInt(1) === sk.size, s"$seg n_minima")
          assert(r.getLong(2) === sk.last, s"$seg v_k")
          assert(r.getLong(3) === StatefulOps.kmvEstimate(sk, 64), s"$seg est")
        }
        // KMV merge property: the two final segment sketches combine
        // into the union sketch, reproducing the batch overlap row
        val union = StatefulOps.mergeMinima(aSk, bSk, 64)
        val vk = union.last
        val c = union.count(h => aSk.contains(h) && bSk.contains(h))
        assert(vk === batchRow.getAs[Long]("v_k"))
        assert(c.toLong === batchRow.getAs[Long]("co_members"))
        assert(63L * (1L << 48) / vk === batchRow.getAs[Long]("est_union"))
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
