package graft

import graft.model.ChangeEvent
import graft.streaming.{CdcPipeline, ControlPlane, Monitoring, Retry, Sinks, Topology}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Specs for retry classing (E1), monitoring (M2/M3), and the
  * config-driven topology (M4) — reference behaviors from
  * common/retry_test.go, http.go, config.go. */
class TopologySpec extends SparkSpec {

  test("retry: succeeds after transient failures, counts attempts") {
    var calls = 0
    val (result, attempts) = Retry.retryForever(intervalMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(result === "ok" && attempts === 3)
  }

  test("retry: permanent errors abort immediately") {
    var calls = 0
    val e = intercept[Retry.PermanentException] {
      Retry.retryForever(intervalMs = 1) {
        calls += 1
        throw Retry.permanent("schema mismatch")
      }
    }
    assert(calls === 1 && e.getMessage === "schema mismatch")
  }

  test("retry: bounded attempts rethrow the transient error") {
    var calls = 0
    intercept[RuntimeException] {
      Retry.retryForever(intervalMs = 1, maxAttempts = Some(4)) {
        calls += 1; throw new RuntimeException("still down")
      }
    }
    assert(calls === 4)
  }

  test("config validation rejects unknown source subscriptions") {
    val bad = Topology.Config(
      sources = Seq(Topology.SourceConf("a", "/tmp/x")),
      sinks = Seq(Topology.SinkConf("s", Seq("nope"), Map(), None, Sinks.noop)),
      checkpointRoot = "/tmp/ckpt")
    val err = intercept[IllegalArgumentException](bad.validated)
    assert(err.getMessage.contains("unknown source"))
  }

  test("stats ticker emits per-query counter lines until closed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mon = Monitoring.attach(spark)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ticker = Monitoring.startTicker(mon, intervalMs = 50, emit = lines.add(_))
    try {
      val in = MemoryStream[Int]
      in.addData(1, 2)
      val q = in.toDF().writeStream.queryName("tick-q")
        .outputMode("append").format("noop").start()
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (!lines.toArray.exists(_.toString.contains("[tick-q]")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      q.stop()
      assert(lines.toArray.exists(_.toString.matches("""\[tick-q\] batches \d+ rows \d+""")))
    } finally {
      ticker.close()
      val n = lines.size()
      Thread.sleep(200) // closed ticker must emit nothing further
      assert(lines.size() === n)
      spark.streams.removeListener(mon)
    }
  }

  test("config file: round-trips the reference TOML shape into a running topology") {
    import graft.streaming.TopologyConfig
    val root = Files.createTempDirectory("graft-cfg").toString
    val inDir = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    writeSegment(inDir, "seg-000.json", Seq(
      ChangeEvent("h", "db", "users", "insert", 1L, new Timestamp(1700000001000L), "c-1", Map("id" -> "1")),
      ChangeEvent("h", "db", "misc", "delete", 2L, new Timestamp(1700000002000L), "c-2", Map("id" -> "2"))))
    val toml =
      s"""# reference-shaped topology (psql-streamer.toml)
         |checkpointRoot = "$root/ckpt"
         |
         |[source.db1]
         |type = "file"
         |dir = "$inDir"            # stream directory
         |batchSize = 10            # maxFilesPerTrigger
         |batchFlushInterval = 100
         |
         |[sink.kafka1]
         |type = "parquet"
         |sources = [ "db1" ]
         |tableTopicMapping = { users = "t.users" }
         |topicFallback = "t.fallback"
         |path = "$root/out"
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$root/topology.toml"), toml)
    val cfg = TopologyConfig.fromFile(s"$root/topology.toml")
    assert(cfg.sources.head.maxFilesPerTrigger === 10)
    assert(cfg.sources.head.dedupWatermark === None)
    val queries = Topology.start(spark, cfg)
    try {
      queries.foreach(_.processAllAvailable())
      val out = spark.read.parquet(s"$root/out")
      assert(out.count() === 2)
      assert(out.select("topic").distinct().collect().map(_.getString(0)).toSet
        === Set("t.users", "t.fallback"))
    } finally Topology.stopAll(queries)
  }

  test("config file: rejects undefined source subscription and duplicate names") {
    import graft.streaming.TopologyConfig
    val base =
      """checkpointRoot = "/tmp/ckpt"
        |[source.db1]
        |dir = "/tmp/in"
        |[sink.s1]
        |type = "noop"
        |sources = [ "db1" ]
        |topicFallback = "t"
        |""".stripMargin
    // sanity: base parses
    TopologyConfig.fromString(base)
    val unknownSrc = base.replace("""sources = [ "db1" ]""", """sources = [ "nope" ]""")
    val e1 = intercept[TopologyConfig.ConfigError](TopologyConfig.fromString(unknownSrc))
    assert(e1.getMessage.contains("source 'nope' undefined"))
    val dup = base + "\n[source.db1]\ndir = \"/tmp/in2\"\n"
    val e2 = intercept[TopologyConfig.ConfigError](TopologyConfig.fromString(dup))
    assert(e2.getMessage.contains("duplicate section 'source.db1'"))
    val noSinkSources = base.replace("""sources = [ "db1" ]""", "sources = []")
    val e3 = intercept[TopologyConfig.ConfigError](TopologyConfig.fromString(noSinkSources))
    assert(e3.getMessage.contains("no sources defined"))
  }

  test("control plane: /health /stats /metrics /debug; /status turns 500 on failure") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mon = Monitoring.attach(spark)
    var debugSeen = false
    val cp = new ControlPlane(mon, d => debugSeen = d).start(0)

    def get(path: String): (Int, String) = {
      val c = new java.net.URL(s"http://127.0.0.1:${cp.boundPort}$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = c.getResponseCode
      val is = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = scala.io.Source.fromInputStream(is).mkString
      c.disconnect()
      (code, body)
    }

    try {
      // a healthy query to populate the counters (with an observe()
      // so the /metrics observed-gauge path is exercised too)
      val in = MemoryStream[Int]
      in.addData(1, 2, 3)
      val ok = in.toDF().observe("probe", count(lit(1)).as("n"))
        .writeStream.queryName("cp-ok")
        .outputMode("append").format("noop").start()
      ok.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (mon.rowsProcessed("cp-ok") < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      ok.stop()

      assert(get("/health") === ((200, "Alive and well\n")))
      val (sc1, statusBody) = get("/status")
      assert(sc1 === 200 && statusBody.contains("[cp-ok] ok"))
      val (_, statsBody) = get("/stats")
      assert(statsBody.contains("[cp-ok] batches") && statsBody.contains("rows 3"))
      val (_, metricsBody) = get("/metrics")
      assert(metricsBody.contains("# TYPE graft_query_rows_total counter"))
      assert(metricsBody.contains("""graft_query_rows_total{query="cp-ok"} 3"""))
      assert(metricsBody.contains("""graft_query_batches_total{query="cp-ok"}"""))
      assert(metricsBody.contains(
        """graft_observed{query="cp-ok",observation="probe",metric="n"} 3"""),
        s"observed gauge missing:\n$metricsBody")
      // the latest trigger's phases and rates, read off the live query
      def gauge(name: String, labels: String): Option[Double] =
        (java.util.regex.Pattern.quote(s"""$name{query="cp-ok",$labels}""") + """ (\S+)""").r
          .findFirstMatchIn(metricsBody).map(_.group(1).toDouble)
      assert(gauge("graft_trigger_phase_ms", """phase="addBatch"""").exists(_ >= 0),
        s"addBatch phase missing:\n$metricsBody")
      assert(gauge("graft_rows_per_second", """kind="input"""").exists(_ >= 0),
        s"input rate missing:\n$metricsBody")
      assert(gauge("graft_rows_per_second", """kind="processed"""").exists(_ > 0),
        s"processed rate missing:\n$metricsBody")

      // a change-event source held at a gap exports its backlog: the
      // gap opens after the last batch, so only idle triggers (every
      // 100 ms here) report it
      val wal = Files.createTempDirectory("graft-cp-wal").toString
      def ev(w: Long) = ChangeEvent("h", "db", "users", "insert", w,
        new Timestamp(1700000000000L + w * 1000), s"g-$w", Map("id" -> w.toString))
      writeSegment(wal, "seg-000.json", Seq(ev(1)))
      val idleKey = "spark.sql.streaming.noDataProgressEventInterval"
      spark.conf.set(idleKey, "100ms")
      val held = try CdcPipeline.fileSource(spark, wal).writeStream.queryName("cp-cdc")
        .outputMode("append").format("noop").start()
      finally spark.conf.unset(idleKey)
      try {
        held.processAllAvailable()
        writeSegment(wal, "seg-002.json", Seq(ev(3)))
        val d1 = System.currentTimeMillis() + 15000
        while (!mon.sourceMetrics("cp-cdc").contains("waitingForSegment") &&
          System.currentTimeMillis() < d1) Thread.sleep(50)
      } finally held.stop()
      val (_, backlogBody) = get("/metrics")
      assert(backlogBody.contains("# TYPE graft_source gauge"))
      assert(backlogBody.contains("""graft_source{query="cp-cdc",metric="waitingForSegment"} 1.0"""),
        s"source gauge missing:\n$backlogBody")
      val unread = """graft_source\{query="cp-cdc",metric="unreadSegments"\} (\S+)""".r
        .findFirstMatchIn(backlogBody).map(_.group(1).toDouble)
      assert(unread.exists(_ > 0), s"unreadSegments missing or 0:\n$backlogBody")
      for (m <- Seq("committedSegment", "landedBelowStart"))
        assert(backlogBody.contains(s"""graft_source{query="cp-cdc",metric="$m"} 0.0"""),
          s"$m gauge missing:\n$backlogBody")
      assert(get("/debug/on") === ((200, "Debug is now true\n")) && debugSeen && cp.isDebug)
      assert(get("/debug/off") === ((200, "Debug is now false\n")) && !debugSeen && !cp.isDebug)
      assert(get("/debug/maybe")._1 === 400)

      // a query that dies → /status flips to 500 with the error text
      val bad = MemoryStream[Int]
      bad.addData(1)
      val failing = bad.toDF().writeStream.queryName("cp-bad")
        .outputMode("append")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("sink exploded")
        }.start()
      intercept[Exception](failing.awaitTermination(30000))
      val d2 = System.currentTimeMillis() + 15000
      while (mon.healthy && System.currentTimeMillis() < d2) Thread.sleep(50)
      val (sc2, badBody) = get("/status")
      assert(sc2 === 500 && badBody.contains("[cp-bad]"))
    } finally {
      cp.stop()
      spark.streams.removeListener(mon)
    }
  }

  test("control plane: /metrics exports a live dropDuplicates query's state rows and bytes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val mon = Monitoring.attach(spark)
    val cp = new ControlPlane(mon, _ => ()).start(0)
    val in = MemoryStream[Int]
    val q = in.toDF().dropDuplicates("value").writeStream.queryName("cp-state")
      .outputMode("append").format("noop").start()
    try {
      in.addData(1, 2, 2, 3)
      q.processAllAvailable()
      in.addData(3, 4)
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 15000
      while (mon.batchesProcessed("cp-state") < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val c = new java.net.URL(s"http://127.0.0.1:${cp.boundPort}/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = try scala.io.Source.fromInputStream(c.getInputStream).mkString finally c.disconnect()
      def gauge(name: String): Option[Double] =
        (java.util.regex.Pattern.quote(s"""$name{query="cp-state",operator="dedupe"}""") + """ (\S+)""").r
          .findFirstMatchIn(body).map(_.group(1).toDouble)
      assert(body.contains("# TYPE graft_state_rows gauge"))
      // four distinct values held by the dedup after the second trigger
      assert(gauge("graft_state_rows") === Some(4.0), s"state rows missing:\n$body")
      assert(gauge("graft_state_memory_bytes").exists(_ > 0), s"state bytes missing:\n$body")
    } finally {
      q.stop()
      cp.stop()
      spark.streams.removeListener(mon)
    }
  }

  test("topology: file source → two subscribed sinks, monitored") {
    val root = Files.createTempDirectory("graft-topo").toString
    val inDir = s"$root/in"; Files.createDirectories(java.nio.file.Paths.get(inDir))
    // write one "WAL segment" file of envelope JSON
    val events = Seq(
      ChangeEvent("h", "db", "users", "insert", 1L, new Timestamp(1700000001000L), "u-1", Map("id" -> "1")),
      ChangeEvent("h", "db", "orders", "update", 2L, new Timestamp(1700000002000L), "u-2", Map("id" -> "2")),
      ChangeEvent("h", "db", "misc", "delete", 3L, new Timestamp(1700000003000L), "u-3", Map("id" -> "3")))
    writeSegment(inDir, "seg-000.json", events)

    val mon = Monitoring.attach(spark)
    val cfg = Topology.Config(
      sources = Seq(Topology.SourceConf("src1", inDir, dedupWatermark = None)),
      sinks = Seq(
        Topology.SinkConf("users-topic", Seq("src1"),
          Map("users" -> "t.users", "orders" -> "t.orders"), Some("t.fallback"),
          Sinks.withRetry(Sinks.parquet(s"$root/out1"))),
        Topology.SinkConf("audit", Seq("src1"), Map(), Some("t.audit"),
          Sinks.parquet(s"$root/out2"))),
      checkpointRoot = s"$root/ckpt")
    val queries = Topology.start(spark, cfg)
    try {
      assert(queries.size === 1) // one source → one query, two writers
      queries.foreach(_.processAllAvailable())
      val out1 = spark.read.parquet(s"$root/out1")
      val out2 = spark.read.parquet(s"$root/out2")
      assert(out1.count() === 3 && out2.count() === 3)
      val topics1 = out1.select("topic").distinct().collect().map(_.getString(0)).toSet
      assert(topics1 === Set("t.users", "t.orders", "t.fallback"))
      assert(out2.select("topic").distinct().count() === 1) // all to audit
      // M2: listener saw the rows; M3: healthy status
      val deadline = System.currentTimeMillis() + 15000
      while (mon.rowsProcessed("graft-src1") < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(mon.rowsProcessed("graft-src1") >= 3)
      assert(mon.healthy)
      // in-plan observe() counters arrived under the source's name
      val om = mon.observedMetrics("graft-src1")
      assert(om.contains("src1"), s"observed metrics missing: $om")
      assert(om("src1")("events") === "3")
      assert(om("src1")("invalid_action") === "0")
    } finally {
      Topology.stopAll(queries) // graceful: drain final batch, then stop
      assert(queries.forall(!_.isActive))
      spark.streams.removeListener(mon)
    }
  }
}
