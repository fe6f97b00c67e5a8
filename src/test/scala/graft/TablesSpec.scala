package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The parquet resolver behind `Tables`: each input resolves once per
  * session, every read is a fresh relation, and a changed file, a
  * changed read setting or a new session resolves again. */
class TablesSpec extends SparkSpec {

  private val sf01 = Paths.get(sf).resolveSibling("sf0.01").toString

  /** Spark jobs submitted while `body` runs. Listener delivery is async,
    * so a marker job is run before and after `body` and awaited: the
    * bus delivers in order, so every job `body` started has been seen
    * once the second marker arrives. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    @volatile var seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == "tables-spec-marker")) {
          seen.countDown()
        } else jobs.incrementAndGet()
    }
    def sync(): Unit = {
      seen = new CountDownLatch(1)
      sc.setJobDescription("tables-spec-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
    }
    sc.addSparkListener(listener)
    try {
      sync()
      jobs.set(0)
      body
      sync()
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def tempDir(): Path = Files.createTempDirectory("graft_tables")

  test("a second lineitem read in one session submits no Spark job") {
    val s = spark.newSession()
    Tables.lineitem(s, sf01)
    assert(jobsDuring(Tables.lineitem(s, sf01)) === 0)
  }

  test("a second read of one stored-artifact directory submits no Spark job") {
    val s = spark.newSession()
    val dir = tempDir().resolve("artifact").toString
    s.range(0, 100, 1, 3).withColumn("v", col("id") * 2).write.parquet(dir)
    Files.write(Paths.get(dir, "_graft_meta"), "7".getBytes("UTF-8"))
    Tables.parquet(s, dir)
    assert(jobsDuring(Tables.parquet(s, dir)) === 0)
  }

  test("two reads have disjoint expression IDs and self-join like two spark.read reads") {
    val (a, b) = (Tables.nation(spark, sf01), Tables.nation(spark, sf01))
    assert(a.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(b.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    def pairs(x: DataFrame, y: DataFrame) =
      x.join(y, x("n_regionkey") === y("n_regionkey") && x("n_nationkey") < y("n_nationkey"))
        .select(x("n_name"), y("n_name")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val path = s"$sf01/nation.parquet"
    val want = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert(want.nonEmpty)
    assert(pairs(a, b) === want)
  }

  test("a file rewritten with a different schema reads back with the new schema and rows") {
    val s = spark.newSession()
    val dir = tempDir().resolve("t").toString
    s.range(0, 5).write.parquet(dir)
    assert(Tables.parquet(s, dir).columns.toSeq === Seq("id"))
    s.range(0, 7).select(col("id").cast("string").as("name")).write.mode("overwrite").parquet(dir)
    val again = Tables.parquet(s, dir)
    assert(again.columns.toSeq === Seq("name"))
    assert(again.collect().map(_.getString(0)).toSet === (0 until 7).map(_.toString).toSet)
  }

  test("flipping binaryAsString between reads gives spark.read.parquet's schema each time") {
    val s = spark.newSession()
    // written by plain parquet-mr: a file Spark wrote carries its own
    // schema in the footer, and binaryAsString does not apply to it
    val dir = tempDir().resolve("bin.parquet").toString
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(dir))
      .withType(schema).build()
    try Seq("x", "y").foreach(v => writer.write(new SimpleGroupFactory(schema).newGroup().append("b", v)))
    finally writer.close()
    for ((flag, want) <- Seq("false" -> BinaryType, "true" -> StringType, "false" -> BinaryType)) {
      s.conf.set("spark.sql.parquet.binaryAsString", flag)
      val got = Tables.parquet(s, dir).schema
      assert(got === s.read.parquet(dir).schema)
      assert(got("b").dataType === want)
    }
  }

  test("a new session does not see the first session's entry") {
    val s1 = spark.newSession()
    Tables.region(s1, sf01)
    assert(jobsDuring(Tables.region(s1, sf01)) === 0)
    val s2 = s1.newSession()
    assert(jobsDuring(Tables.region(s2, sf01)) > 0,
      "a new session must resolve the input itself")
  }

  test("a missing path fails like spark.read.parquet, and resolves once the file exists") {
    val s = spark.newSession()
    val path = tempDir().resolve("later.parquet").toString
    val want = intercept[AnalysisException](s.read.parquet(path))
    val got = intercept[AnalysisException](Tables.parquet(s, path))
    assert(got.getClass === want.getClass)
    assert(got.getCondition === want.getCondition)
    assert(got.getCondition === "PATH_NOT_FOUND")
    s.range(0, 4).write.parquet(path)
    assert(Tables.parquet(s, path).count() === 4)
  }
}
