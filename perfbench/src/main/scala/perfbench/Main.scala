package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM. `run.py` builds the classpath and
  * starts this with
  * {{{
  *   --workload <cdc_replay|batch_mix> --seed <n> --seconds <n>
  *   --trace <0|1> --data <sf0.1 dir> --work <work dir> --expected <tsv>
  * }}}
  * and reads the lines it prints: `note: ...` lines for people, and one
  * `result: {...}` line with the measured metrics. A traced run also
  * writes `spans.jsonl` into the work directory.
  *
  * `--workload record` instead prints the (rows, hash) line of every
  * `batch_mix` query, the input of `expected.tsv`. */
object Main {
  def session(cores: Int, work: Path): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", 100000L)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def load1(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0)

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-ups measured per run; `setup_s` is their median. */
  val SetUps = 3

  /** Sets the workload up `SetUps` times, each on a fresh session:
    * session start plus `prepare`. Returns the last session, what its
    * `prepare` returned, and the time of each set-up in seconds. */
  private def setUp[T](cores: Int, work: Path)(prepare: (SparkSession, Int) => T)
      : (SparkSession, T, Seq[Double]) = {
    var spark: SparkSession = null
    var prepared: Option[T] = None
    val times = (0 until SetUps).map { r =>
      if (spark != null) spark.stop()
      timed {
        spark = session(cores, work)
        prepared = Some(prepare(spark, r))
      }._2
    }
    Clock.mark(s"set up $SetUps times")
    (spark, prepared.get, times)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val sfDir = opt("data")
    val work = Files.createDirectories(Paths.get(opt("work")).toAbsolutePath)
    // half the processors: the task threads then leave room for the
    // driver, stream execution, JIT and GC threads. With every processor
    // running tasks, identical batch_mix runs spread 2.5 times wider.
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    println(s"note: nproc ${Runtime.getRuntime.availableProcessors()}, local[$cores], load1 at start ${load1()}")

    var spark: SparkSession = null
    val (m, setUps) = workload match {
      case "record" =>
        spark = session(cores, work)
        BatchMix.Queries.foreach { q =>
          val (rows, hash) = BatchMix.checksum(graft.SparkEntry.queries(q)(spark, sfDir))
          println(s"record: $q\t$rows\t$hash")
        }
        spark.stop()
        return

      case "cdc_replay" =>
        val archive = Cdc.archiveSegments(seconds)
        val (s, input, setUps) = setUp(cores, work) { (spark, r) =>
          val input = Cdc.load(spark, sfDir, seed, archive)
          Cdc.warmUp(spark, input, work.resolve(s"warmup-$r"))
          input
        }
        spark = s
        val m = measure(trace, work, (dir, tracer) => Cdc.replay(spark, input, work.resolve(dir),
          if (dir == "local1") archive / 2 else archive, tracer), () => {
          spark.stop()
          spark = session(1, work.resolve("local1"))
        })
        (m, setUps)

      case "batch_mix" =>
        val expected = Files.readAllLines(Paths.get(opt("expected"))).asScala
          .filterNot(l => l.isEmpty || l.startsWith("#"))
          .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
        // the first set-up checks every result instead of a plain warm
        // pass: a cold pass either way, outside the timed window
        var checked = (Set.empty[String], Seq.empty[String])
        val (s, _, setUps) = setUp(cores, work) { (spark, r) =>
          if (r == 0) checked = BatchMix.check(spark, sfDir, BatchMix.Queries, expected)
          else BatchMix.warm(spark, sfDir, BatchMix.Queries.filterNot(checked._1))
        }
        spark = s
        val (failed, wrong) = checked
        val queries = BatchMix.Queries.filterNot(failed)
        val m = measure(trace, work, (dir, tracer) => BatchMix.run(spark, sfDir, queries,
            if (dir == "local1") seconds / 2 else seconds, tracer),
          () => {
            spark.stop()
            spark = session(1, work.resolve("local1"))
          })
        (m.copy(attempted = m.attempted + failed.size, failed = failed.size, wrong = wrong ++ m.wrong),
          setUps)

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spark.stop()
    Clock.mark("session stopped")

    val endToEnd = m.endToEnd ++
      Map("setup_s" -> Stats.median(setUps), "peak_rss_mb" -> peakRssMb())
    println(setUps.map(s => f"$s%.2f").mkString("note: set-ups ", " s, ", " s"))
    m.notes.foreach(n => println(s"note: $n"))
    m.wrong.foreach(w => println(s"note: WRONG $w"))
    println(s"note: load1 at end ${load1()}")
    println(s"""result: {"correct": ${m.wrong.isEmpty}, "attempted": ${m.attempted}, """ +
      s""""failed": ${m.failed}, "end_to_end": ${json(endToEnd)}, "per_layer": ${json(m.layers)}}""")
  }

  /** Untraced: one measurement. Traced: the traced measurement first,
    * then an untraced one, so the tracing overhead (traced minus
    * untraced end-to-end numbers) is not flattered by JIT warm-up, then
    * the single-core baseline on the session `local1` switches to. */
  private def measure(trace: Boolean, work: Path, run: (String, Tracer) => Measurement,
      local1: () => Unit): Measurement =
    if (!trace) run("untraced", new Tracer(false))
    else {
      val tracer = new Tracer(true)
      val traced = run("traced", tracer)
      tracer.write(work.resolve("spans.jsonl"))
      val m = run("untraced", new Tracer(false))
      local1()
      val baseline = run("local1", new Tracer(false)).endToEnd
      traced.copy(
        layers = traced.layers ++
          m.endToEnd.map { case (k, v) => s"trace.overhead.$k" -> (traced.endToEnd(k) - v) } ++
          baseline.map { case (k, v) => s"baseline.local1.$k" -> v },
        attempted = traced.attempted + m.attempted,
        failed = traced.failed + m.failed,
        wrong = traced.wrong ++ m.wrong,
        notes = traced.notes.map("traced " + _) ++ m.notes)
    }
}
