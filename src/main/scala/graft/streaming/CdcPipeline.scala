package graft.streaming

import graft.model.ChangeEvent
import graft.operators.CdcOps
import graft.sources.CdcFileSource
import org.apache.commons.io.FileUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** The reference's streaming topology on Structured Streaming.
  *
  * Reference shape (source → mux → sinks → commit):
  *   - a source emits change events (source/postgres/postgres.go:242-296,
  *     source/kafka/kafka.go:145-197),
  *   - the mux buffers them and flushes on count OR time
  *     (mux/mux.go:96-153),
  *   - each flush fans the batch out to every subscribed sink with retry
  *     (mux/mux.go:169-189),
  *   - only after ALL sinks ACK does the progress marker advance
  *     (mux/mux.go:193-198) — at-least-once with replay.
  *
  * Spark mapping: micro-batch execution IS the mux. `Trigger.ProcessingTime`
  * is the time trigger, `maxFilesPerTrigger`/`maxOffsetsPerTrigger` the count
  * trigger, and the checkpoint's offset→commit log IS the WAL-position store:
  * offsets are committed only after the batch's sinks complete, so a crash
  * mid-batch replays it — the same at-least-once contract, for free.
  * `foreachBatch` + persist gives the reference's single-read multi-sink
  * fan-out, with the sinks of a batch written concurrently ([[fanOut]]);
  * `dropDuplicates` within a watermark upgrades replayed duplicates
  * to effectively-once, which the reference cannot do.
  *
  * At scale: every transform here is narrow (no shuffle) except the
  * windowed aggregations, which shuffle once on the window key with
  * map-side partial aggregation — the minimum possible.
  *
  * Local files: on `file:` paths a trigger creates and renames many
  * small files (offset and commit log entries, state-store deltas,
  * sink files). The program's `core-site.xml` serves `file:` with
  * [[graft.fs.NioRawLocalFileSystem]]: Hadoop's
  * local filesystem with `setPermission` and `getFileLinkStatus`
  * answered by `java.nio.file` instead of a forked `chmod` and
  * `readlink`. A deployment's own `core-site.xml` earlier on the
  * classpath takes precedence; HDFS and object stores are untouched.
  */
object CdcPipeline {

  /** The change-event source: the sandbox stand-in for the PG
    * replication / Kafka source (S1/S2). Each numbered file in `dir` is
    * a WAL segment, read in number order ([[CdcFileSource]]);
    * `maxFilesPerTrigger` is the count-trigger analog of the mux
    * batchSize (mux/mux.go:57). The one `readStream` of the program. */
  def fileSource(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.format(CdcFileSource.Name).option("path", dir)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).load()

  /** Envelope validation (F1+F2) on a streaming frame: the batch
    * queries' valid-action filter ([[CdcOps.filterActions]]) plus the
    * uuid check; Catalyst doesn't care that the source streams. */
  def validated(envelopes: DataFrame): DataFrame =
    CdcOps.filterActions(envelopes).filter(col("uuid").isNotNull && (col("uuid") =!= ""))

  /** Per-batch data-quality counters via `Dataset.observe` — the M2
    * counters (reference: per-event atomic increments,
    * postgres.go:431-447) computed INSIDE the batch plan at zero extra
    * passes: `events` (rows seen), `invalid_action`, `missing_uuid`.
    * They surface on every `QueryProgressEvent.observedMetrics` under
    * `name`, where [[Monitoring]] records them — apply BEFORE
    * `validated` so the drop counts are visible, not silently filtered. */
  def observed(envelopes: DataFrame, name: String = "cdc"): DataFrame =
    envelopes.observe(name,
      count(lit(1)).as("events"),
      // a null action makes the predicate null, which takes the
      // `otherwise` arm: counted, as validated() drops it
      sum(when(CdcOps.validAction, 0L).otherwise(1L)).as("invalid_action"),
      sum(when(col("uuid").isNull || col("uuid") === "", 1L)
        .otherwise(0L)).as("missing_uuid"))

  /** Watermarked dedup by uuid: collapses at-least-once replays inside
    * the watermark horizon. `dropDuplicatesWithinWatermark` ties state
    * eviction to the watermark even though the dedup key itself carries
    * no event time — plain `dropDuplicates("uuid")` would keep every
    * uuid forever (the watermark only evicts state for keys that
    * INCLUDE the event-time column). Bounded state is the whole point:
    * an unbounded dedup set OOMs at 100 TB. */
  def deduped(envelopes: DataFrame, watermark: String = "10 minutes"): DataFrame =
    envelopes
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("uuid")

  /** Tumbling (or, with `slide` < `window`, SLIDING) event-time counts
    * per (window, table, action) — the streaming form of the mux flush
    * statistics (M2 counters), with late data bounded by the watermark.
    * A sliding window assigns each event to window/slide overlapping
    * windows (a smoothed rate view); state stays bounded by the
    * watermark either way. */
  def windowedCounts(envelopes: DataFrame, window: String = "5 minutes",
                     watermark: String = "10 minutes",
                     slide: Option[String] = None): DataFrame =
    envelopes
      .withWatermark("timestamp", watermark)
      .groupBy(
        slide.fold(org.apache.spark.sql.functions.window(col("timestamp"), window)) {
          s => org.apache.spark.sql.functions.window(col("timestamp"), window, s)
        }.as("w"),
        col("table"), col("action"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("table"), col("action"), col("n"))

  /** Route + key + serialize: the full sink-side handler chain
    * (R1→R2→H1) as one streaming transform, producing the
    * (topic, key, value) triple Spark's Kafka sink consumes natively. */
  def toWire(envelopes: DataFrame, mapping: Map[String, String],
             fallback: Option[String]): DataFrame =
    CdcOps.serialize(CdcOps.withKey(CdcOps.route(envelopes, col("table"), mapping, fallback)),
        ChangeEvent.schema.fieldNames.toIndexedSeq)
      .select("topic", "key", "value")

  /** Multi-sink fan-out with the reference's commit ordering
    * (mux/mux.go:169-198): one micro-batch is read once, persisted, and
    * written to every sink; the checkpoint (≡ WAL position / consumer
    * offsets) advances only when this function returns, i.e. after ALL
    * sinks ACK. A sink failure fails the batch → replay → at-least-once.
    * `sinks` are (name, batchWriter) pairs, the Spark analog of the
    * reference's sink.Subscribe list (config.go:98-110). The sinks of
    * one batch run concurrently (see [[fanOut]]). */
  def muxFanout(wire: DataFrame, sinks: Seq[(String, DataFrame => Unit)],
                checkpoint: String,
                trigger: Trigger = Trigger.ProcessingTime("1 second")): DataStreamWriter[org.apache.spark.sql.Row] =
    muxFanoutIdempotent(wire,
      sinks.map { case (name, write) => name -> ((batch: DataFrame, _: Long) => write(batch)) },
      checkpoint, trigger)

  /** [[muxFanout]] variant whose sinks also receive the epoch id —
    * for idempotent writers ([[Sinks.idempotentParquet]]) that key
    * output by epoch so replays overwrite instead of duplicate. */
  def muxFanoutIdempotent(wire: DataFrame,
      sinks: Seq[(String, (DataFrame, Long) => Unit)],
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): DataStreamWriter[org.apache.spark.sql.Row] =
    wire.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => fanOut(batch, batchId, sinks) }

  /** Writes one persisted batch to every sink at once, one thread per
    * sink, so a trigger costs its slowest sink rather than the sum of
    * all of them. The reference's mux writes its sinks one after
    * another (mux/mux.go:173-189); its contract, all sinks ACK and
    * then the position advances, never depended on that order. The
    * threads are started here, on the stream thread, so they inherit
    * the query's job group and SQL properties: `StreamingQuery.stop`
    * cancels their jobs, and its interrupt is passed on to them. Every
    * sink is waited for, also after one fails; the first failure is
    * rethrown with the others suppressed on it, which fails the batch
    * before its offsets commit. Sinks must therefore not share an
    * output directory.
    *
    * The batch is persisted and handed to the sinks as
    * [[sizedToSource]] shapes it: with as many partitions as its source
    * read, never more than it has. A streaming query plans without
    * adaptive execution, so a batch behind a stateful operator (the
    * dedup) otherwise has `spark.sql.shuffle.partitions` partitions,
    * and every sink would write with that many tasks and files however
    * few events the trigger holds. Sized, a trigger that admits one
    * segment writes each sink with one task and one file per topic;
    * one that admits k segments keeps min(k, state partitions)
    * writers — the source's one-reader-per-segment scale shape. The
    * coalesce is narrow: the dedup's state-store partitions are
    * computed inside the sink task, each under its own partition
    * index. */
  private def fanOut(batch: DataFrame, batchId: Long,
      sinks: Seq[(String, (DataFrame, Long) => Unit)]): Unit = {
    val sized = sizedToSource(batch)
    val failed = new Array[Throwable](sinks.size)
    val threads = sinks.zipWithIndex.map { case ((name, write), i) =>
      new Thread(() => try write(sized, batchId) catch { case t: Throwable => failed(i) = t },
        s"$FanOutThreadPrefix$name-$batchId")
    }
    sized.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      threads.foreach(_.start())
      threads.foreach(_.join())
    } catch {
      case stop: InterruptedException => threads.foreach(_.interrupt()); throw stop
    } finally {
      // no sink may outlive the batch it reads, not even on stop
      threads.foreach(t => while (t.isAlive) try t.join() catch { case _: InterruptedException => })
      sized.unpersist()
    }
    failed.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
  }

  /** `batch` coalesced to the number of partitions its source read: the
    * partitions of the leaves of its RDD lineage, one per admitted
    * segment for [[CdcFileSource]]. A batch with no more partitions
    * than that is returned as it is; an empty read keeps one. */
  private def sizedToSource(batch: DataFrame): DataFrame = {
    val rdd = batch.queryExecution.toRdd
    val read = math.max(1, leafPartitions(rdd))
    if (read >= rdd.getNumPartitions) batch else batch.coalesce(read)
  }

  /** Total partitions of the RDDs with no dependencies in `rdd`'s
    * lineage, each RDD counted once. */
  private def leafPartitions(rdd: RDD[_]): Int = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Int =
      if (!seen.add(r.id)) 0
      else if (r.dependencies.isEmpty) r.getNumPartitions
      else r.dependencies.map(d => walk(d.rdd)).sum
    walk(rdd)
  }

  /** Name prefix of the [[fanOut]] sink threads. */
  private[graft] val FanOutThreadPrefix = "graft-fanout-"

  /** Per-topic partitioned parquet sink: the file-sink stand-in for the
    * Kafka sink's per-topic batches (sink/kafka/kafka.go:257-287), the
    * pipeline's name for [[Sinks.parquet]]: `partitionBy(topic)` is the
    * per-topic grouping — one directory per topic, written in a single
    * pass with no extra shuffle. */
  def parquetTopicSink(outDir: String)(batch: DataFrame): Unit =
    Sinks.parquet(outDir)(batch)

  // ---- maintained CDC state: a base plus deltas, merged on read ----

  /** Schema of the maintained snapshot state: latest envelope per key,
    * INCLUDING delete tombstones (see [[mergeSnapshot]]). */
  val snapshotSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("walPosition", LongType),
    StructField("action", StringType), StructField("columns", MapType(StringType, StringType))))

  /** How one maintained state is kept: its schema, the change rows a
    * batch adds to it, and the rule that collapses any union of change
    * rows to the state. Both collapses are idempotent and ignore the
    * order of their input, so a row merged twice, or merged again
    * after a later one, changes nothing. */
  private final case class StateRule(schema: StructType,
      changes: (DataFrame, String) => DataFrame, collapse: DataFrame => DataFrame)

  private val SnapshotRule = StateRule(snapshotSchema,
    (batch, keyField) => CdcOps.changes(batch, keyField, col("columns")),
    CdcOps.latestPerKey(_, Seq("columns")))

  /** Current snapshot state — see [[stateRelation]]. */
  def snapshotState(spark: SparkSession, stateDir: String): DataFrame =
    stateRelation(spark, stateDir, SnapshotRule)

  /** Merge one micro-batch of envelopes into the snapshot state: per
    * key, keep the change with the highest WAL position. Delete
    * tombstones are RETAINED in the state (filtered only in
    * [[snapshotView]]): dropping them at merge time would let a
    * replayed older update resurrect a deleted key — with tombstones,
    * the merge is a pure per-key max, so replaying any batch (the
    * at-least-once contract) is a no-op. */
  def mergeSnapshot(state: DataFrame, batch: DataFrame, keyField: String): DataFrame =
    merge(SnapshotRule, state, batch, keyField)

  /** foreachBatch sink maintaining a parquet-backed snapshot of the
    * replicated table — the streaming counterpart of the batch
    * `cdc_snapshot` query, kept merge-on-read in `stateDir`:
    *   - `delta-<batchId>-<uuid>`: one trigger's change rows
    *     ([[CdcOps.changes]]), unmerged;
    *   - `base-<n>`: a fold, the state collapsed by [[mergeSnapshot]],
    *     with `_absorbed` inside it naming every delta it supersedes;
    *   - names starting with `_`: writes not yet committed.
    *
    * An ordinary trigger lists the directory and writes its batch as a
    * new delta: no state read, no merge, one write job as narrow as a
    * topic sink's. Every [[FoldEvery]]-th trigger folds instead: it
    * merges the newest base, the deltas that base did not absorb and
    * the batch in one write job, writes `_absorbed`, and commits the
    * new base with one rename; the bases and deltas it supersedes are
    * deleted only after that rename. Every write lands under a hidden
    * `_` name first and becomes visible by one directory rename, so a
    * reader sees a batch whole or not at all. [[snapshotState]] reads
    * the newest base plus its unabsorbed deltas and collapses them by
    * the same rule.
    *
    * Crash windows, each harmless because the collapse is idempotent:
    * a delta committed before its batch commits is written again by
    * the replay, under another name; a fold that dies before its
    * rename leaves a hidden directory readers skip and the next fold
    * deletes; a fold renamed before its cleanup leaves deltas its
    * `_absorbed` names, which readers skip and the next fold deletes.
    * Absorption is by name, never by batch id, because a fresh
    * checkpoint over an existing state numbers its batches from 0
    * again. One query writes a state directory at a time.
    *
    * The fold is sized to its input ([[stateUnion]]): while the base
    * and deltas fit one file split it runs in one stage, with no
    * shuffle, and writes one file; beyond that it shuffles on the key
    * into `spark.sql.shuffle.partitions` tasks. State size is O(live
    * keys + tombstones). At 100 TB, partition the state by key-hash
    * bucket and fold only the buckets the deltas touch. */
  def snapshotSink(stateDir: String, keyField: String)(batch: DataFrame, batchId: Long): Unit =
    stateSink(stateDir, keyField, SnapshotRule)(batch, batchId)

  /** The queryable snapshot: live rows only (tombstones hidden). */
  def snapshotView(spark: SparkSession, stateDir: String): DataFrame =
    snapshotState(spark, stateDir)
      .filter(col("action") =!= ChangeEvent.Delete)

  /** Files of change events → validate → maintained snapshot. */
  def snapshotPipeline(spark: SparkSession, inDir: String, stateDir: String,
                       checkpoint: String, keyField: String): StreamingQuery =
    muxFanoutIdempotent(validated(fileSource(spark, inDir)),
      Seq("snapshot" -> snapshotSink(stateDir, keyField) _), checkpoint,
      Trigger.ProcessingTime(0)).start()

  /** Top-k rows per window from a windowed-counts relation — the
    * "trending tables" view. Ranking ACROSS keys is not expressible in
    * append-mode streaming (a row's rank can change until its window
    * closes), so this runs inside foreachBatch on the epoch's counts —
    * the epoch batch is exactly where cross-key ranking belongs. The
    * input is already the AGGREGATED windowed relation (tiny: windows ×
    * tables × actions), so a deterministic window rank is right-sized
    * here; `q_topk_per_group_agg`'s bounded-heap aggregator is the
    * shape to switch to if the per-window key space ever rivals the
    * event volume. */
  def topPerWindow(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("table"), col("action"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("window_start"), col("rank"), col("table"), col("action"), col("n"))
      .orderBy(col("window_start"), col("rank"))
  }

  // ---- streaming SCD2 maintenance (append-version history) ----

  /** Schema of the maintained SCD2 state: the ACCEPTED CHANGE SET —
    * one row per (key, walPosition), never collapsed to current-only;
    * the snapshot's columns plus the change's timestamp in µs (`tus`).
    * Version numbers and validity windows are DERIVED in
    * [[scd2History]], not stored: the history is a deterministic pure
    * function of this set, which is what makes replays free (merging
    * a batch twice adds no rows → derived history unchanged). */
  val scd2StateSchema: StructType = StructType(snapshotSchema.fields :+ StructField("tus", LongType))

  private val Scd2Rule = StateRule(scd2StateSchema,
    (batch, keyField) => CdcOps.changes(batch, keyField, col("columns"),
      unix_micros(col("timestamp")).as("tus")),
    _.dropDuplicates("key", "walPosition"))

  /** Current SCD2 change set — see [[stateRelation]]. */
  def scd2State(spark: SparkSession, stateDir: String): DataFrame =
    stateRelation(spark, stateDir, Scd2Rule)

  /** Merge one micro-batch into the SCD2 change set: union + dedup on
    * (key, walPosition). A replayed batch contributes only rows that
    * already exist — the at-least-once contract costs nothing, exactly
    * like [[mergeSnapshot]]'s tombstone-retaining max. Duplicate rows
    * are bit-identical (same source change), so the dedup pick is
    * immaterial. */
  def mergeScd2(state: DataFrame, batch: DataFrame, keyField: String): DataFrame =
    merge(Scd2Rule, state, batch, keyField)

  /** foreachBatch sink maintaining the SCD2 change set — the
    * APPEND-VERSION output mode of the snapshot pipeline: instead of
    * overwriting each key with its latest image, every accepted change
    * persists and [[scd2History]] serves the full version history.
    * Same base/delta layout, fold and crash windows as
    * [[snapshotSink]], merged by [[mergeScd2]]. An ordinary trigger
    * writes only its batch's accepted changes, so its cost follows the
    * batch, not the stream's history; the history is rewritten once
    * per fold. */
  def scd2Sink(stateDir: String, keyField: String)(batch: DataFrame, batchId: Long): Unit =
    stateSink(stateDir, keyField, Scd2Rule)(batch, batchId)

  /** The queryable SCD2 dimension: per-key version chain with validity
    * windows — the streaming counterpart of the batch `cdc_scd2` query,
    * derived by the same rule ([[CdcOps.scd2Versions]]): versions
    * numbered in WAL order, `valid_to_s` = next version's start,
    * deletes close their predecessor's window but emit no row
    * themselves. */
  def scd2History(spark: SparkSession, stateDir: String): DataFrame =
    CdcOps.scd2Versions(scd2State(spark, stateDir))
      .select(col("key"), col("version"), col("action"), col("walPosition"),
        col("valid_from_s"), col("valid_to_s"), col("is_current"), col("columns"))

  // ---- the base/delta layout shared by both states ----

  /** Every how many triggers a state sink folds: the fold trigger's
    * one merge job is paid once per this many triggers, and a read
    * between folds collapses at most this many deltas. */
  private[graft] val FoldEvery = 8

  /** The file inside a base that names the deltas it absorbed. */
  private val AbsorbedFile = "_absorbed"

  /** The committed entries of a state directory (`bases` by number,
    * `deltas`) and the hidden ones (`pending`) that uncommitted writes
    * left behind. */
  private final case class StateDir(dir: Path, bases: Seq[(Long, Path)], deltas: Seq[Path],
      pending: Seq[Path]) {
    /** The newest committed base. */
    def base: Option[Path] = bases.maxByOption(_._1).map(_._2)
    /** The deltas [[base]] did not absorb. */
    def live: Seq[Path] = {
      val absorbed = base.fold(Set.empty[String])(
        b => Files.readAllLines(b.resolve(AbsorbedFile)).asScala.toSet)
      deltas.filterNot(d => absorbed(d.getFileName.toString))
    }
  }

  private val BaseName = """base-(\d+)""".r

  /** Lists `stateDir`. Any other entry fails the read, so a directory
    * of another layout, such as one whole generation written straight
    * into `stateDir`, is never taken for an empty state. */
  private def listState(stateDir: String): StateDir = {
    val dir = Paths.get(stateDir)
    val named = Option(dir.toFile.listFiles).fold(Seq.empty[Path])(_.toSeq.map(_.toPath))
      .map(p => p.getFileName.toString -> p)
    val other = named.collect { case (n, _)
      if !BaseName.matches(n) && !n.startsWith("delta-") && !n.startsWith("_") => n }
    require(other.isEmpty, s"$stateDir is not a base/delta state directory: it holds ${other.mkString(", ")}")
    StateDir(dir,
      named.collect { case (BaseName(n), p) => n.toLong -> p },
      named.collect { case (n, p) if n.startsWith("delta-") => p },
      named.collect { case (n, p) if n.startsWith("_") => p })
  }

  /** The state in `stateDir`: the newest base, with its unabsorbed
    * deltas collapsed into it when there are any (empty before the
    * first trigger) — ONE implementation for every maintained state so
    * the layout contract cannot diverge. Not `Tables.parquet`: the
    * schema is passed in, so the read infers nothing, and the files
    * change every trigger, so a resolved relation would never be
    * reused. */
  private def stateRelation(spark: SparkSession, stateDir: String, rule: StateRule): DataFrame = {
    val state = listState(stateDir)
    val live = state.live
    val parts = read(spark, state.base.toSeq ++ live, rule.schema)
    if (live.isEmpty) parts else rule.collapse(parts)
  }

  private def read(spark: SparkSession, parts: Seq[Path], schema: StructType): DataFrame =
    if (parts.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(parts.map(_.toString): _*)

  /** The one sink body of [[snapshotSink]] and [[scd2Sink]]: a delta
    * on an ordinary trigger, a fold on every [[FoldEvery]]-th. Deltas
    * are counted, not their batch ids, so the rhythm survives a fresh
    * checkpoint; deltas left by a crashed cleanup only bring the next
    * fold forward. */
  private def stateSink(stateDir: String, keyField: String, rule: StateRule)(
      batch: DataFrame, batchId: Long): Unit = {
    val state = listState(stateDir)
    if (state.deltas.size + 1 < FoldEvery)
      commit(rule.changes(batch, keyField), state.dir.resolve(s"delta-$batchId-${UUID.randomUUID}"))(_ => ())
    else {
      val input = read(batch.sparkSession, state.base.toSeq ++ state.live, rule.schema)
      val next = state.bases.map(_._1).maxOption.fold(0L)(_ + 1)
      commit(merge(rule, input, batch, keyField), state.dir.resolve(s"base-$next")) { tmp =>
        // every listed delta: those read now and those the old base absorbed
        Files.write(tmp.resolve(AbsorbedFile), state.deltas.map(_.getFileName.toString).asJava)
      }
      (state.bases.map(_._2) ++ state.deltas ++ state.pending)
        .foreach(p => FileUtils.forceDelete(p.toFile))
    }
  }

  /** Writes `rows` under a hidden name next to `to`, lets `seal` add to
    * the written directory, and commits it as `to` with one rename. */
  private def commit(rows: DataFrame, to: Path)(seal: Path => Unit): Unit = {
    val tmp = to.resolveSibling(s"_${UUID.randomUUID}")
    rows.write.parquet(tmp.toString)
    seal(tmp)
    Files.move(tmp, to, StandardCopyOption.ATOMIC_MOVE)
  }

  /** `rule`'s merge of `batch` into `state`. */
  private def merge(rule: StateRule, state: DataFrame, batch: DataFrame, keyField: String): DataFrame =
    rule.collapse(stateUnion(state, rule.changes(batch, keyField)))

  /** `state ∪ changes`, the input of a per-key merge, in one partition
    * when the state fits one file split: its planned size is at most
    * `spark.sql.files.maxPartitionBytes`, Spark's split size for a
    * file; an empty state fits. One partition already clusters every
    * key, so the merge plans no exchange: it runs in one stage and
    * writes one file. The rule judges bytes, not the partitions Spark
    * would plan, because Spark packs several small files (a base and
    * its deltas) into more than one split. A larger state is left as
    * it is, and the merge shuffles on the key. */
  private def stateUnion(state: DataFrame, changes: DataFrame): DataFrame = {
    val both = state.unionByName(changes)
    if (state.queryExecution.optimizedPlan.stats.sizeInBytes <=
        state.sparkSession.sessionState.conf.filesMaxPartitionBytes) both.coalesce(1)
    else both
  }

  /** Files of change events → validate → maintained SCD2 history. */
  def scd2Pipeline(spark: SparkSession, inDir: String, stateDir: String,
                   checkpoint: String, keyField: String): StreamingQuery =
    muxFanoutIdempotent(validated(fileSource(spark, inDir)),
      Seq("scd2" -> scd2Sink(stateDir, keyField) _), checkpoint,
      Trigger.ProcessingTime(0)).start()

  /** End-to-end flagship stream: files of change events → validate →
    * dedup → route/serialize → fan-out to N sinks, checkpointed.
    * Start + awaitTermination is the caller's choice. */
  def pipeline(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String,
               mapping: Map[String, String],
               fallback: Option[String] = Some("topic.default")): StreamingQuery =
    muxFanoutIdempotent(toWire(deduped(validated(fileSource(spark, inDir))), mapping, fallback),
      Seq("parquet" -> ((b: DataFrame, _: Long) => parquetTopicSink(outDir)(b))), checkpoint)
      .start()
}
