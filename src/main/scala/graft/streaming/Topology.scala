package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** M4 — config-driven topology: N sources × M sinks with sinks
  * subscribing to sources by name (reference: config.go:34-120,
  * psql-streamer.toml:12-137). The reference wires one mux per source
  * and a subscriber list per sink; here every (source, subscribed
  * sinks) pair becomes ONE streaming query whose `foreachBatch` fans
  * out to all subscribed sinks at once ([[CdcPipeline.muxFanout]]) —
  * the batch is read once, matching the reference's single-read
  * fan-out, and the checkpoint per source is the WAL-position store.
  * Local checkpoints and sinks go through the fork-free `file:`
  * filesystem described at [[CdcPipeline]].
  *
  * Plain case classes instead of TOML: the topology is data, and a
  * config file format is a deserialization detail, not engine surface.
  */
object Topology {

  /** One change-event source (S1/S2 stand-in: a directory of numbered
    * segment files, read by [[CdcPipeline.fileSource]]). */
  final case class SourceConf(
      name: String,
      dir: String,
      maxFilesPerTrigger: Int = 1,            // mux batchSize analog
      triggerMs: Long = 1000L,                // mux batchFlushInterval analog
      dedupWatermark: Option[String] = Some("10 minutes"))

  /** One sink: routing table + fallback (R1) + a named writer. */
  final case class SinkConf(
      name: String,
      sources: Seq[String],                   // subscribe-by-name, config.go:98-110
      mapping: Map[String, String],
      fallback: Option[String],
      writer: DataFrame => Unit)

  final case class Config(sources: Seq[SourceConf], sinks: Seq[SinkConf],
      checkpointRoot: String) {
    def validated: Config = {
      val srcNames = sources.map(_.name).toSet
      require(sources.nonEmpty, "at least one source")
      require(sources.map(_.name).distinct.size == sources.size, "duplicate source name")
      for (s <- sinks; ref <- s.sources)
        require(srcNames.contains(ref), s"sink ${s.name} subscribes to unknown source $ref")
      this
    }
  }

  /** Graceful shutdown (reference: handleShutdown, main.go:59-96 —
    * stop intake, flush buffered batches to sinks, then close): drain
    * every query's available data so the final micro-batch commits,
    * then stop. A plain `stop()` mid-batch would be safe too (replay
    * on next start) but loses the "flush on shutdown" promptness. */
  def stopAll(queries: Seq[StreamingQuery]): Unit = {
    queries.foreach { q =>
      try q.processAllAvailable()
      catch { case _: Throwable => } // already-failed query: just stop it
      q.stop()
    }
  }

  /** Build + start every per-source streaming query. Sinks subscribing
    * to the same source share one query (single read, multi-write
    * through [[CdcPipeline.muxFanout]], which writes them concurrently,
    * so two sinks must not share an output directory); each source
    * checkpoints independently, so one source stalling never holds
    * back another — same isolation as the reference's per-source mux
    * goroutines. */
  def start(spark: SparkSession, config: Config): Seq[StreamingQuery] = {
    val cfg = config.validated
    cfg.sources.flatMap { src =>
      val subscribed = cfg.sinks.filter(_.sources.contains(src.name))
      if (subscribed.isEmpty) Nil
      else {
        val raw = CdcPipeline.fileSource(spark, src.dir, src.maxFilesPerTrigger)
        // in-plan quality counters (events/invalid/missing) surface on
        // every progress event under the source's name — free M2 stats
        val env0 = CdcPipeline.validated(CdcPipeline.observed(raw, src.name))
        val env = src.dedupWatermark.fold(env0)(w => CdcPipeline.deduped(env0, w))
        // sinks may differ in routing: serialize per sink inside the
        // fan-out, from the one persisted batch
        val writers = subscribed.map { sk =>
          sk.name -> { (batch: DataFrame) =>
            val wired = CdcPipeline.toWire(batch, sk.mapping, sk.fallback)
            sk.writer(wired)
          }
        }
        Seq(CdcPipeline.muxFanout(env, writers, s"${cfg.checkpointRoot}/${src.name}",
            Trigger.ProcessingTime(src.triggerMs))
          .queryName(s"graft-${src.name}")
          .start())
      }
    }
  }
}
