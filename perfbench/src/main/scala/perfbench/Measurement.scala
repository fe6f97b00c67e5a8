package perfbench

/** What one measured pass of a workload yields. `endToEnd` holds the
  * user-visible metrics, `layers` the traced per-layer ones (empty when
  * tracing is off). `attempted`/`failed` count operations; `wrong`
  * lists outputs that are incorrect rather than missing. */
final case class Measurement(
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    attempted: Long,
    failed: Long,
    wrong: Seq[String],
    notes: Seq[String] = Nil)

/** Wall and epoch time from one origin, so spans built from Spark's
  * progress timestamps (epoch ms) and spans timed in the benchmark
  * (`nanoTime`) share a time line. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L

  def epochNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def epochMs(): Double = epochNs() / 1e6

  /** Prints how far into the run (since JVM start) a step ended. */
  def mark(step: String): Unit = {
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println(f"note: t=${(System.currentTimeMillis() - start) / 1000.0}%.1f s $step")
  }
}
