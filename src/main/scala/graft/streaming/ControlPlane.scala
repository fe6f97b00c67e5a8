package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

/** M3 — the reference's HTTP control plane (http.go:17-95) over the
  * existing [[Monitoring]] listener, using the JDK's built-in
  * `com.sun.net.httpserver` (no new dependencies):
  *
  *   - `/health`  — liveness, always 200 ("Alive and well", http.go:20-22)
  *   - `/status`  — per-component status; 500 if ANY query is unhealthy
  *                  (http.go:24-42 returns 500 when any Status() errors)
  *   - `/stats`   — one counter line per query (http.go:44-48, the
  *                  Stats() string the ticker also logs, stats.go:30-36)
  *   - `/debug/on|off` — toggles a debug flag via callback, 400 on any
  *                  other form (http.go:50-75 SetDebug fan-out)
  *   - `/metrics` — Prometheus text exposition of the per-query
  *                  counters, observed metrics, source metrics, and the
  *                  latest trigger's phases and rows per second
  *                  (http.go:77 promhttp; metric shape follows
  *                  sink/prom/prometheus.go:10-43's labeled counters,
  *                  with the query name as the label)
  *
  * The server runs on its own daemon thread pool, entirely off the
  * query hot path — it only reads the listener's counters, so the cost
  * at 100 TB is zero.
  */
final class ControlPlane(monitoring: Monitoring,
    onDebug: Boolean => Unit = _ => ()) {

  private var server: HttpServer = _
  private val debug = new AtomicBoolean(false)

  def isDebug: Boolean = debug.get()

  /** Port actually bound (useful with port=0 for tests). */
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Prometheus text exposition format (one family per counter,
    * `query` label per streaming query). */
  private[streaming] def metricsText: String = {
    val sb = new StringBuilder
    // Label values must escape \ " and newline per the Prometheus text
    // exposition format — an unescaped quote in a query name would make
    // the whole /metrics page unparseable to scrapers.
    def esc(v: String): String =
      v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
    def family(name: String, help: String, typ: String)
        (value: String => Long): Unit = {
      sb.append(s"# HELP $name $help\n# TYPE $name $typ\n")
      monitoring.stats.keys.toSeq.sorted.foreach { q =>
        sb.append(s"""$name{query="${esc(q)}"} ${value(q)}""").append('\n')
      }
    }
    family("graft_query_rows_total", "Rows processed per query", "counter")(
      monitoring.rowsProcessed)
    family("graft_query_batches_total", "Micro-batches completed per query", "counter")(
      monitoring.batchesProcessed)
    def gauges(name: String, help: String, lines: Seq[String]): Unit =
      if (lines.nonEmpty) {
        sb.append(s"# HELP $name $help\n# TYPE $name gauge\n")
        lines.foreach(l => sb.append(l).append('\n'))
      }
    val queries = monitoring.stats.keys.toSeq.sorted
    // Dataset.observe snapshots (per query × observation × metric),
    // numeric values only — the in-plan quality counters
    gauges("graft_observed", "Latest Dataset.observe metrics per query", queries.flatMap { q =>
      monitoring.observedMetrics(q).toSeq.sortBy(_._1).flatMap { case (obs, ms) =>
        ms.toSeq.sortBy(_._1).flatMap { case (metric, v) =>
          v.toDoubleOption.map(d =>
            s"""graft_observed{query="${esc(q)}",observation="${esc(obs)}",metric="${esc(metric)}"} $d""")
        }
      }
    })
    // source metrics, e.g. the CDC source's backlog (unread segments,
    // the segment a gap holds the source at)
    gauges("graft_source", "Latest source metrics per query", queries.flatMap { q =>
      monitoring.sourceMetrics(q).toSeq.sortBy(_._1).map { case (metric, d) =>
        s"""graft_source{query="${esc(q)}",metric="${esc(metric)}"} $d"""
      }
    })
    // the latest trigger's phases and rates: where a trigger's time goes
    gauges("graft_trigger_phase_ms", "Latest trigger's durationMs phases per query", queries.flatMap { q =>
      monitoring.triggerPhases(q).toSeq.sortBy(_._1).map { case (phase, ms) =>
        s"""graft_trigger_phase_ms{query="${esc(q)}",phase="${esc(phase)}"} $ms"""
      }
    })
    // the latest trigger's state per stateful operator (e.g. the dedup)
    gauges("graft_state_rows", "Latest trigger's state rows per stateful operator", queries.flatMap { q =>
      monitoring.stateOperators(q).map { case (op, rows, _) =>
        s"""graft_state_rows{query="${esc(q)}",operator="${esc(op)}"} $rows"""
      }
    })
    gauges("graft_state_memory_bytes", "Latest trigger's state memory bytes per stateful operator",
      queries.flatMap { q =>
        monitoring.stateOperators(q).map { case (op, _, bytes) =>
          s"""graft_state_memory_bytes{query="${esc(q)}",operator="${esc(op)}"} $bytes"""
        }
      })
    gauges("graft_rows_per_second", "Latest trigger's input and processed rows per second per query",
      queries.flatMap { q =>
        monitoring.rowsPerSecond(q).toSeq.flatMap { case (in, done) =>
          Seq("input" -> in, "processed" -> done).map { case (kind, d) =>
            s"""graft_rows_per_second{query="${esc(q)}",kind="$kind"} $d"""
          }
        }
      })
    sb.toString
  }

  def start(port: Int = 0): ControlPlane = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, "Alive and well\n"))
    server.createContext("/status", { (ex: HttpExchange) =>
      val body = monitoring.statuses.toSeq.sortBy(_._1).map {
        case (q, None)      => s"[$q] ok"
        case (q, Some(err)) => s"[$q] $err"
      }.mkString("", "\n", "\n")
      respond(ex, if (monitoring.healthy) 200 else 500, body)
    })
    server.createContext("/stats", { (ex: HttpExchange) =>
      val body = monitoring.stats.toSeq.sortBy(_._1)
        .map { case (q, s) => s"[$q] $s" }.mkString("", "\n", "\n")
      respond(ex, 200, body)
    })
    server.createContext("/debug/", { (ex: HttpExchange) =>
      ex.getRequestURI.getPath.split("/").filter(_.nonEmpty) match {
        case Array("debug", "on")  =>
          debug.set(true); onDebug(true); respond(ex, 200, "Debug is now true\n")
        case Array("debug", "off") =>
          debug.set(false); onDebug(false); respond(ex, 200, "Debug is now false\n")
        case _ =>
          respond(ex, 400, "Request should be in form /debug/[off|on]\n")
      }
    })
    server.createContext("/metrics", (ex: HttpExchange) =>
      respond(ex, 200, metricsText))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2,
      (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))
    server.start()
    this
  }

  /** Graceful stop (httpShutdown, http.go:98-103). */
  def stop(): Unit = if (server != null) server.stop(0)
}
