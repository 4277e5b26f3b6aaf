package graft.serve

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.CopyOnWriteArraySet
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.OracleJson.quote
import graft.etl.Runner

/** The reference's HTTP control + SSE serving shell (index.js:46-355)
  * re-expressed over the Spark-native [[Runner]] — the process boundary
  * a user operates the engine through:
  *
  *  - `POST /api/start-etl` {"schedule": "* * * * *"} — start the cron
  *    scheduler (400 when already running / invalid pattern,
  *    index.js:46-111)
  *  - `POST /api/start-etl-force` — one synchronous run NOW, returns the
  *    processed/skipped totals (index.js:113-164)
  *  - `POST /api/stop-etl` — cooperative stop (400 when not running,
  *    index.js:166-206)
  *  - `GET /api/etl-status`, `GET /health` — scheduler state + uptime
  *    (index.js:328-355)
  *  - `GET /api/logs`, `DELETE /api/logs` — last-100 run-log page
  *    (newest first) / clear (index.js:208-275)
  *  - `GET /api/logs/stream` — `text/event-stream` live tail: `connected`
  *    on attach, one `log` event per appended line, `clear` on log clear
  *    (index.js:277-312)
  *
  * Built on the JDK's embedded HttpServer (no new dependencies). The
  * HTTP layer holds NO pipeline logic: every endpoint delegates to
  * [[Runner]] (run, the cron loop, history) so the surface
  * a curl reaches and the programmatic surface the registry gates are
  * the same code. Runs land in the in-memory log ring (the /api/logs
  * page + SSE feed) and, when `historyPath` is set, in the persisted
  * keyed-parquet run history ([[Runner.persistReport]] — the durable
  * twin of the reference's RSBSAetl.log file).
  *
  * Scale note: the shell is a CONTROL plane. Work runs on the cluster
  * through the session it wraps; the server itself only ever touches
  * run reports (stage-count-sized) and the bounded log ring.
  */
class HttpShell(spark: SparkSession, stages: Seq[Runner.Stage],
                historyPath: Option[String] = None,
                requestedPort: Int = 0,
                bindAddress: String = "127.0.0.1",
                logZone: Option[String] = None) {

  private val iso = DateTimeFormatter.ISO_LOCAL_DATE_TIME

  /** Log-ring timestamp: UTC-naive ISO by default (the engine's
    * UTC-everywhere convention); with `logZone` set (e.g.
    * "Asia/Manila"), the reference logger's zone-offset shape
    * `yyyy-MM-ddTHH:mm:ss.SSS+08:00` (utils/logger.js:23-43). */
  private def stampNow(): String =
    HttpShell.stamp(logZone, java.time.Instant.now())

  private val running = new AtomicBoolean(false)
  private val schedule = new AtomicReference[Option[String]](None)
  private val startedAt = new AtomicReference[Option[LocalDateTime]](None)
  private val lastRunAt = new AtomicReference[Option[LocalDateTime]](None)
  private val schedThread = new AtomicReference[Option[Thread]](None)
  // the stop flag of the scheduler loop or forced run last started: each
  // start makes a fresh one, so a stop reaches only this shell's own run
  private val stopFlag = new AtomicReference(new AtomicBoolean(false))
  private def freshStop(): AtomicBoolean = {
    val f = new AtomicBoolean(false)
    stopFlag.set(f)
    f
  }
  // run ids continue the stored history's, so a restarted shell over the
  // same historyPath does not upsert its run 1 over an earlier run 1
  private val runSeq = new AtomicLong(historyPath
    .filter(graft.sinks.KeyedParquetSink.tableExists(spark, _))
    .map(Runner.runHistory(spark, _)
      .agg(org.apache.spark.sql.functions.max("run_id")).head())
    .collect { case r if !r.isNullAt(0) => r.getLong(0) }
    .getOrElse(0L))

  // bounded in-memory run log (the /api/logs page + SSE source); entry =
  // (timestamp, message)
  private val LogLimit = 1000
  private val logRef =
    new AtomicReference[List[(String, String)]](Nil)
  private val sseClients = new CopyOnWriteArraySet[OutputStream]()

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private val heartbeat = new AtomicReference[Option[Thread]](None)

  /** Bind and start; returns the bound port (pass 0 to pick a free one).
    * Binds LOOPBACK by default: the shell is a control plane that can
    * start/stop pipeline runs and clear logs, so exposing it beyond the
    * host is an explicit caller decision (`bindAddress = "0.0.0.0"`) —
    * the reference's open `app.listen(port)` is not inherited. */
  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(
      java.net.InetAddress.getByName(bindAddress), requestedPort), 0)
    // exact-path dispatch: the JDK context matches by PREFIX, so without
    // the path guards any POST /api/start-etl-anything would silently
    // trigger a run instead of 404ing
    server.createContext("/api/start-etl", ex => route(ex) {
      case "POST" if ex.getRequestURI.getPath == "/api/start-etl" =>
        startScheduler(new String(
          ex.getRequestBody.readAllBytes(), UTF_8))
      case "POST" if ex.getRequestURI.getPath == "/api/start-etl-force" =>
        forceRun()
      case "POST" => (404, obj("message" -> quote("not found")))
      case _ => (405, obj("message" -> quote("method not allowed")))
    })
    server.createContext("/api/stop-etl", ex => route(ex) {
      case "POST" => stopScheduler()
      case _ => (405, obj("message" -> quote("method not allowed")))
    })
    server.createContext("/api/etl-status", ex => route(ex) {
      case "GET" => (200, statusJson(healthShape = false))
      case _ => (405, obj("message" -> quote("method not allowed")))
    })
    server.createContext("/health", ex => route(ex) {
      case "GET" => (200, statusJson(healthShape = true))
      case _ => (405, obj("message" -> quote("method not allowed")))
    })
    server.createContext("/api/logs", ex =>
      ex.getRequestURI.getPath match {
        case "/api/logs/stream" if ex.getRequestMethod == "GET" => sse(ex)
        case "/api/logs/stream" => route(ex) {
          case _ => (405, obj("message" -> quote("method not allowed")))
        }
        case "/api/logs" => route(ex) {
          case "GET" => logsPage()
          case "DELETE" => clearLogs()
          case _ => (405, obj("message" -> quote("method not allowed")))
        }
        case _ => route(ex) {
          case _ => (404, obj("message" -> quote("not found")))
        }
      })
    // a small worker pool: SSE clients hold their handler thread for the
    // lifetime of the connection, so the control endpoints need their
    // own. DAEMON threads + explicit shutdown in stop(): HttpServer.stop
    // does NOT shut down a user-supplied executor, and a non-daemon pool
    // would keep the embedding JVM alive after main returns (observed:
    // a registry sweep that ran etl_http_shell hung sbt for hours).
    pool = java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-http-worker")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.start()
    // SSE heartbeat: a periodic comment line per attached client. Dead
    // connections are only ever detected by a failed write, so without
    // the heartbeat a vanished client lingers in sseClients until the
    // next real event; with it, reaping is bounded by the ping period.
    val hb = new Thread(() => {
      try while (server != null) {
        Thread.sleep(15000)
        sseClients.forEach { out =>
          try { out.write(":ping\n\n".getBytes(UTF_8)); out.flush() }
          catch { case _: Throwable => sseClients.remove(out); () }
        }
      } catch { case _: InterruptedException => () }
    }, "graft-http-sse-heartbeat")
    hb.setDaemon(true)
    heartbeat.set(Some(hb))
    hb.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    stopScheduler()
    heartbeat.getAndSet(None).foreach(_.interrupt())
    sseClients.forEach(out => try out.close() catch { case _: Throwable => () })
    sseClients.clear()
    if (server != null) server.stop(0)
    if (pool != null) { pool.shutdownNow(); () }
  }

  // --- endpoint bodies ----------------------------------------------------

  private def alreadyRunning(): (Int, String) =
    (400, obj(
      "message" -> quote("ETL scheduler is already running"),
      "currentSchedule" -> schedule.get().map(quote).getOrElse("null"),
      "startTime" -> startedAt.get().map(t => quote(iso.format(t)))
        .getOrElse("null")))

  private def startScheduler(body: String): (Int, String) = {
    if (running.get()) return alreadyRunning()
    // minimal {"schedule": "..."} body parse (the only field the
    // reference reads, index.js:65); absent → the reference's default
    val pat = """"schedule"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val cronExpr = pat.findFirstMatchIn(body)
      .map(_.group(1).replace("\\\"", "\"")).getOrElse("* * * * *")
    Runner.cron(cronExpr) match {
      case Left(err) =>
        (400, obj("message" -> quote("Invalid cron schedule pattern"),
          "error" -> quote(err),
          "validExample" -> quote("* * * * * (every minute)")))
      case Right(cron) =>
        // CAS is the real guard: two concurrent POSTs both passing the
        // fast-path check above must not start two cron threads (the
        // first would become untracked and uninterruptible)
        if (!running.compareAndSet(false, true)) return alreadyRunning()
        val stop = freshStop()
        schedule.set(Some(cronExpr))
        startedAt.set(Some(LocalDateTime.now()))
        val t = new Thread(() =>
          try Runner.cronLoop(cron, Int.MaxValue, stop)(runOnce(stop))
          catch { case _: InterruptedException => () },
          "graft-http-cron")
        t.setDaemon(true)
        schedThread.set(Some(t))
        t.start()
        log(s"ETL scheduler started with schedule '$cronExpr'")
        (200, obj("message" -> quote("ETL scheduler started successfully"),
          "schedule" -> quote(cronExpr),
          "startTime" -> quote(iso.format(startedAt.get().get))))
    }
  }

  private def forceRun(): (Int, String) = {
    // CAS guard: concurrent POSTs must not double-run the pipeline
    if (!running.compareAndSet(false, true))
      return (400, obj("message" -> quote(
        "ETL process is already running. Stop the scheduler first or " +
          "wait for it to complete."),
        "currentSchedule" -> schedule.get().map(quote).getOrElse("null")))
    try {
      log("Starting forced ETL process")
      val report = runOnce(freshStop())
      val skipped = report.results.count(!_.ok).toLong
      (200, obj(
        "message" -> quote("Forced ETL process completed successfully"),
        "ok" -> report.ok.toString,
        "processed" -> report.totalRows.toString,
        "skipped" -> skipped.toString))
    } catch {
      case e: Throwable =>
        (500, obj("message" -> quote("Forced ETL process failed"),
          "error" -> quote(Option(e.getMessage).getOrElse(
            e.getClass.getName))))
    } finally running.set(false)
  }

  private def stopScheduler(): (Int, String) = {
    if (!running.get())
      return (400, obj(
        "message" -> quote("ETL scheduler is not running")))
    stopFlag.get().set(true)
    running.set(false)
    schedThread.getAndSet(None).foreach(_.interrupt())
    val stopped = schedule.getAndSet(None)
    startedAt.set(None)
    log("ETL scheduler stopped")
    (200, obj("message" -> quote("ETL scheduler stopped successfully"),
      "stoppedSchedule" -> stopped.map(quote).getOrElse("null"),
      "lastRun" -> lastRunAt.get().map(t => quote(iso.format(t)))
        .getOrElse("null")))
  }

  private def logsPage(): (Int, String) = {
    val last = logRef.get().take(100) // ring is newest-first already
    val items = last.map { case (ts, m) =>
      obj("timestamp" -> quote(ts), "message" -> quote(m))
    }.mkString("[", ",", "]")
    (200, obj("message" -> quote("Logs retrieved successfully"),
      "logs" -> items, "count" -> last.size.toString))
  }

  private def clearLogs(): (Int, String) = {
    logRef.set(Nil)
    broadcast("clear", "{}")
    (200, obj("message" -> quote("Logs cleared successfully")))
  }

  private def statusJson(healthShape: Boolean): String = {
    val up = startedAt.get() match {
      case Some(t) if running.get() =>
        val s = java.time.Duration.between(t, LocalDateTime.now()).getSeconds
        f"${s / 3600}%dh ${s / 60 % 60}%dm ${s % 60}%ds"
      case _ => "0h 0m 0s"
    }
    if (healthShape)
      obj("status" -> quote("healthy"),
        "etlScheduler" -> quote(if (running.get()) "running" else "stopped"),
        "startTime" -> startedAt.get().map(t => quote(iso.format(t)))
          .getOrElse("null"),
        "uptime" -> quote(up))
    else
      obj("isRunning" -> running.get().toString,
        "currentSchedule" -> schedule.get().map(quote).getOrElse("null"),
        "lastRun" -> lastRunAt.get().map(t => quote(iso.format(t)))
          .getOrElse("null"),
        "startTime" -> startedAt.get().map(t => quote(iso.format(t)))
          .getOrElse("null"),
        "uptime" -> quote(up))
  }

  // --- internals ------------------------------------------------------

  /** One pipeline run: Runner.run + per-stage log lines + optional
    * persisted report. The HTTP layer adds nothing to the semantics. */
  private def runOnce(stop: AtomicBoolean): Runner.RunReport = {
    lastRunAt.set(Some(LocalDateTime.now()))
    // live progress tail while the run executes: poll Progress's
    // per-stage task fractions and stream them as `progress`
    // SSE events — the serving twin of the reference's live log %.
    // Poll-only-when-watched: zero cost without attached clients.
    def emitProgress(): Unit =
      if (!sseClients.isEmpty)
        graft.etl.Progress.snapshot().foreach { sp =>
          broadcast("progress", obj(
            "stage" -> quote(sp.stage),
            "tasks_done" -> sp.tasksDone.toString,
            "tasks_total" -> sp.tasksTotal.toString,
            "pct" -> math.round(sp.fraction * 100).toString))
        }
    val pollerDone = new AtomicBoolean(false)
    val poller = new Thread(() => {
      try while (!pollerDone.get()) { emitProgress(); Thread.sleep(100) }
      catch { case _: InterruptedException => () }
    }, "graft-http-progress")
    poller.setDaemon(true)
    poller.start()
    val report =
      try Runner.run(spark, stages, stop = stop)
      finally {
        pollerDone.set(true); poller.interrupt()
        // final snapshot AFTER the run: an attached tail always sees the
        // completed fractions even when the run outpaces the poll tick
        emitProgress()
      }
    val runId = runSeq.incrementAndGet()
    report.results.foreach { r =>
      log(s"run $runId stage ${r.stage}: " +
        (if (r.ok) s"ok rows=${r.rows}" else s"FAILED ${r.error}") +
        s" attempts=${r.attempts}")
    }
    historyPath.foreach(p => Runner.persistReport(spark, p, runId, report))
    report
  }

  private def log(msg: String): Unit = {
    val ts = stampNow()
    logRef.updateAndGet(l => ((ts, msg) :: l).take(LogLimit))
    broadcast("log",
      obj("timestamp" -> quote(ts), "message" -> quote(msg)))
  }

  private def broadcast(event: String, data: String): Unit =
    sseClients.forEach { out =>
      try {
        out.write(s"event: $event\ndata: $data\n\n".getBytes(UTF_8))
        out.flush()
      } catch {
        case _: Throwable => sseClients.remove(out); ()
      }
    }

  /** SSE attach: chunked response left OPEN on handler return (the
    * exchange is never closed here, which is what keeps the stream
    * alive — for a bodiless GET the request-body read below returns -1
    * immediately, it does NOT park). Later events arrive via
    * [[broadcast]]; disconnected clients are reaped when a broadcast
    * or the periodic heartbeat write to them fails. */
  private def sse(ex: HttpExchange): Unit = {
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0)
    val out = ex.getResponseBody
    out.write(("event: connected\ndata: " +
      obj("message" -> quote("Connected to log stream")) + "\n\n")
      .getBytes(UTF_8))
    out.flush()
    sseClients.add(out)
    // drain whatever request body exists (none for a GET: returns -1)
    try { ex.getRequestBody.read(); () }
    catch { case _: Throwable => () }
  }

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${quote(k)}: $v" }
      .mkString("{", ", ", "}")

  private def route(ex: HttpExchange)(
      f: PartialFunction[String, (Int, String)]): Unit = {
    val (code, body) =
      try f.applyOrElse(ex.getRequestMethod,
        (_: String) => (405, obj("message" -> quote("method not allowed"))))
      catch {
        case e: Throwable =>
          (500, obj("message" -> quote("Internal server error"),
            "error" -> quote(Option(e.getMessage).getOrElse(
              e.getClass.getName))))
      }
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val out = ex.getResponseBody
    try { out.write(bytes); out.flush() } finally out.close()
  }
}

object HttpShell {
  /** Render `now` for the log ring: no zone → UTC-naive ISO (engine
    * convention); with a zone id → the reference logger's millisecond
    * ISO-8601-with-offset shape, e.g. Asia/Manila →
    * `2026-08-17T06:15:42.123+08:00` (utils/logger.js getPHTTimestamp). */
  private[serve] def stamp(zone: Option[String],
                           now: java.time.Instant): String = zone match {
    case Some(z) =>
      java.time.ZonedDateTime.ofInstant(now, java.time.ZoneId.of(z))
        .format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxxx"))
    case None =>
      DateTimeFormatter.ISO_LOCAL_DATE_TIME.format(
        LocalDateTime.ofInstant(now, java.time.ZoneOffset.UTC))
  }
}
