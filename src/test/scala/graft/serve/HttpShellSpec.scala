package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.Runner
import graft.sources.Tables

/** The reference's operating surface (index.js:46-355) driven over REAL
  * HTTP: start → status → force-run → logs → SSE tail → stop, against
  * the embedded [[HttpShell]] wrapping [[Runner]] on the shared test
  * session. Every assertion goes through a socket — nothing reaches
  * into the shell's internals. */
class HttpShellSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String,
                   body: String = ""): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  private def stages = Seq(
    Runner.Stage("clean_customer", sp => Tables.customer(sp, TestSpark.sf)),
    Runner.Stage("open_orders", sp =>
      Tables.orders(sp, TestSpark.sf).where(col("o_orderstatus") === "O")))

  test("health + status + force-run + logs page over real HTTP") {
    val shell = new HttpShell(spark, stages)
    val port = shell.start()
    try {
      val h = get(port, "/health")
      assert(h.statusCode() == 200 && h.body.contains("\"healthy\"")
        && h.body.contains("\"stopped\""))

      val st0 = get(port, "/api/etl-status")
      assert(st0.statusCode() == 200 &&
        st0.body.contains("\"isRunning\": false"))

      // force run: synchronous, returns the run's processed total —
      // which must equal the real row counts of the two stages
      val expect = Tables.customer(spark, TestSpark.sf).count() +
        Tables.orders(spark, TestSpark.sf)
          .where(col("o_orderstatus") === "O").count()
      val fr = post(port, "/api/start-etl-force")
      assert(fr.statusCode() == 200, fr.body)
      assert(fr.body.contains(s""""processed": $expect"""), fr.body)
      assert(fr.body.contains(""""skipped": 0"""))

      // the run is visible in status (lastRun set) and the Runner's own
      // programmatic status agrees — same code under both surfaces
      val st1 = get(port, "/api/etl-status")
      assert(!st1.body.contains("\"lastRun\": null"))
      assert(Runner.status.exists(r => r.ok && r.totalRows == expect))

      // logs page: newest-first entries for both stages
      val lg = get(port, "/api/logs")
      assert(lg.statusCode() == 200 && lg.body.contains("clean_customer")
        && lg.body.contains("open_orders") && lg.body.contains("rows="))

      // DELETE clears
      assert(delete(port, "/api/logs").statusCode() == 200)
      val lg2 = get(port, "/api/logs")
      assert(lg2.body.contains("\"count\": 0"), lg2.body)
    } finally shell.stop()
  }

  test("a restarted shell continues the stored run ids instead of reusing run 1") {
    val history = java.nio.file.Files.createTempDirectory("graft_shell_hist")
      .toString + "/runs"
    val one = Seq(Runner.Stage("one", sp => sp.range(3).toDF()))
    for (_ <- 1 to 2) {
      val shell = new HttpShell(spark, one, historyPath = Some(history))
      val port = shell.start()
      try assert(post(port, "/api/start-etl-force").statusCode() == 200)
      finally shell.stop()
    }
    val ids = Runner.runHistory(spark, history).select("run_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L))
  }

  test("scheduler lifecycle: invalid cron 400, start 200, double-start " +
    "400, stop 200, stop-again 400") {
    val shell = new HttpShell(spark, stages)
    val port = shell.start()
    try {
      val bad = post(port, "/api/start-etl", """{"schedule": "not a cron"}""")
      assert(bad.statusCode() == 400 &&
        bad.body.contains("Invalid cron schedule pattern"))

      // a far-off but valid schedule: the scheduler thread parks until
      // the fire time; lifecycle is what's under test here
      val ok = post(port, "/api/start-etl", """{"schedule": "0 0 1 1 *"}""")
      assert(ok.statusCode() == 200 && ok.body.contains("0 0 1 1 *"))

      val dup = post(port, "/api/start-etl", """{"schedule": "* * * * *"}""")
      assert(dup.statusCode() == 400 && dup.body.contains("already running"))
      // force-run also refuses while the scheduler owns the pipeline
      assert(post(port, "/api/start-etl-force").statusCode() == 400)

      val st = get(port, "/api/etl-status")
      assert(st.body.contains("\"isRunning\": true") &&
        st.body.contains("0 0 1 1 *"))
      assert(get(port, "/health").body.contains("\"running\""))

      val stop = post(port, "/api/stop-etl")
      assert(stop.statusCode() == 200 &&
        stop.body.contains("stopped successfully"))
      assert(post(port, "/api/stop-etl").statusCode() == 400)
    } finally shell.stop()
  }

  test("stopping a shell's scheduler leaves later Runner.run calls whole") {
    val shell = new HttpShell(spark, stages)
    val port = shell.start()
    try {
      assert(post(port, "/api/start-etl",
        """{"schedule": "0 0 1 1 *"}""").statusCode() == 200)
      assert(post(port, "/api/stop-etl").statusCode() == 200)
    } finally shell.stop()
    val two = Seq(Runner.Stage("a", sp => sp.range(2).toDF()),
      Runner.Stage("b", sp => sp.range(3).toDF()))
    val report = Runner.run(spark, two, retries = 1)
    assert(report.results.map(r => (r.stage, r.rows)) ==
      Seq(("a", 2L), ("b", 3L)))
  }

  test("stop-etl halts the shell's own run after its in-flight stage") {
    val inFlight = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val shell = new HttpShell(spark, Seq(
      Runner.Stage("first", sp => {
        inFlight.countDown(); release.await(); sp.range(3).toDF()
      }),
      Runner.Stage("second", sp => sp.range(5).toDF())))
    val port = shell.start()
    try {
      val forced = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        post(port, "/api/start-etl-force"))
      inFlight.await()
      assert(post(port, "/api/stop-etl").statusCode() == 200)
      release.countDown()
      val fr = forced.get()
      assert(fr.statusCode() == 200 &&
        fr.body.contains(""""processed": 3"""), fr.body)
      // a cron pattern that never fires is refused up front
      val never = post(port, "/api/start-etl", """{"schedule": "0 0 30 2 *"}""")
      assert(never.statusCode() == 400 && never.body.contains("never fires"),
        never.body)
    } finally shell.stop()
  }

  test("a near-term cron schedule actually fires the pipeline") {
    val shell = new HttpShell(spark, stages)
    val port = shell.start()
    try {
      // every minute — worst case ~60 s to the next fire; poll the logs
      // page until the run lands (bounded wait, no internals touched)
      assert(post(port, "/api/start-etl",
        """{"schedule": "* * * * *"}""").statusCode() == 200)
      val deadline = System.currentTimeMillis() + 90000L
      var fired = false
      while (!fired && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        fired = get(port, "/api/logs").body.contains("clean_customer")
      }
      assert(fired, "scheduled run did not fire within 90 s")
      assert(post(port, "/api/stop-etl").statusCode() == 200)
    } finally shell.stop()
  }

  test("SSE stream: connected handshake, then log events as a run lands") {
    val shell = new HttpShell(spark, stages)
    val port = shell.start()
    try {
      // raw socket: java.net.http buffers SSE awkwardly for partial reads
      val sock = new java.net.Socket("127.0.0.1", port)
      sock.setSoTimeout(60000)
      val out = sock.getOutputStream
      out.write(("GET /api/logs/stream HTTP/1.1\r\n" +
        s"Host: 127.0.0.1:$port\r\nAccept: text/event-stream\r\n\r\n")
        .getBytes(UTF_8))
      out.flush()
      val in = sock.getInputStream
      def readUntil(marker: String, deadlineMs: Long = 60000L): String = {
        val sb = new StringBuilder
        val t0 = System.currentTimeMillis()
        val buf = new Array[Byte](4096)
        while (!sb.toString.contains(marker) &&
          System.currentTimeMillis() - t0 < deadlineMs) {
          val n = in.read(buf)
          if (n > 0) sb.append(new String(buf, 0, n, UTF_8))
        }
        sb.toString
      }
      val head = readUntil("event: connected")
      assert(head.contains("200") &&
        head.contains("text/event-stream"), head)

      // a force run from another client must stream its stage lines to
      // the attached tail
      val fr = post(port, "/api/start-etl-force")
      assert(fr.statusCode() == 200)
      // marker matches only the LOG line ("run N stage open_orders: ok
      // rows=…"), so the buffer is read past any progress events first
      val events = readUntil("open_orders: ok")
      assert(events.contains("event: log") &&
        events.contains("clean_customer"), events.take(500))
      // ... and live per-stage task fractions from Progress (at least
      // the guaranteed end-of-run snapshot)
      assert(events.contains("event: progress") &&
        events.contains("\"tasks_total\""), events.take(500))
      sock.close()
    } finally shell.stop()
  }

  test("exact-path routing: unknown start-etl-prefixed POSTs 404 " +
      "instead of silently force-running; /api/logs/stream is GET-only") {
    val shell = new HttpShell(spark, stages)
    val port = shell.start()
    try {
      // the JDK context matches by prefix — these must NOT reach forceRun
      assert(post(port, "/api/start-etl-anything").statusCode() == 404)
      assert(post(port, "/api/start-etl-force-x").statusCode() == 404)
      assert(get(port, "/api/logs/nonsense").statusCode() == 404)
      assert(post(port, "/api/logs/stream").statusCode() == 405)
      // and the real paths still work
      assert(post(port, "/api/start-etl-force").statusCode() == 200)
    } finally shell.stop()
  }

  test("log-ring timestamps: UTC-naive by default, the reference " +
      "logger's +08:00 shape with logZone=Asia/Manila") {
    // the pure formatter, pinned at a fixed instant
    val t = java.time.Instant.parse("2026-08-16T22:15:42.123Z")
    assert(HttpShell.stamp(None, t) == "2026-08-16T22:15:42.123")
    assert(HttpShell.stamp(Some("Asia/Manila"), t) ==
      "2026-08-17T06:15:42.123+08:00") // utils/logger.js getPHTTimestamp
    // and end-to-end: a Manila-zone shell's logs page carries the offset
    val shell = new HttpShell(spark, stages, logZone = Some("Asia/Manila"))
    val port = shell.start()
    try {
      assert(post(port, "/api/start-etl-force").statusCode() == 200)
      val logs = get(port, "/api/logs").body()
      assert(logs.contains("+08:00"), logs.take(300))
    } finally shell.stop()
  }
}
