package graft.queries

import org.apache.spark.sql.functions._

import graft.etl.Runner
import graft.serve.HttpShell
import graft.sources.Tables

/** Round-16 registry: the HTTP control shell inside the oracle gate.
  *
  * The reference is OPERATED over HTTP (index.js:46-355) — this entry
  * proves the Spark-native shell end-to-end the same way etl_run_history
  * proves the persisted run log: the pipeline is started by a real
  * `POST /api/start-etl-force` against an embedded [[HttpShell]] on an
  * ephemeral port, and the emitted rows are parsed from what a real
  * `GET /api/logs` returns — the DuckDB oracle then recomputes each
  * stage's row count straight from the parquet sources, so a shell that
  * dropped, double-ran, or mis-counted a stage hash-mismatches.
  */
object Round16 extends Module {

  val queries: Map[String, Q] = Map(

    // HTTP-shell round trip: force-run three stages over a real socket,
    // read the run log back over HTTP, emit (stage, ok, n_rows). The
    // work runs distributed through the wrapped session; only the
    // stage-count-sized report crosses the HTTP boundary.
    "etl_http_shell" -> ((s, dir) => {
      val shell = new HttpShell(s, Seq(
        Runner.Stage("clean_customer", sp => Tables.customer(sp, dir)),
        Runner.Stage("high_value_events", sp =>
          Tables.events(sp, dir).where(col("value") > 50)),
        Runner.Stage("open_orders", sp =>
          Tables.orders(sp, dir).where(col("o_orderstatus") === "O"))))
      val port = shell.start()
      val rows =
        try {
          val client = java.net.http.HttpClient.newHttpClient()
          def call(b: java.net.http.HttpRequest.Builder): String =
            client.send(b.build(),
              java.net.http.HttpResponse.BodyHandlers.ofString()).body
          call(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
              s"http://127.0.0.1:$port/api/start-etl-force"))
            .POST(java.net.http.HttpRequest.BodyPublishers.noBody()))
          val logs = call(java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/api/logs")).GET())
          // the /api/logs page is the source of truth here: one line per
          // stage, "run 1 stage <name>: ok rows=<n> attempts=1"
          val Line = """run 1 stage ([a-z_]+): (ok|FAILED)[^0-9]*rows=(\d+)""".r
          Line.findAllMatchIn(logs).map(m =>
            (m.group(1), if (m.group(2) == "ok") 1L else 0L,
              m.group(3).toLong)).toSeq
        } finally shell.stop()
      import s.implicits._
      rows.toDF("stage", "ok", "n_rows").orderBy(col("stage"))
    })
  )

  val oracle: Map[String, String] = Map(

    "etl_http_shell" ->
      """SELECT * FROM (
        |  SELECT 'clean_customer' AS stage, CAST(1 AS BIGINT) AS ok,
        |    count(*) AS n_rows FROM customer
        |  UNION ALL
        |  SELECT 'high_value_events', CAST(1 AS BIGINT),
        |    count(*) FROM events WHERE value > 50
        |  UNION ALL
        |  SELECT 'open_orders', CAST(1 AS BIGINT),
        |    count(*) FROM orders WHERE o_orderstatus = 'O')
        |ORDER BY stage""".stripMargin
  )
}
