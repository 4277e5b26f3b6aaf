package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.time.LocalDateTime
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

/** Pipeline runner — the reference's orchestration surface
  * (index.js:46-355: start/force-run/status, etlService.js:416-591:
  * retry ×3 with delay, per-entity totals) re-expressed for Spark.
  *
  * The reference hand-rolls batching (100k rows) and concurrency (4
  * connections); on Spark both are the engine's job (partitions ×
  * executors), so the runner keeps only what Spark doesn't own: stage
  * sequencing, bounded retry with backoff, and a machine-readable run
  * report of processed/skipped/failed per stage — the same totals the
  * reference logs at etlService.js:572-583.
  */
object Runner {

  /** One named unit of work: produces a DataFrame whose materialized row
    * count is the stage's `processed` metric. */
  case class Stage(name: String, run: SparkSession => DataFrame)

  case class StageResult(stage: String, ok: Boolean, attempts: Int,
                         rows: Long, durationMs: Long, error: String)

  case class RunReport(results: Seq[StageResult]) {
    def ok: Boolean = results.forall(_.ok)
    def totalRows: Long = results.map(_.rows).sum

    /** Report as a DataFrame (the queryable twin of etl_run_report). */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      results.toDF()
    }
  }

  /** Last finished run, for a status endpoint ("is the ETL running / what
    * did the last run do" — index.js:96-141). */
  private val lastRun = new AtomicReference[Option[RunReport]](None)
  def status: Option[RunReport] = lastRun.get()

  /** Persist a finished run's report into a keyed parquet run-history
    * table — the durable twin of the reference's append-only run log
    * (utils/logger.js writes RSBSAetl.log; /api/logs serves it back,
    * index.js:200-240). One row per (run_id, stage), keyed upsert so a
    * re-persisted run replaces itself instead of duplicating; the table
    * survives session restarts. */
  // 4 buckets: the run log is (runs × stages) rows — metadata-sized at
  // any data scale (a year of hourly 20-stage runs is ~175k short rows),
  // so 16 near-empty bucket dirs only multiplied write tasks + commit
  // files per persist (r18). Callers owning big tables pass their own.
  def persistReport(spark: SparkSession, path: String, runId: Long,
                    report: RunReport, numBuckets: Int = 4): Unit = {
    val df = report.toDF(spark)
      .withColumn(
        "run_id", org.apache.spark.sql.functions.lit(runId))
    val keys = Seq("run_id", "stage")
    if (graft.sinks.KeyedParquetSink.tableExists(spark, path))
      graft.sinks.KeyedParquetSink.upsert(spark, path, df, keys, numBuckets)
    else graft.sinks.KeyedParquetSink.write(df, path, keys, numBuckets)
  }

  /** Read the persisted run history back (all runs, all stages) — the
    * queryable /api/logs surface over the stored table. */
  def runHistory(spark: SparkSession, path: String): DataFrame =
    graft.sinks.KeyedParquetSink.read(spark, path)

  /** Validate a 5-field cron pattern (index.js:30-37): Left = the parse
    * error, or for a parse-valid pattern that never fires (e.g.
    * "0 0 30 2 *") the error of one probe made up front, so the error
    * channel fires BEFORE any work runs — and an IllegalArgumentException
    * thrown later from run()/Spark internals propagates instead of being
    * misreported as a cron error. */
  private[graft] def cron(
      cronExpr: String,
      now: LocalDateTime = LocalDateTime.now()): Either[String, Cron] =
    Cron.parse(cronExpr).flatMap { c =>
      try { c.next(now); Right(c) }
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    }

  /** The cron loop (index.js:75-86, node-cron schedule): at each of the
    * next `iterations` fire times of `cron`, unless `stop` is set, call
    * `fire`. Cooperative stop (index.js stop endpoint): `stop` belongs to
    * the caller that started the loop — setting it ends the loop, and a
    * run given the same flag finishes its in-flight stage and skips the
    * rest. `now`/`sleep` are injectable so fire-time behavior is testable
    * without wall-clock waits. HttpShell's scheduler runs this loop. */
  private[graft] def cronLoop(
      cron: Cron, iterations: Int, stop: AtomicBoolean,
      now: () => LocalDateTime = () => LocalDateTime.now(),
      sleep: Long => Unit = Thread.sleep)(fire: => Unit): Unit = {
    var i = 0
    while (i < iterations && !stop.get()) {
      val t = now()
      val waitMs = java.time.Duration.between(t, cron.next(t)).toMillis
      if (waitMs > 0) sleep(waitMs)
      if (!stop.get()) fire
      i += 1
    }
  }

  /** Run stages sequentially; each stage is retried up to `retries` times
    * with linear backoff (reference: RETRY_LIMIT 3, delay between retries).
    * A failing stage stops the pipeline (later stages typically read what
    * earlier ones wrote). Once `stop` is set, no further stage starts. */
  def run(spark: SparkSession, stages: Seq[Stage], retries: Int = 3,
          backoffMs: Long = 1000,
          stop: AtomicBoolean = new AtomicBoolean(false)): RunReport = {
    val out = Seq.newBuilder[StageResult]
    var halted = false
    for (s <- stages if !halted && !stop.get()) {
      var attempt = 0
      var done = false
      var rows = 0L
      var err = ""
      val t0 = System.nanoTime()
      // tag this stage's Spark jobs so Progress can tally its tasks live
      spark.sparkContext.setJobGroup(Progress.begin(s.name),
        s"graft stage ${s.name}", interruptOnCancel = false)
      try {
        while (!done && attempt < retries) {
          attempt += 1
          try { rows = s.run(spark).count(); done = true; err = "" }
          catch {
            case e: Throwable =>
              err = Option(e.getMessage).getOrElse(e.getClass.getName)
              if (attempt < retries) Thread.sleep(backoffMs * attempt)
          }
        }
      } finally spark.sparkContext.clearJobGroup()
      val res = StageResult(s.name, done, attempt, rows,
        (System.nanoTime() - t0) / 1000000L, err)
      out += res
      if (!done) halted = true
    }
    val report = RunReport(out.result())
    lastRun.set(Some(report))
    report
  }
}
