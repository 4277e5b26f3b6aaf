package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

class RunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("runner retries flaky stages and reports per-stage totals") {
    val flakyCalls = new AtomicInteger(0)
    val stages = Seq(
      Runner.Stage("clean", s => Seq((1, "a"), (2, "b")).toDF("k", "v")),
      Runner.Stage("flaky", s => {
        if (flakyCalls.incrementAndGet() < 3) sys.error("transient")
        Seq((3, "c")).toDF("k", "v")
      }))
    val report = Runner.run(spark, stages, retries = 3, backoffMs = 1)
    assert(report.ok && report.totalRows == 3)
    assert(report.results.map(r => (r.stage, r.ok, r.attempts, r.rows)) ==
      Seq(("clean", true, 1, 2L), ("flaky", true, 3, 1L)))
    assert(Runner.status.exists(_.ok))
    // report is queryable as a DataFrame
    val df = report.toDF(spark)
    assert(df.where(col("ok")).count() == 2)
  }

  test("runner halts the pipeline after a stage exhausts retries") {
    val stages = Seq(
      Runner.Stage("dies", s => sys.error("permanent")),
      Runner.Stage("never_runs", s => Seq(1).toDF("x")))
    val report = Runner.run(spark, stages, retries = 2, backoffMs = 1)
    assert(!report.ok)
    assert(report.results.map(_.stage) == Seq("dies"))
    assert(report.results.head.attempts == 2 && report.results.head.error.contains("permanent"))
  }

  /** An injected clock for the cron loop: `sleep` advances it instead of
    * waiting. */
  private class FakeClock {
    var now = java.time.LocalDateTime.of(2026, 1, 1, 0, 0, 30)
    val slept = Seq.newBuilder[Long]
    def sleep(ms: Long): Unit = { slept += ms; now = now.plusNanos(ms * 1000000L) }
  }

  /** Run `stages` from the cron loop HttpShell's scheduler runs, at the
    * next `iterations` fire times of `cronExpr`; the reports of the runs. */
  private def cronRuns(stages: Seq[Runner.Stage], cronExpr: String, iterations: Int,
                       clock: FakeClock,
                       stop: AtomicBoolean = new AtomicBoolean(false)): Seq[Runner.RunReport] = {
    val reports = Seq.newBuilder[Runner.RunReport]
    Runner.cronLoop(Runner.cron(cronExpr, clock.now).toOption.get, iterations, stop,
      () => clock.now, clock.sleep) {
      reports += Runner.run(spark, stages, retries = 3, stop = stop)
    }
    reports.result()
  }

  test("cronLoop repeats the pipeline at each fire time") {
    val clock = new FakeClock
    val calls = new AtomicInteger(0)
    val stages = Seq(Runner.Stage("tick", s => { calls.incrementAndGet(); Seq(1).toDF("x") }))
    val reports = cronRuns(stages, "* * * * *", 3, clock)
    assert(reports.size == 3 && reports.forall(_.ok) && calls.get() == 3)
  }

  test("the loop's own stop flag halts cronLoop between runs") {
    val clock = new FakeClock
    val stop = new AtomicBoolean(false)
    val calls = new AtomicInteger(0)
    val stages = Seq(Runner.Stage("tick", s => {
      if (calls.incrementAndGet() == 1) stop.set(true)
      Seq(1).toDF("x")
    }))
    val reports = cronRuns(stages, "* * * * *", 10, clock, stop)
    assert(reports.size == 1 && calls.get() == 1)
    // the flag is the loop's: a run that was not handed it is whole
    assert(Runner.run(spark, stages, retries = 1).results.size == 1)
  }

  test("Progress tallies a stage's tasks via the listener") {
    val stages = Seq(Runner.Stage("prog", s =>
      s.range(0, 1000, 1, 4).toDF("x").groupBy($"x" % 10).count()))
    val report = Runner.run(spark, stages, retries = 1)
    assert(report.ok)
    // the status store fills from the listener bus: drain it, then read
    def settled(): Progress.StageProgress = {
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      Progress.of("prog").get
    }
    val p = settled()
    assert(p.tasksTotal > 0 && p.tasksDone == p.tasksTotal && p.fraction == 1.0)
    assert(Progress.snapshot().exists(_.stage == "prog"))
    // a fresh run resets the tally instead of accumulating
    Runner.run(spark, stages, retries = 1)
    val p2 = settled()
    assert(p2.tasksTotal == p.tasksTotal)
  }

  test("Progress fraction clamps at 1.0 when attempts exceed launched tasks") {
    // speculative / resubmitted attempts can over-count done transiently
    assert(Progress.StageProgress("s", tasksDone = 5, tasksTotal = 4).fraction == 1.0)
    assert(Progress.StageProgress("s", 2, 4).fraction == 0.5)
    assert(Progress.StageProgress("s", 0, 0).fraction == 0.0)
  }

  test("Progress eviction structures stay bounded under re-begun stage names") {
    // the long-lived cron case: the SAME stage name begins forever — each
    // name holds exactly one order slot (move-to-back), so nothing grows
    val base = Progress.snapshot().size
    (1 to 500).foreach(_ => Progress.begin("cron-recycled"))
    assert(Progress.snapshot().size <= base + 1)
    assert(Progress.of("cron-recycled").isDefined)
    // generated distinct names beyond the cap retire the stalest fully
    (1 to 300).foreach(i => Progress.begin(s"gen-bounded-$i"))
    assert(Progress.snapshot().size <= 256)
    assert(Progress.of("gen-bounded-300").isDefined)
  }

  test("Cron.parse validates patterns like the reference's cron.validate") {
    assert(Cron.parse("* * * * *").isRight)
    assert(Cron.parse("*/15 0-6 1,15 * 1-5").isRight)
    assert(Cron.parse("0 9 * * 7").isRight)    // 7 ≡ Sunday
    assert(Cron.parse("* * * *").isLeft)       // 4 fields
    assert(Cron.parse("60 * * * *").isLeft)    // minute out of range
    assert(Cron.parse("* * 0 * *").isLeft)     // dom starts at 1
    assert(Cron.parse("*/0 * * * *").isLeft)   // zero step
    assert(Cron.parse("5-1 * * * *").isLeft)   // inverted range
    assert(Cron.parse("a * * * *").isLeft)
    assert(Cron.parse("* * * *").left.exists(_.contains("5 fields")))
  }

  test("Cron node-cron parity: optional seconds field and month/day names") {
    import java.time.LocalDateTime
    // 6-field form: seconds validated for range, then floored
    assert(Cron.parse("0 */15 * * * *").isRight)
    assert(Cron.parse("60 * * * * *").isLeft)       // seconds out of range
    assert(Cron.parse("* * * * * * *").isLeft)      // 7 fields
    val t = LocalDateTime.of(2026, 8, 12, 10, 7)
    def n(e: String, from: LocalDateTime = t) = Cron.parse(e).toOption.get.next(from)
    assert(n("30 */15 * * * *") == n("*/15 * * * *"))
    // 3-letter names, case-insensitive, in values and range endpoints
    assert(Cron.parse("0 9 * JAN-MAR MON-FRI").isRight)
    assert(n("0 9 * * MON") == n("0 9 * * 1"))
    assert(n("0 0 1 jan *") == n("0 0 1 1 *"))
    assert(n("0 9 * * mon-fri") == n("0 9 * * 1-5"))
    assert(Cron.parse("0 9 * XYZ *").isLeft)        // unknown name
    assert(Cron.parse("0 MON * * *").isLeft)        // name in a numeric field
  }

  test("Cron vixie semantics: value/step expansion and star-with-step day rule") {
    import java.time.LocalDateTime
    val t = LocalDateTime.of(2026, 8, 12, 10, 7)
    def n(e: String, from: LocalDateTime = t) = Cron.parse(e).toOption.get.next(from)
    // "5/15" ≡ "5-59/15": fires :05 :20 :35 :50, not once an hour at :05
    assert(n("5/15 * * * *") == LocalDateTime.of(2026, 8, 12, 10, 20))
    // "*/2" in dom is still a STAR field: day rule stays AND with dow, so
    // "0 0 */2 * 1" fires only on Mondays with odd day-of-month
    assert(n("0 0 */2 * 1") == LocalDateTime.of(2026, 8, 17, 0, 0))
    // Feb 29 across the 2100 non-leap century year (8-year gap)
    assert(n("0 0 29 2 *", LocalDateTime.of(2096, 3, 1, 0, 0)) ==
      LocalDateTime.of(2104, 2, 29, 0, 0))
  }

  test("Cron.next fire-time math") {
    import java.time.LocalDateTime
    val t = LocalDateTime.of(2026, 8, 12, 10, 7)        // a Wednesday
    def n(e: String, from: LocalDateTime = t) = Cron.parse(e).toOption.get.next(from)
    assert(n("*/15 * * * *") == LocalDateTime.of(2026, 8, 12, 10, 15))
    assert(n("0 9 * * *") == LocalDateTime.of(2026, 8, 13, 9, 0))
    assert(n("0 9 * * 1") == LocalDateTime.of(2026, 8, 17, 9, 0))   // next Monday
    assert(n("7 10 * * *") == LocalDateTime.of(2026, 8, 13, 10, 7)) // strict after
    // vixie OR rule: dom 15 OR friday — Aug 14 2026 is a Friday
    assert(n("0 0 15 * 5") == LocalDateTime.of(2026, 8, 14, 0, 0))
    // dow-only restriction stays AND with wildcard dom
    assert(n("0 0 * * 5") == LocalDateTime.of(2026, 8, 14, 0, 0))
    // Feb 29 resolves across years (2028 is the next leap year)
    assert(n("30 2 29 2 *") == LocalDateTime.of(2028, 2, 29, 2, 30))
  }

  test("cronLoop fires at cron boundaries with injected clock") {
    val clock = new FakeClock
    val calls = new AtomicInteger(0)
    val stages = Seq(Runner.Stage("tick", s => { calls.incrementAndGet(); Seq(1).toDF("x") }))
    assert(cronRuns(stages, "*/10 * * * *", 2, clock).size == 2 && calls.get() == 2)
    // 00:00:30 → 00:10 is 570s; 00:10 → 00:20 is 600s
    assert(clock.slept.result() == Seq(570000L, 600000L))
    // an invalid pattern is rejected up front, before any run
    assert(Runner.cron("61 * * * *").isLeft)
    // a parse-valid but never-firing pattern stays on the error channel
    assert(Runner.cron("0 0 30 2 *", clock.now).left.exists(_.contains("never fires")))
  }
}
