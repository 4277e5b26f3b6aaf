package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchGuardSpec extends AnyFunSuite {

  test("a 2x slowdown on one query is a violation; in-band jitter is not") {
    val ref = Map("a" -> 1.0, "b" -> 4.0, "c" -> 0.3)
    // jitter inside the band: +0.4 s on a scan-bound query, +15% on the
    // slow kernel
    assert(BenchGuard.check(
      Map("a" -> 1.4, "b" -> 4.6, "c" -> 0.5), ref).isEmpty)
    // the injected regression: one query at 2x its reference
    val vs = BenchGuard.check(Map("a" -> 2.0, "b" -> 4.0, "c" -> 0.3), ref)
    assert(vs.map(_.name) == Seq("a"))
    // proportional band: the 4 s kernel tolerates 20%, not a 2x
    assert(BenchGuard.check(Map("b" -> 8.0), ref).map(_.name) == Seq("b"))
  }

  test("new queries face the absolute ceiling; covered total faces ±15 s") {
    val ref = Map("a" -> 1.0)
    assert(BenchGuard.check(Map("new1" -> 4.9), ref).isEmpty)
    assert(BenchGuard.check(Map("new1" -> 5.3), ref).map(_.name) ==
      Seq("new1"))
    // 100 covered queries each +0.3 s: inside every per-query band but
    // +30 s in aggregate — the total band catches the diffuse regression
    val wide = (1 to 100).map(i => s"q$i" -> 1.0).toMap
    val drift = wide.map { case (k, v) => k -> (v + 0.3) }
    val vs = BenchGuard.check(drift, wide)
    assert(vs.map(_.name) == Seq("TOTAL"))
    assert(BenchGuard.check(wide.map { case (k, v) => k -> (v + 0.1) },
      wide).isEmpty)
  }

  test("job-count gate: a rebuilt-frame structure is a violation; AQE jitter is not") {
    val ref = Map("a" -> 4.0, "b" -> 20.0, "c" -> 2.0)
    // small AQE/retry variance sits inside the band
    assert(BenchGuard.checkJobs(
      Map("a" -> 6.0, "b" -> 24.0, "c" -> 3.0), ref).isEmpty)
    // a per-entry frame rebuild adds 10+ tiny jobs — red
    val vs = BenchGuard.checkJobs(Map("a" -> 15.0, "b" -> 20.0), ref)
    assert(vs.map(_.name) == Seq("a"))
    // proportional band on the heavy kernels: 25%, not unlimited
    assert(BenchGuard.checkJobs(Map("b" -> 40.0), ref).map(_.name) == Seq("b"))
    // new queries face the absolute ceiling
    assert(BenchGuard.checkJobs(Map("new1" -> 79.0), ref).isEmpty)
    assert(BenchGuard.checkJobs(Map("new1" -> 81.0), ref).map(_.name) ==
      Seq("new1"))
  }

  test("reference JSON round-trips exactly") {
    val m = Map("q1_agg" -> 0.73, "graph_pagerank" -> 4.3,
      "weird\"name" -> 1.25e-1)
    assert(BenchGuard.parse(BenchGuard.render(m)) == m)
  }

  test("the shared sweep reports a throwing query as failed, untimed, and " +
      "BenchCheck turns it into a violation") {
    val spark = TestSpark.spark
    val region: graft.queries.Q = (s, dir) => graft.sources.Tables(s, dir, "region")
    // fake_d runs one more job than fake_c under a job group that is not
    // the sweep's, as a stream's micro-batches run under the stream's own
    val otherGroup: graft.queries.Q = (s, dir) => {
      s.sparkContext.setJobGroup("bench-guard-other", "not the sweep's group")
      try s.sparkContext.parallelize(1 to 4, 2).count()
      finally s.sparkContext.clearJobGroup()
      region(s, dir)
    }
    val fake: Map[String, graft.queries.Q] = Map(
      "fake_a" -> region,
      "fake_boom" -> ((_, _) => sys.error("injected failure")),
      "fake_c" -> region,
      "fake_d" -> otherGroup)
    val names = fake.keys.toSeq.sorted
    // no warm-up: the shared-frame builds would take the spec past seconds
    val run = Bench.sweep(spark, TestSpark.sf, names, queries = fake,
      prepare = (_, _) => (0.0, Nil))
    assert(run.failed == Seq("fake_boom") && run.warmupFailed.isEmpty)
    assert(run.timings.keySet == Set("fake_a", "fake_c", "fake_d"))
    assert(run.timings.values.forall(t =>
      t.cold > 0 && t.warm > 0 && t.coldJobs >= 1 && t.warmJobs >= 1))
    val (c, d) = (run.timings("fake_c"), run.timings("fake_d"))
    assert(d.coldJobs == c.coldJobs + 1 && d.warmJobs == c.warmJobs + 1)
    val vs = BenchCheck.violations(run,
      ref = Map("fake_a" -> 60.0, "fake_c" -> 60.0, "fake_d" -> 60.0),
      jobsRef = Map.empty)
    assert(vs == Seq(BenchGuard.Violation("fake_boom", "query failed")))
  }
}
