package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** Benchmark main (driver contract): runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Methodology: each query is fully materialized through the `noop` DSv2
  * sink — `count()` would let Catalyst prune projections/sorts and
  * under-report compute-heavy queries — in the two sweeps of
  * [[Bench.sweep]]. The DESCENDING sweep is the record: steady state
  * (code JIT-hot, data resident) predicts cluster throughput; the cold
  * total is still recorded in bench_latest.json (`cold_value`). The
  * SHARED-FRAME builds are timed (`shared_warmup_sec`, round-17 verdict)
  * and counted into `value`. The session is the tuned GraftSession (AQE,
  * shuffle=cpus). The stdout line also carries `job_flags` — per-query
  * Spark-job counts checked against the committed caps
  * (tools/bench_jobs_ref.json): a time blowup with job_flags=0 is box
  * noise, not a plan change (the round-16 adjudication discriminator).
  * A query or shared-frame build that throws is never timed: its name
  * goes to the `failed` list of both outputs and Bench exits 1.
  */
object Bench {

  /** Build every session-shared frame (one per (session, sfDir),
    * pinned via Caches.shared), timing the whole block. Returns the
    * build cost in seconds — counted into the bench total by both mains
    * so the amortized per-query numbers are backed by a paid, visible
    * one-time cost — and the tags of the builds that failed (each also
    * logged to stderr). */
  def timeSharedWarmup(spark: SparkSession,
                       sfDir: String): (Double, Seq[String]) = {
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def warm(tag: String)(f: => Unit): Unit = {
      val w0 = System.nanoTime()
      try f catch {
        case t: Throwable =>
          failed.add(tag)
          System.err.println(s"[bench] shared warmup '$tag' failed: " +
            s"${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      System.err.println(
        f"[bench] shared warmup '$tag' ${(System.nanoTime() - w0) / 1e9}%.2f s")
    }
    // Independent build CHAINS run concurrently from a small driver
    // thread pool (guide §2.6: Spark happily schedules several jobs at
    // once and later jobs back-fill the tail of earlier ones — these are
    // 16 small builds that otherwise serialize ~48 s of mostly-idle
    // stage latency on a 32-core session). Chain order encodes the real
    // data dependencies (vocab/BPE ride the token frame, PQ/Gram/kNN
    // ride the quantized corpus, the t=0.5 pair index rides the shingle
    // arrays); chains are mutually independent. Everything is still
    // computed from the parquet inputs inside the timed block.
    val chains: Seq[Seq[(String, () => Unit)]] = Seq(
      // shingle arrays + all-pairs counts, then the t=0.5 pair index
      // that derives from the arrays (four clustering consumers)
      Seq("shingle" -> (() => graft.queries.ShingleShared.warmShared(spark, sfDir)),
        "pairIndex" -> (() => graft.queries.TextDedup.warmSharedIndex(spark, sfDir))),
      // term-frequency frame, then its derived vocab / BPE rounds
      // (the ~19-member unigram text family)
      Seq("tok" -> (() => graft.queries.TokShared.warmShared(spark, sfDir)),
        "vocab" -> (() => graft.queries.Vocab.warmShared(spark, sfDir)),
        "bpe" -> (() => graft.queries.Round10.warmBpe(spark, sfDir))),
      // quantized embedding corpus, then the Gram/moment triangle, PQ
      // seeds+codes and the mutual-kNN edge frame that ride it
      Seq("sim" -> (() => graft.queries.SimShared.warmShared(spark, sfDir)),
        "gram" -> (() => graft.queries.GramShared.warmShared(spark, sfDir)),
        "pq" -> (() => graft.queries.PqShared.warmShared(spark, sfDir)),
        "knnEdges" -> (() => graft.queries.SimMm.warmKnnEdges(spark, sfDir))),
      // cells=8 Lloyd-round chain, then the trained auto-IVF index
      // (both train over the embeddings corpus)
      Seq("lloyd" -> (() => graft.queries.LloydShared.warmShared(spark, sfDir)),
        "ivf" -> (() => graft.queries.SimIvf.warmSharedIndex(spark, sfDir))),
      // graph frames (capped projection + pagerank edge list)
      Seq("graph" -> (() => graft.queries.GraphShared.warmShared(spark, sfDir))),
      // sorted-neighborhood pair frame
      Seq("snm" -> (() => graft.queries.SnmShared.warmShared(spark, sfDir))),
      // winnowing fingerprint frame
      Seq("winnow" -> (() => graft.queries.WinnowShared.warmShared(spark, sfDir))),
      // MinHash-LSH signature + candidate-pair frames
      Seq("lsh" -> (() => graft.queries.LshShared.warmShared(spark, sfDir))),
      // (source, bigram, count) rollup (the word-bigram trio)
      Seq("bigram" -> (() => graft.queries.BigramShared.warmShared(spark, sfDir))))
    val t0 = System.nanoTime()
    // one driver thread per chain (they are I/O/latency-bound job
    // submitters, not CPU work): a smaller pool makes the last chain
    // start a full chain-length late, which lands straight on the
    // critical path of the timed block
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, chains.size))
    try chains.map(chain => pool.submit(new Runnable {
        override def run(): Unit =
          chain.foreach { case (tag, f) => warm(tag)(f()) }
      })).foreach(_.get())
    finally pool.shutdown()
    ((System.nanoTime() - t0) / 1e9, failed.toArray(Array.empty[String]).toSeq)
  }

  /** One query's two runs, seconds and Spark jobs: cold ascending, warm descending. */
  final case class Timing(cold: Double, warm: Double, coldJobs: Long, warmJobs: Long)

  /** What [[sweep]] measured. `timings` holds only the queries that ran
    * in both sweeps; `failed` names the queries that threw (in either)
    * and `warmupFailed` the shared-frame builds that threw. */
  final case class Sweep(sharedWarmupSec: Double, warmupFailed: Seq[String],
                         timings: Map[String, Timing], failed: Seq[String])

  private def materialize(spark: SparkSession, sfDir: String,
                          q: graft.queries.Q): Unit = {
    q(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Drop dead checkpoint blocks from the finished query so the next
    // one starts with free storage memory (see graft.Caches).
    Caches.sweep(spark)
  }

  /** Untimed session warm-up (a scan+agg and a join query: pure
    * session/JIT init, no frame survives into a timed query), then the
    * timed [[timeSharedWarmup]]: (build seconds, failed build tags). */
  def warmUp(spark: SparkSession, sfDir: String): (Double, Seq[String]) = {
    try Seq("q_topk", "q3_join_agg")
      .foreach(n => materialize(spark, sfDir, SparkEntry.queries(n)))
    catch {
      case t: Throwable =>
        System.err.println(s"[bench] session warmup failed: ${t.getMessage}")
    }
    timeSharedWarmup(spark, sfDir)
  }

  /** The registry sweep of both benchmark mains (Bench records it,
    * BenchCheck gates it): `prepare` (the [[warmUp]]), then every query
    * in `names` twice: one full ASCENDING sweep (cold: absorbs
    * first-touch JIT/codegen and page-cache warming, observed 10-50× on
    * the first toucher of a kernel), then one full DESCENDING sweep. By
    * then the JVM has executed the whole registry once, so the
    * alphabetical head does not pay young-JVM warmup, and a rotating
    * box-noise window can't inflate both readings of the same query. Each run is timed around its
    * materialization plus `inject` (BenchCheck's self-test hooks), and
    * its Spark jobs are counted. */
  def sweep(spark: SparkSession, sfDir: String, names: Seq[String],
            queries: Map[String, graft.queries.Q] = SparkEntry.queries,
            inject: String => Unit = _ => (),
            prepare: (SparkSession, String) => (Double, Seq[String]) = warmUp)
      : Sweep = {
    val (sharedWarmupSec, warmupFailed) = prepare(spark, sfDir)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // a run's jobs are every job started between the two reads, whatever
    // its job group (a stream's micro-batches run under the stream's own)
    def timed(name: String): (Double, Long) = {
      val j0 = jobIds(spark)
      val t0 = System.nanoTime()
      try { materialize(spark, sfDir, queries(name)); inject(name) } catch {
        case t: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: " +
            s"${t.getClass.getSimpleName}: ${t.getMessage}")
      }
      ((System.nanoTime() - t0) / 1e9, (jobIds(spark) -- j0).size.toLong)
    }
    val cold = names.map(name => name -> timed(name)).toMap
    val warm = names.reverse.map(name => name -> timed(name)).toMap
    val timings = names.filterNot(failed).map(name =>
      name -> Timing(cold(name)._1, warm(name)._1, cold(name)._2, warm(name)._2)).toMap
    Sweep(sharedWarmupSec, warmupFailed, timings, failed.toSeq)
  }

  /** Ids of the jobs `spark`'s status store holds once every job event
    * posted so far has reached it. */
  private def jobIds(spark: SparkSession): Set[Int] = {
    Bridge.drainListenerBus(spark.sparkContext)
    Bridge.jobIds(spark.sparkContext).toSet
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the harness box is 32-core and the driver contract is local[32];
    // default to all of it unless the env says otherwise
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the warm sweep is the record; its per-query Spark-job counts (the
    // structural signal BenchCheck gates) ride the driver artifact too
    val allNames = SparkEntry.queries.keys.toSeq.sorted
    val run = sweep(spark, sfDir, allNames)
    val failed = run.warmupFailed ++ run.failed
    // a query that failed in either sweep has no time
    val names = allNames.filter(run.timings.contains)
    val results = names.map(n => n -> run.timings(n).warm)
    val coldTotal = names.map(run.timings(_).cold).sum
    // the one-time shared-frame build cost is part of what a user pays to
    // serve the registry once (round-17 verdict: no per-query number may
    // exist that nobody pays) — count it into the reported total
    val total = results.map(_._2).sum + run.sharedWarmupSec
    val jobs = names.map(n => n -> run.timings(n).warmJobs)

    // driver-visible structural summary: job counts at-or-under their
    // committed caps discriminate box noise from plan regressions
    // (round-16 adjudication), so the flag count rides the stdout JSON
    val jobFlagged: Seq[String] =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(
          BenchCheck.JobsRefPath))) {
        val jobsRef = BenchGuard.load(BenchCheck.JobsRefPath)
        BenchGuard.checkJobs(
          jobs.map { case (n, j) => n -> j.toDouble }.toMap, jobsRef)
          .map(_.name)
      } else Nil

    // compact, always-included: the failures, the noise/structure
    // discriminator, and the timed shared-frame build cost (already
    // included in `value`)
    val flagsJson =
      failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]") +
      f""","shared_warmup_sec":${run.sharedWarmupSec}%.3f""" +
      s""","job_flags":${jobFlagged.size}""" +
      (if (jobFlagged.nonEmpty)
        jobFlagged.take(20).map("\"" + _ + "\"")
          .mkString(""","job_flagged":[""", ",", "]")
      else "")

    def render(rs: Seq[(String, Double)], omitted: Int): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","omitted_fastest":$omitted""" else ""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec"$flagsJson,"queries":$qs$om,"sf":"$sfDir"}"""
    }

    // Full-precision record for the repo (the stdout line is size-capped).
    val full = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullJobs = jobs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    try {
      val p = java.nio.file.Paths.get("bench_latest.json")
      java.nio.file.Files.write(p,
        s"""{"metric":"total","value":$total,"unit":"sec","cold_value":$coldTotal,"cpus":$cpus$flagsJson,"queries":$full,"jobs":$fullJobs,"sf":"$sfDir"}\n"""
          .getBytes("UTF-8"))
    } catch {
      // the stdout line below still carries the result; say the record is
      // missing instead of leaving a stale file looking current
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write bench_latest.json: $e")
    }

    // The harness captures only the last ~2000 chars of output (plus sbt's
    // trailing "[success]" line), so the JSON line must fit that window or
    // its head — including the "metric" key — is truncated away. Keep the
    // slowest queries (the informative ones) and drop the fastest until the
    // line fits.
    val byTime = results.sortBy(-_._2)
    var keep = byTime.size
    var line = render(byTime.take(keep).sortBy(_._1), 0)
    while (line.length > 1800 && keep > 1) {
      keep -= 1
      line = render(byTime.take(keep).sortBy(_._1), byTime.size - keep)
    }
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
