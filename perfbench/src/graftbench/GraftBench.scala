package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, GraftSession, SparkEntry}
import graft.etl.{Changelog, Normalize, Quality, Runner}
import graft.serve.HttpShell
import graft.sinks.KeyedParquetSink
import graft.streaming.StreamOps

/** One benchmark run inside one fresh JVM:
  *
  *   GraftBench <workload> <inputDir> <workDir> <seconds> <trace 0|1> <cores>
  *
  * Inputs come from `inputDir` (written by perfbench/gen.py); tables,
  * checkpoints and the raw result (`workDir/result.json`) go to
  * `workDir`. The result holds the set-up times, one record per timed
  * operation with its engine-counter deltas, the spans of a traced run,
  * and what the correctness checks need. Metrics are derived from it by
  * perfbench/run.py.
  */
object GraftBench {

  final class Op(val id: Int, val kind: String, val name: String, val measured: Boolean) {
    var ok = true
    var err = ""
    var wallS = 0.0
    val fields = mutable.LinkedHashMap[String, Any]()
  }

  var spark: SparkSession = _
  var counters: Counters = _
  var cores = 4
  /** False while warm-up operations run: they execute like the others
    * but their latencies are not samples. */
  var measuring = true
  val ops = mutable.ArrayBuffer[Op]()
  val result = mutable.LinkedHashMap[String, Any]()

  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    counters = new Counters(spark)
    counters.install()
    spark
  }

  /** Time `body` as one operation. An exception fails it; `check` may
    * fail it afterwards (outside the timed region) with a reason. */
  def op[T](kind: String, name: String)(body: => T)(check: (T, Op) => Unit): Op = {
    val o = new Op(ops.size + 1, kind, name, measuring)
    val a = counters.snap()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(Trace.operation(o.id, kind)(body))
      catch { case e: Throwable => Left(e) }
    o.wallS = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val b = counters.snap()
    o.fields ++= counters.delta(a, b, w0, w1)
    o.fields("w0") = w0
    o.fields("w1") = w1
    res match {
      case Left(e) =>
        o.ok = false
        o.err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      case Right(v) =>
        try check(v, o) catch {
          case e: Throwable =>
            o.ok = false
            o.err = s"check: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
    }
    ops += o
    counters.prune(w0 - 1000)
    o
  }

  /** Seconds of measured operations so far. */
  def measuredS: Double = ops.filter(_.measured).map(_.wallS).sum

  /** Run `step(i)` for i = 0, 1, ... while `hasStep(i)`, at least once,
    * until the measured operations of the run add up to `seconds`. */
  def loop(seconds: Double)(hasStep: Int => Boolean)(step: Int => Unit): Unit = {
    var i = 0
    while (hasStep(i) && (i == 0 || measuredS < seconds)) {
      step(i)
      i += 1
    }
  }

  /** Run `body` with its operations marked as warm-up (not sampled). */
  def warmUp(body: => Unit): Unit = {
    measuring = false
    try body finally measuring = true
  }

  /** Set up `reps` times, each from scratch, and record each time. The
    * first set-up runs in a cold JVM; `afterFirst` then exercises it
    * (warm-up operations, or measured cold ones), so the later set-ups
    * and the measured loop run with the JIT warm. The last set-up is the
    * one the measured loop uses. */
  def setupReps(reps: Int)(one: Int => Unit)(afterFirst: => Unit): Unit = {
    val times = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      one(r)
      val t = (System.nanoTime() - t0) / 1e9
      if (r == 0) afterFirst
      t
    }
    result("setup_s") = times
  }

  /** bucket directory -> data file names of a keyed table (traced runs
    * only: the before/after difference is the set of touched buckets). */
  def listing(path: String): Map[String, Set[String]] =
    if (!Trace.tracing) Map.empty
    else {
      val root = new java.io.File(path)
      Option(root.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("_bucket="))
        .map(d => d.getName -> Option(d.list()).getOrElse(Array.empty[String])
          .filter(_.endsWith(".parquet")).toSet).toMap
    }

  def touched(before: Map[String, Set[String]], after: Map[String, Set[String]]): Int =
    (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))

  /** Block-manager bytes held by cached/checkpointed RDDs, in MiB. */
  def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  /** Resident memory at the end, then what survives a cache sweep. */
  def recordResident(): Unit = {
    result("resident_cache_mb") = cachedMb()
    Caches.sweep(spark)
    var prev = -1.0
    var cur = cachedMb()
    var i = 0
    while (cur != prev && i < 20) { Thread.sleep(100); prev = cur; cur = cachedMb(); i += 1 }
    result("pinned_mb") = cur
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, secS, traceS, coresS) = args
    val seconds = secS.toDouble
    Trace.tracing = traceS == "1"
    cores = coresS.toInt
    result("workload") = workload
    result("cores") = cores
    workload match {
      case "sync_stream" => SyncStream.run(inDir, workDir, seconds)
      case "registry_slice" => RegistrySlice.run(inDir, workDir, seconds)
      case "shared_deps" => RegistrySlice.sharedDeps(inDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result("ops") = ops.map { o =>
      mutable.LinkedHashMap[String, Any]("id" -> o.id, "kind" -> o.kind,
        "name" -> o.name, "measured" -> o.measured, "ok" -> o.ok, "err" -> o.err, "wall_s" -> o.wallS) ++ o.fields
    }
    result("spans") = Trace.spans.map(s =>
      Seq(s.id, s.name, s.parent, s.op, s.start, s.end))
    if (spark != null) spark.stop()
    Files.writeString(Paths.get(workDir, "result.json"), Json(result))
    sys.exit(0)
  }
}

/** Minimal JSON rendering for the raw result. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.OracleJson.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.OracleJson.quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => graft.OracleJson.quote(other.toString)
  }
}

/** sync_stream: the reference's cron loop and a CDC stream side by side.
  * Each iteration of the one client is an ETL cycle through the HTTP
  * shell (wide merges into two tables), then a CDC micro-batch (a pruned
  * merge into a third table), then keyed point reads of that batch. */
object SyncStream {
  import GraftBench._

  def run(inDir: String, work: String, seconds: Double): Unit = {
    val etl = new EtlSync(s"$inDir/etl", s"$work/etl")
    val cdc = new CdcStream(s"$inDir/cdc", s"$work/cdc")
    setupReps(3) { r =>
      etl.stop()
      cdc.stop()
      val s = newSession()
      etl.setup(s, r)
      cdc.setup(s, r)
    } (warmUp { etl.step(0); cdc.step(0) })
    result("tables") = Map("etl" -> etl.tables, "cdc" -> cdc.table)
    loop(seconds)(i => etl.has(i) && cdc.has(i)) { i =>
      etl.step(i)
      cdc.step(i)
    }
    etl.stop()
    cdc.stop()
    recordResident()
  }
}

/** The ETL half: stages composed from graft's public ETL functions, run
  * by Runner behind HttpShell with a persisted run history. */
class EtlSync(inDir: String, work: String) {
  import GraftBench._
  import EtlSync._

  var tables = ""
  private var src = ""
  private var logDir = ""
  private var shell: HttpShell = null
  private var url = ""
  private var lastReport: Runner.RunReport = null

  // per-cycle frames, handed from one stage to the next
  private val extracted = mutable.Map[String, DataFrame]()
  private val cleaned = mutable.Map[String, DataFrame]()
  private val valid = mutable.Map[String, DataFrame]()
  private val stages = Seq(
    Runner.Stage("extract", s => Trace.span("etl.extract") {
      Trace.span("caches.sweep")(Caches.sweep(s))
      val (log, sources) = Trace.span("sources.load") {
        (s.read.parquet(s"$logDir/changelog.parquet"),
          Entities.map { case (e, k, _) => e -> (s.read.parquet(s"$src/$e"), k) }.toMap)
      }
      val byEntity = Trace.span("etl.Changelog.dispatch")(
        Changelog.dispatch(log, "tbl", "ref_no", sources))
      byEntity.foreach { case (e, df) =>
        extracted(e) = Trace.span("etl.materialize")(df.localCheckpoint(true)) }
      rowsOf(extracted.values)
    }),
    Runner.Stage("clean", _ => Trace.span("etl.clean") {
      Entities.foreach { case (e, _, _) =>
        cleaned(e) = Trace.span("etl.Normalize")(clean(e, extracted(e)).localCheckpoint(true)) }
      rowsOf(cleaned.values)
    }),
    Runner.Stage("validate", _ => Trace.span("etl.validate") {
      Entities.foreach { case (e, _, keys) =>
        valid(e) = Trace.span("etl.Quality.keysPresent")(
          cleaned(e).where(Quality.keysPresent(keys)).localCheckpoint(true)) }
      rowsOf(valid.values)
    }),
    Runner.Stage("upsert", s => Trace.span("sinks.upsert") {
      Entities.foreach { case (e, _, keys) =>
        Trace.span("sinks.KeyedParquetSink.upsert")(KeyedParquetSink.upsert(
          s, s"$tables/$e", valid(e), keys, Buckets, versionCols = Seq("version")))
      }
      rowsOf(valid.values)
    }))

  /** Initial keyed-table writes from the base snapshot, then the shell.
    * Each set-up gets its own copy of the source system. */
  def setup(s: SparkSession, rep: Int): Unit = {
    tables = s"$work/tables_$rep"
    src = s"$work/src_$rep"
    logDir = s"$work/log_$rep"
    Entities.foreach { case (e, _, _) =>
      Files.createDirectories(Paths.get(src, e))
      Files.copy(Paths.get(inDir, s"${e}_base", "part-0.parquet"),
        Paths.get(src, e, "part-00000.parquet"))
    }
    Files.createDirectories(Paths.get(logDir))
    Entities.foreach { case (e, _, keys) =>
      val base = Trace.span("sources.load")(s.read.parquet(s"$inDir/${e}_base"))
      Trace.span("sinks.KeyedParquetSink.write")(KeyedParquetSink.write(
        clean(e, base).where(Quality.keysPresent(keys)), s"$tables/$e", keys, Buckets))
    }
    shell = new HttpShell(s, stages, historyPath = Some(s"$tables/run_history"))
    url = s"http://127.0.0.1:${shell.start()}/api/start-etl-force"
  }

  def stop(): Unit = if (shell != null) { shell.stop(); shell = null }

  def has(i: Int): Boolean = Files.exists(Paths.get(inDir, f"cycle_${i + 1}%04d"))

  /** Cycle i+1: the source system commits the cycle's changed rows and
    * changelog (untimed), then one forced run over HTTP. */
  def step(i: Int): Unit = {
    val c = i + 1
    val cyc = Paths.get(inDir, f"cycle_$c%04d")
    Entities.foreach { case (e, _, _) =>
      Files.copy(cyc.resolve(s"$e.parquet"), Paths.get(src, e, f"part-$c%05d.parquet"))
    }
    Files.copy(cyc.resolve("changelog.parquet"), Paths.get(logDir, "changelog.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val before = Entities.map(e => listing(s"$tables/${e._1}"))
    op("cycle", f"cycle_$c%04d")(Trace.span("serve.http")(post(url))) { case ((code, body), o) =>
      val report = Runner.status
      o.fields("http_status") = code
      o.fields("http_ok") = body.replace(" ", "").contains("\"ok\":true")
      require(report.exists(_ ne lastReport), "no new run report")
      lastReport = report.get
      o.fields("run_stages") = lastReport.results.map(r => mutable.LinkedHashMap[String, Any](
        "stage" -> r.stage, "ok" -> r.ok, "attempts" -> r.attempts,
        "rows" -> r.rows, "ms" -> r.durationMs, "error" -> r.error.take(200)))
      // Runner tags each stage's jobs with a job group; the run-report
      // persistence that HttpShell does after the stages runs untagged
      val jobs = counters.jobsIn(o.fields("w0").asInstanceOf[Long],
        o.fields("w1").asInstanceOf[Long])
      o.fields("upsert_jobs") = jobs.count(_._3.startsWith("graft-stage-upsert"))
      val persist = jobs.filterNot(_._3.startsWith("graft-stage-"))
      o.fields("persist_s") =
        if (persist.isEmpty) 0.0 else (persist.map(_._2).max - persist.map(_._1).min) / 1e3
      if (Trace.tracing) o.fields("touched_buckets") = Entities.zip(before).map {
        case (e, b) => touched(b, listing(s"$tables/${e._1}")) }.sum
      require(code == 200, s"HTTP $code: $body")
      require(o.fields("http_ok") == true, s"run not ok: $body")
    }
  }
}

object EtlSync {
  val Buckets = 16
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Entities: Seq[(String, String, Seq[String])] = Seq(
    ("voucher", "o_orderkey", Seq("o_orderkey", "o_custkey")),
    ("voucher_transaction", "l_orderkey", Seq("l_orderkey", "l_linenumber")))

  def clean(entity: String, df: DataFrame): DataFrame = entity match {
    case "voucher" => df.select(col("o_orderkey"), col("o_custkey"), col("version"),
      Normalize.upperTrim(col("o_name")).as("name"),
      Normalize.upperTrim(col("o_orderstatus")).as("status"),
      Normalize.enumOrNull(col("o_orderpriority"), Priorities).as("priority"),
      Normalize.numOrNull(col("o_totalprice")).as("totalprice"),
      Normalize.isoDateOrNull(col("o_orderdate")).as("orderdate"))
    case _ => df.select(col("l_orderkey"), col("l_linenumber"), col("version"),
      col("l_partkey"),
      Normalize.numOrNull(col("l_quantity")).as("quantity"),
      Normalize.numOrNull(col("l_extendedprice")).as("extendedprice"),
      Normalize.numOrNull(col("l_discount")).as("discount"),
      Normalize.enumOrNull(col("l_returnflag"), Seq("A", "N", "R")).as("returnflag"),
      Normalize.upperTrim(col("l_linestatus")).as("linestatus"),
      Normalize.isoDateOrNull(col("l_shipdate")).as("shipdate"),
      Normalize.flag01(col("l_payout")).as("payout"),
      Normalize.bool01(col("l_active")).as("active"))
  }

  /** Row count of several frames as one stage result. */
  def rowsOf(frames: Iterable[DataFrame]): DataFrame =
    frames.map(_.select(lit(1).as("r"))).reduce(_ unionAll _)

  def post(url: String): (Int, String) = {
    val c = new java.net.URI(url).toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.getOutputStream.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    c.disconnect()
    (code, body)
  }
}

case class Change(l_orderkey: Long, l_linenumber: Int, version: Long, change: String,
                  l_partkey: Long, l_quantity: Double, l_extendedprice: Double,
                  l_returnflag: String)

/** The CDC half: micro-batches through StreamOps.cdcSink, then keyed
  * point reads of keys the batch changed. */
class CdcStream(inDir: String, work: String) {
  import GraftBench._
  import CdcStream._

  private def tsv(name: String): Map[Int, Seq[Array[String]]] =
    scala.io.Source.fromFile(s"$inDir/$name").getLines()
      .filter(_.nonEmpty).map(_.split('\t')).toSeq.groupBy(_(0).toInt)

  private val batches = tsv("batches.tsv").view.mapValues(_.map { f =>
    Change(f(1).toLong, f(2).toInt, f(3).toLong, f(4), f(5).toLong, f(6).toDouble,
      f(7).toDouble, f(8))
  }).toMap
  private val lookups =
    tsv("lookups.tsv").view.mapValues(_.map(f => (f(1).toLong, f(2).toInt))).toMap

  var table = ""
  private var q: org.apache.spark.sql.streaming.StreamingQuery = null
  private var input: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Change] = null

  /** Initial keyed-table write, then the streaming query. */
  def setup(s: SparkSession, rep: Int): Unit = {
    table = s"$work/table_$rep"
    val initial = Trace.span("sources.load")(s.read.parquet(s"$inDir/initial"))
    Trace.span("sinks.KeyedParquetSink.write")(
      KeyedParquetSink.write(initial, table, Keys, Buckets))
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Change]
    q = Trace.span("streaming.StreamOps.cdcSink")(StreamOps.cdcSink(input.toDF(), table,
      Keys, Buckets, s"$work/checkpoint_$rep", "change", Seq("version")))
  }

  def stop(): Unit = if (q != null) { q.stop(); q = null }

  def has(b: Int): Boolean = batches.contains(b)

  def step(b: Int): Unit = {
    val s = spark
    import s.implicits._
    val rows = batches(b)
    val before = listing(table)
    op("batch", s"batch_$b") {
      Trace.span("streaming.addData")(input.addData(rows))
      Trace.span("streaming.processAllAvailable")(q.processAllAvailable())
    } { (_, o) =>
      val d = q.lastProgress.durationMs.asScala
      o.fields("changes") = rows.size
      o.fields("add_batch_ms") = d.get("addBatch").map(_.longValue).getOrElse(0L)
      o.fields("trigger_ms") = d.get("triggerExecution").map(_.longValue).getOrElse(0L)
      if (Trace.tracing) o.fields("touched_buckets") = touched(before, listing(table))
      require(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    lookups.getOrElse(b, Nil).foreach { case (ok, ln) =>
      op("lookup", s"lookup_${b}_${ok}_$ln") {
        val wanted = Seq((ok, ln)).toDF(Keys: _*)
        Trace.span("sinks.KeyedParquetSink.readBuckets")(
          KeyedParquetSink.readBuckets(s, table, Keys, Buckets, wanted))
          .where(col("l_orderkey") === ok && col("l_linenumber") === ln)
          .select(col("version")).collect().map(_.getLong(0)).toSeq
      } { (versions, o) =>
        o.fields("batch") = b
        o.fields("key") = Seq(ok, ln)
        o.fields("versions") = versions
      }
    }
  }
}

object CdcStream {
  val Buckets = 64
  val Keys = Seq("l_orderkey", "l_linenumber")
}

/** registry_slice: a stratified sample of the query registry. */
object RegistrySlice {
  import GraftBench._
  import graft.queries._

  /** Shared-frame warm-up functions in dependency order (a later frame may ride
    * an earlier one, as in graft.Bench's warm-up chains). */
  val Warmers: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "shingle" -> ShingleShared.warmShared, "pairIndex" -> TextDedup.warmSharedIndex,
    "tok" -> TokShared.warmShared, "vocab" -> Vocab.warmShared, "bpe" -> Round10.warmBpe,
    "sim" -> SimShared.warmShared, "gram" -> GramShared.warmShared,
    "pq" -> PqShared.warmShared, "knnEdges" -> SimMm.warmKnnEdges,
    "lloyd" -> LloydShared.warmShared, "ivf" -> SimIvf.warmSharedIndex,
    "graph" -> GraphShared.warmShared, "snm" -> SnmShared.warmShared,
    "winnow" -> WinnowShared.warmShared, "lsh" -> LshShared.warmShared,
    "bigram" -> BigramShared.warmShared)

  def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty).toSeq

  def persistentIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  def runQuery(registry: Map[String, (SparkSession, String) => DataFrame],
               name: String, dir: String): Unit = {
    val df = Trace.span("queries.build")(registry(name)(spark, dir))
    Trace.span("queries.execute")(df.write.format("noop").mode("overwrite").save())
    Trace.span("caches.sweep")(Caches.sweep(spark))
  }

  def run(inDir: String, work: String, seconds: Double): Unit = {
    val dir = s"$inDir/tables"
    val sample = lines(s"$inDir/sample.txt")
    val frames = lines(s"$inDir/frames.txt").toSet
    val registry = SparkEntry.queries
    val builds = mutable.LinkedHashMap[String, Double]()
    def pass(kind: String): Unit = sample.foreach { name =>
      op(kind, name)(runQuery(registry, name, dir))((_, _) => ())
    }
    var planned = Set.empty[Int]
    setupReps(3) { _ =>
      val s = newSession()
      Trace.span("sources.Tables")(graft.sources.Tables.all.foreach(t =>
        graft.sources.Tables(s, dir, t)))
      Warmers.filter(w => frames(w._1)).foreach { case (name, warm) =>
        val t0 = System.nanoTime()
        Trace.span(s"caches.build.$name")(warm(s, dir))
        builds(name) = (System.nanoTime() - t0) / 1e9
      }
      planned = persistentIds()
    } {
      // first executions in this JVM: the cold pass
      pass("cold")
      result("unplanned_shared") = (persistentIds() -- planned).size
    }
    result("shared_build_s") = builds
    loop(seconds)(_ => true)(_ => pass("warm"))
    recordResident()

    // outputs for the oracle comparison, written after the timed passes
    val failed = mutable.LinkedHashMap[String, String]()
    sample.foreach { name =>
      try registry(name)(spark, dir).write.mode("overwrite").parquet(s"$work/out/$name")
      catch { case e: Throwable => failed(name) = e.getMessage.take(300) }
      Caches.sweep(spark)
    }
    result("output_failed") = failed
    val oracle = SparkEntry.oracleSql
    result("oracle") = sample.map(n => n -> oracle.getOrElse(n, "")).toMap
  }

  /** Which shared frames each registry query reads: build every frame,
    * note the persistent RDDs each build leaves, then run every query
    * and collect the RDDs its stages touch. Writes shared_deps.json. */
  def sharedDeps(inDir: String, work: String): Unit = {
    val dir = s"$inDir/tables"
    val s = newSession()
    val owner = mutable.Map[Int, String]()
    Warmers.foreach { case (name, warm) =>
      val before = persistentIds()
      warm(s, dir)
      (persistentIds() -- before).foreach(id => owner(id) = name)
    }
    val touched = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => touched.add(r.id))
    })
    val registry = SparkEntry.queries
    val deps = registry.keys.toSeq.sorted.map { name =>
      touched.clear()
      try runQuery(registry, name, dir)
      catch { case e: Throwable => System.err.println(s"[deps] $name: ${e.getMessage}") }
      org.apache.spark.graftbench.Bus.drain(s.sparkContext)
      name -> touched.asScala.flatMap(owner.get).toSeq.distinct.sorted
    }.filter(_._2.nonEmpty)
    Files.writeString(Paths.get(work, "shared_deps.json"), Json(mutable.LinkedHashMap(
      "registry" -> registry.keys.toSeq.sorted, "reads" -> deps.toMap)) + "\n")
  }
}
