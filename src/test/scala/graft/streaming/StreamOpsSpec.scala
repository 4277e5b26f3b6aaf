package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.TestSpark

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
              event_type: String, value: Double)

class StreamOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  /** Measured state-store footprint over the query's lifetime: max
    * (numRowsTotal, memoryUsedBytes) across progress events — the
    * machine check behind the bounded-state claims (SURVEY §5). Call
    * after the last processAllAvailable (recentProgress survives stop). */
  private def stateFootprint(
      q: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
    val sos = q.recentProgress.flatMap(_.stateOperators)
    assert(sos.nonEmpty, "query reported state operators")
    (sos.map(_.numRowsTotal).max, sos.map(_.memoryUsedBytes).max)
  }

  test("correlateEvents stream-stream interval join pairs within the window") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Ev]
    input.addData(
      Ev(1, ts(0), 1, "purchase", 1.0),
      Ev(2, ts(10), 1, "error", 0.0),   // within 30 min of purchase 1 → pair
      Ev(3, ts(45), 1, "error", 0.0),   // 45 min later → outside window
      Ev(4, ts(5), 2, "error", 0.0))    // other user, no purchase → no pair
    val q = StreamOps.correlateEvents(input.toDF(), "purchase", "error")
      .writeStream.outputMode("append").format("memory").queryName("corr").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("corr").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 2L)))
  }

  test("seqGapsStream: outstanding + boundary gaps == the batch gap audit") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val keys = graft.sources.Tables.orders(spark, TestSpark.sf)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey")).distinct().as[Long].collect()
    // deterministic scramble: out-of-order + cross-batch delivery so
    // gaps OPEN in early batches and are FILLED by later ones
    val scrambled = keys.sortBy(k => k * 0x9E3779B97F4A7C15L)
    val input = MemoryStream[Long]
    val q = StreamOps.seqGapsStream(input.toDF(), "value")
      .writeStream.outputMode("append").format("memory").queryName("seqgaps").start()
    scrambled.grouped(scrambled.length / 3 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table("seqgaps").as[SeqGapsOut].collect()
    // latest row per shard = the one with the most OBSERVED ids
    // (range minus outstanding — monotone across batches)
    val latest = rows.groupBy(_.shard).map { case (_, rs) =>
      rs.maxBy(r => (r.smax - r.smin + 1) - r.n_outstanding)
    }.toSeq.sortBy(_.shard)
    val outstanding = latest.map(_.n_outstanding).sum
    // the batch operator's boundary-frame phase, replayed by the reader
    val boundary = latest.sliding(2).collect {
      case Seq(a, b) => b.smin - a.smax - 1 }.sum
    val sorted = keys.sorted
    val batchMissing = (sorted.max - sorted.min + 1) - sorted.length
    assert(outstanding + boundary == batchMissing,
      "streamed outstanding + cross-shard gaps == batch missing total")
    // and the histogram total from the registered batch query agrees
    val histMissing = graft.SparkEntry.queries("etl_seq_gaps")(spark, TestSpark.sf)
      .agg(sum(col("missing_ids"))).collect().head.getLong(0)
    assert(outstanding + boundary == histMissing)
    assert(rows.map(_.n_filled_batch).sum > 0,
      "scrambled delivery exercises late fills")
    latest.foreach(r => assert(r.n_outstanding <= (1L << 12),
      "per-shard state bounded by the shard width"))
    // MEASURED state: one row per 4096-id shard, footprint within a
    // per-shard envelope around the ≤32 KiB worst-case missing array
    val (srows, sbytes) = stateFootprint(q)
    assert(srows == latest.size.toLong,
      s"one state row per shard: $srows rows for ${latest.size} shards")
    assert(sbytes <= srows * 256 * 1024,
      s"measured $sbytes B across $srows shards " +
        "(≤32 KiB payload each; store overhead must stay within 256 KiB/shard)")
  }

  test("asofStream: watermark-finalized PIT picks equal the batch at-or-before join") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ev = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        when(col("event_type") === "purchase", "label").otherwise("feat")
          .as("kind"),
        col("event_id").as("id"),
        coalesce(round(col("value") * 100).cast("long"), lit(0L)).as("v"))
      .as[graft.streaming.PitEvent]
    val rows = ev.collect().sortBy(_.ts.getTime) // ts order: no wm drops
    val input = MemoryStream[graft.streaming.PitEvent]
    val q = StreamOps.asofStream(input.toDF(), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("pit").start()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      // intra-batch disorder is free (the watermark moves after the batch)
      input.addData(scala.util.Random.shuffle(chunk.toIndexedSeq))
      q.processAllAvailable()
    }
    // far-future sentinel pushes the watermark past every label
    val far = new java.sql.Timestamp(rows.map(_.ts.getTime).max + 86400000L)
    input.addData(graft.streaming.PitEvent(999999L, far, "feat", -1L, 0L))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("pit").as[graft.streaming.PitOut].collect()
      .map(o => o.label_id -> ((o.label_sec, o.feat_sec, o.feat_v))).toMap
    // batch twin: the etl_pit_leakage PIT pick, max (ft, fv) with ft <= lt
    val base = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull && col("user_id").isNotNull)
    val labels = base.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("label_id"),
        col("ts").cast("long").as("lt"))
    val feats = base.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").cast("long").as("ft"),
        coalesce(round(col("value") * 100).cast("long"), lit(0L)).as("fv"))
    val batch = labels.join(feats, Seq("user_id"), "left")
      .groupBy(col("label_id"), col("lt"))
      .agg(max(when(col("ft") <= col("lt"),
        struct(col("ft"), col("fv")))).as("pit"))
      .collect().map { r =>
        val pit = r.getAs[org.apache.spark.sql.Row]("pit")
        r.getAs[Long]("label_id") -> ((r.getAs[Long]("lt"),
          Option(pit).map(_.getAs[Long]("ft")),
          Option(pit).map(_.getAs[Long]("fv"))))
      }.toMap
    assert(streamed == batch, "every label finalized once with the batch pick")
    // one state row per active user group — bounded by user cardinality
    val users = rows.map(_.user_id).distinct.length
    val (srows, _) = stateFootprint(q)
    assert(srows <= users + 1L,
      s"state rows $srows exceed user cardinality ${users + 1}")
  }

  test("asofStream: a second-misaligned feature above the watermark is never missed; idle feature tails compact") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def t(ms: Long) = new java.sql.Timestamp(ms)
    def feat(u: Long, ms: Long, id: Long, v: Long) =
      graft.streaming.PitEvent(u, t(ms), "feat", id, v)
    def label(u: Long, ms: Long, id: Long) =
      graft.streaming.PitEvent(u, t(ms), "label", id, 0L)
    val input = MemoryStream[graft.streaming.PitEvent]
    val q = StreamOps.asofStream(input.toDF(), watermark = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("pit_misalign").start()
    // batch 1: a MID-SECOND label at lt = 25 (ts 25.400 s), a watermark
    // driver to wm_ms = 25 900 (35.9 s − 10 s) so ⌊wm⌋ == the label
    // second, and an idle user (50) buffering a 5 000-feature tail with
    // no labels — the compaction fixture
    input.addData((label(7, 25400L, 1L) +: feat(99, 35900L, -1L, 0L) +:
      (0 until 5000).map(i => feat(50, i * 4L, -100L - i, i.toLong))): _*)
    q.processAllAvailable()
    val bytesAfterLoad = q.recentProgress.flatMap(_.stateOperators)
      .map(_.memoryUsedBytes).max
    // batch 2: poke user 7 with an in-horizon feature (ft = 30 > lt,
    // irrelevant to the pick) — the kernel must NOT finalize lt == ⌊wm⌋
    input.addData(feat(7, 30000L, -2L, 7L))
    q.processAllAvailable()
    // batch 3: the dangerous row — ts 25.950 s > wm 25.900 s is NOT
    // late, yet ft == 25 == lt: it must become the finalized pick
    input.addData(feat(7, 25950L, -3L, 42L))
    q.processAllAvailable()
    val tailBytes = q.recentProgress.flatMap(_.stateOperators)
      .map(_.memoryUsedBytes).last
    // batch 4: far-future sentinel finalizes everything
    input.addData(feat(999999L, 1000000000L, -4L, 0L))
    q.processAllAvailable(); q.stop()
    val out = spark.table("pit_misalign")
      .as[graft.streaming.PitOut].collect()
    assert(out.toSeq == Seq(
      graft.streaming.PitOut(7L, 1L, 25L, Some(25L), Some(42L))),
      "the label must wait for the full second and pick the " +
        "second-misaligned feature (pre-fix kernels emit feat = None)")
    // the idle user's 5 000-feature tail compacted to the single
    // dominant row via the event-time timeout — without any poke
    assert(tailBytes.toDouble < bytesAfterLoad * 0.7,
      s"idle tail state must shrink: $tailBytes B vs $bytesAfterLoad B")
  }

  test("asofStream idleTtlSec: idle users evict (state falls, surfaced), later labels re-enter empty") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def feat(u: Long, sec: Long, id: Long, v: Long) =
      graft.streaming.PitEvent(u, t(sec), "feat", id, v)
    def label(u: Long, sec: Long, id: Long) =
      graft.streaming.PitEvent(u, t(sec), "label", id, 0L)
    val input = MemoryStream[graft.streaming.PitEvent]
    val q = StreamOps.asofStream(input.toDF(), watermark = "10 seconds",
        idleTtlSec = Some(60L))
      .writeStream.outputMode("append").format("memory")
      .queryName("pit_ttl").start()
    // user 1 deposits one feature, then goes silent; user 9 drives wm
    // (epoch-0 events fall ON the initial watermark and are dropped as
    // late — the fixture lives at t0 = 1000 s)
    input.addData(feat(1L, 1000L, -1L, 7L), feat(9L, 1015L, -2L, 0L))
    q.processAllAvailable()
    // wm = 1020 s: user 1's feature compacts to the dominant row (< TTL)
    input.addData(feat(9L, 1030L, -3L, 0L))
    q.processAllAvailable()
    val rowsBefore = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).last
    // wm = 1070 s ≥ 1000 + 60: user 1's idle deadline passed — evicted
    input.addData(feat(9L, 1080L, -4L, 0L))
    q.processAllAvailable()
    val rowsAfter = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).last
    assert(rowsAfter < rowsBefore,
      s"state rows must FALL on idle eviction: $rowsBefore -> $rowsAfter")
    // the eviction is SURFACED: a label_id = -1 sentinel carrying the
    // dropped dominant feature (no silent state caps)
    val sentinels = spark.table("pit_ttl")
      .as[graft.streaming.PitOut].collect().filter(_.label_id == -1L)
    assert(sentinels.toSeq ==
      Seq(graft.streaming.PitOut(1L, -1L, 1000L, Some(1000L), Some(7L))),
      s"eviction sentinel expected, got ${sentinels.toSeq}")
    // the documented trade-off: a label arriving AFTER eviction re-enters
    // with empty feature history and finalizes feat-less
    input.addData(label(1L, 1100L, 5L))
    q.processAllAvailable()
    input.addData(feat(9L, 1300L, -5L, 0L))
    q.processAllAvailable(); q.stop()
    val lbl = spark.table("pit_ttl").as[graft.streaming.PitOut]
      .collect().filter(_.label_id == 5L).toSeq
    assert(lbl == Seq(graft.streaming.PitOut(1L, 5L, 1100L, None, None)),
      s"post-eviction label must see no features, got $lbl")
  }

  test("cdcAnomalyStream: finalized violations equal the batch lag audit under shuffled delivery") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val src = graft.sources.Tables.events(spark, TestSpark.sf)
      .where(col("ts").isNotNull &&
        col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"),
        when(col("event_type") === "signup", "i")
          .when(col("event_type") === "purchase", "u")
          .otherwise("d").as("op"))
    val rows = src.as[graft.streaming.CdcOp].collect().sortBy(_.ts.getTime)
    val input = MemoryStream[graft.streaming.CdcOp]
    val q = StreamOps.cdcAnomalyStream(input.toDF(), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("cdcaud").start()
    rows.grouped(rows.length / 4 + 1).foreach { chunk =>
      // intra-batch disorder is free (the watermark moves after the batch)
      input.addData(scala.util.Random.shuffle(chunk.toIndexedSeq))
      q.processAllAvailable()
    }
    // far-future sentinel pushes the watermark past every buffered op
    val far = new java.sql.Timestamp(rows.map(_.ts.getTime).max + 86400000L)
    input.addData(graft.streaming.CdcOp(999999L, far, -1L, "i"))
    q.processAllAvailable()
    val streamed = spark.table("cdcaud")
      .as[graft.streaming.CdcViolation].collect()
      .map(v => v.event_id -> v.violation).toMap
    // batch twin: the etl_cdc_anomalies lag kernel at per-op granularity
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = src.withColumn("prev", lag(col("op"), 1).over(w))
      .withColumn("violation",
        when(col("op") === "i" && col("prev").isin("i", "u"), "insert_on_live")
          .when(col("op") === "u" && col("prev") === "d", "update_after_delete")
          .when(col("op") === "u" && col("prev").isNull, "update_before_insert")
          .when(col("op") === "d" && col("prev") === "d", "double_delete")
          .when(col("op") === "d" && col("prev").isNull, "delete_before_insert"))
      .where(col("violation").isNotNull)
      .select(col("event_id"), col("violation"))
      .as[(Long, String)].collect().toMap
    assert(streamed == batch,
      "every violating op finalized once with the batch verdict")
    // the registered rollup agrees too (same data → same histogram)
    val reg = graft.queries.Round14b.queries("etl_cdc_anomalies")(
        spark, TestSpark.sf)
      .collect().map(r => r.getAs[String]("violation") ->
        r.getAs[Long]("n_ops")).toMap
    val rolled = streamed.groupBy(_._2).map { case (v, m) => v -> m.size.toLong }
    assert(rolled == reg, "streamed rollup == registered batch query")
    // MEASURED state: ≤ one row per key (+ the sentinel user)
    val users = rows.map(_.user_id).distinct.length
    val (srows, _) = stateFootprint(q)
    q.stop()
    assert(srows <= users + 1L,
      s"state rows $srows exceed key cardinality ${users + 1}")
  }

  test("cdcAnomalyStream: a late op re-orders into its event-time slot before finalization") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[graft.streaming.CdcOp]
    val q = StreamOps.cdcAnomalyStream(input.toDF(), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("cdclate").start()
    // arrival order i(t1), u(t3), then LATE d(t2): processed in arrival
    // order there is no violation; in event-time order (i, d, u) the u
    // is an update_after_delete — the audit must see the event-time one
    input.addData(graft.streaming.CdcOp(1L, ts(1), 10L, "i"),
      graft.streaming.CdcOp(1L, ts(3), 30L, "u"))
    q.processAllAvailable()
    input.addData(graft.streaming.CdcOp(1L, ts(2), 20L, "d"))
    q.processAllAvailable()
    // watermark flush
    input.addData(graft.streaming.CdcOp(999L, ts(59), -1L, "i"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("cdclate").as[graft.streaming.CdcViolation]
      .collect().map(v => (v.event_id, v.violation)).toSet
    assert(got == Set((30L, "update_after_delete")),
      s"late delete re-ordered before the update: $got")
  }

  test("cdcAnomalyStream idleTtlSec: idle carried-op keys evict (surfaced), later ops re-enter empty") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[graft.streaming.CdcOp]
    val q = StreamOps.cdcAnomalyStream(input.toDF(),
        watermark = "1 minute", idleTtlSec = Some(120L))
      .writeStream.outputMode("append").format("memory")
      .queryName("cdcttl").start()
    def stateRows(): Long =
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal).last
    // key 1 finalizes an insert, then goes silent
    input.addData(graft.streaming.CdcOp(1L, ts(1), 10L, "i"))
    q.processAllAvailable()
    // another key keeps the watermark moving well past 1's idle deadline
    input.addData(graft.streaming.CdcOp(2L, ts(10), 20L, "i"))
    q.processAllAvailable()
    input.addData(graft.streaming.CdcOp(2L, ts(20), 21L, "u"))
    q.processAllAvailable()
    val evicted = spark.table("cdcttl")
      .as[graft.streaming.CdcViolation].collect()
      .filter(_.violation == "state_evicted")
    assert(evicted.map(_.user_id).contains(1L),
      s"key 1 surfaced its eviction: ${evicted.mkString(",")}")
    // a genuine update for the evicted key now folds from empty state —
    // the documented re-enter-empty trade-off
    input.addData(graft.streaming.CdcOp(1L, ts(21), 11L, "u"))
    q.processAllAvailable()
    input.addData(graft.streaming.CdcOp(999L, ts(59), -1L, "i"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("cdcttl").as[graft.streaming.CdcViolation]
      .collect().map(v => (v.user_id, v.event_id, v.violation)).toSet
    assert(got.contains((1L, 11L, "update_before_insert")),
      s"re-entered key folds from empty: $got")
  }
}
