package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Failure-injection recovery proofs — the exactly-once-through-crash
  * property the reference's retry ×3 loop (etlService.js:416-449)
  * approximates with re-runs, demonstrated under an injected crash.
  *
  * Injection: run a checkpointed query, then delete `commits/<n>` —
  * the exact on-disk state a crash between the sink write and the
  * commit record leaves behind. On restart Spark replays batch n from
  * the offsets log, so the sink receives the SAME micro-batch twice;
  * exactly-once EFFECT then rests on the sink (keyed idempotent merge /
  * the file sink's transaction log), which is what these tests pin.
  */
class StreamRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  test("cdcAnomalyStream TTL-off keeps the PRE-TTL state schema; " +
    "checkpoint restart resumes") {
    import spark.implicits._

    // every byte under <ckpt>/state — the persisted state schema files
    // record field names as text, so a grep for the TTL-only field
    // proves which encoding a deployment wrote
    def stateBytes(ckpt: String): String = {
      val root = java.nio.file.Paths.get(ckpt, "state")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => new String(java.nio.file.Files.readAllBytes(p),
          "ISO-8859-1"))
        .mkString
    }

    def run(ttl: Option[Long], tag: String): String = {
      val root = tempDir(s"cdc-compat-$tag")
      val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
      val outDir = s"$root/out"
      def deliver(rows: Seq[CdcOp]): Unit =
        rows.toDF().repartition(1).write.mode("append").parquet(inDir)
      def start() = {
        val in = spark.readStream
          .schema(Seq.empty[CdcOp].toDF().schema).parquet(inDir)
        StreamOps.cdcAnomalyStream(in, watermark = "10 minutes",
            idleTtlSec = ttl)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", outDir).start()
      }
      // key 1 finalizes an op and carries state across the stop
      deliver(Seq(CdcOp(1L, ts(1), 10L, "i"), CdcOp(1L, ts(2), 11L, "i")))
      val q1 = start(); q1.processAllAvailable(); q1.stop()
      // restart from the SAME checkpoint — the state-schema validation
      // a deployed stream hits on library upgrade — and flush
      deliver(Seq(CdcOp(999L, ts(59), -1L, "i")))
      val q2 = start(); q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(outDir)
        .as[CdcViolation].collect()
        .map(v => (v.event_id, v.violation)).toSet
      assert(got == Set((11L, "insert_on_live")),
        s"[$tag] resumed stream finalized the carried verdict: $got")
      stateBytes(ckpt)
    }

    // TTL off: the persisted schema is the ORIGINAL two-field CdcStateV1
    // — no lastSeenUs anywhere in the checkpoint, so pre-upgrade
    // deployments resume without a state-schema mismatch
    assert(!run(None, "off").contains("lastSeenUs"),
      "TTL-off checkpoint must not carry the 3-field schema")
    // TTL on: the flag genuinely needs the idle clock — 3-field schema
    assert(run(Some(3600L), "on").contains("lastSeenUs"),
      "TTL-on checkpoint stores the 3-field schema")
  }

  test("cdcSink merges a change stream incl. deletes; crash replay stays exactly-once") {
    import spark.implicits._
    val root = tempDir("recover-cdc")
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"; val table = s"$root/table"

    def deliver(rows: Seq[(Long, String, Double, String)]): Unit =
      rows.toDF("k", "name", "v", "change").repartition(1)
        .write.mode("append").parquet(inDir)
    def start() = StreamOps.cdcSink(
      spark.readStream
        .schema("k LONG, name STRING, v DOUBLE, change STRING").parquet(inDir),
      table, Seq("k"), 4, ckpt)

    // batch 0 bootstraps (its delete rows are dropped, not inserted)
    deliver(Seq((1L, "a", 1.0, "insert"), (2L, "b", 2.0, "insert"),
      (9L, "ghost", 0.0, "delete")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(new java.io.File(s"$ckpt/commits/0").delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete() // local-FS checksum shadow
    // batch 1: update 1, delete 2, insert 3
    deliver(Seq((1L, "a1", 11.0, "update"), (2L, "b", 2.0, "delete"),
      (3L, "c", 3.0, "insert")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    // batch 0 replayed (its re-inserted rows are overwritten / re-merged
    // idempotently), then batch 1 applied: update lands, delete removes
    // key 2, insert lands
    val got = graft.sinks.KeyedParquetSink.read(spark, table)
      .select($"k", $"name", $"v").as[(Long, String, Double)]
      .collect().toSet
    assert(got == Set((1L, "a1", 11.0), (3L, "c", 3.0)))
  }

  test("keyed sinks bootstrap with merge semantics: in-batch versions and deletes resolve") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val root = tempDir("bootstrap")
    // cdcSink: the FIRST batch holds two versions of k1 and an upsert of
    // k2 followed by a newer delete of k2
    val changes = MemoryStream[(Long, Long, String, String)]
    val cdc = StreamOps.cdcSink(changes.toDF().toDF("k", "ver", "payload", "change"),
      s"$root/cdc", Seq("k"), 4, s"$root/cdc_ckpt", versionCols = Seq("ver"))
    changes.addData((1L, 1L, "a1", "upsert"), (1L, 2L, "a2", "upsert"),
      (2L, 1L, "b1", "upsert"), (2L, 2L, "b2", "delete"))
    cdc.processAllAvailable(); cdc.stop()
    assert(graft.sinks.KeyedParquetSink.read(spark, s"$root/cdc")
      .as[(Long, Long, String)].collect().toSeq == Seq((1L, 2L, "a2")))
    // a first batch that deletes every key it carries leaves an empty
    // table the next batch merges into
    val gone = MemoryStream[(Long, Long, String, String)]
    val cdc2 = StreamOps.cdcSink(gone.toDF().toDF("k", "ver", "payload", "change"),
      s"$root/cdc2", Seq("k"), 4, s"$root/cdc2_ckpt", versionCols = Seq("ver"))
    gone.addData((1L, 1L, "a1", "delete"))
    cdc2.processAllAvailable()
    gone.addData((2L, 1L, "b1", "upsert"))
    cdc2.processAllAvailable(); cdc2.stop()
    assert(graft.sinks.KeyedParquetSink.read(spark, s"$root/cdc2")
      .as[(Long, Long, String)].collect().toSeq == Seq((2L, 1L, "b1")))
  }

  test("asofStream: PIT state survives a crash; replayed batch stays exactly-once") {
    import spark.implicits._
    val root = tempDir("recover-asof")
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"; val outDir = s"$root/out"

    def deliver(rows: Seq[PitEvent]): Unit =
      rows.toDF().repartition(1).write.mode("append").parquet(inDir)
    def start() = {
      val in = spark.readStream
        .schema(Seq.empty[PitEvent].toDF().schema).parquet(inDir)
      StreamOps.asofStream(in, watermark = "10 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
    }

    // batch 0: two features + one label for user 1 — the 10 min
    // watermark hasn't passed the label, so EVERYTHING is state
    deliver(Seq(PitEvent(1L, ts(1), "feat", 101L, 10L),
      PitEvent(1L, ts(3), "feat", 103L, 30L),
      PitEvent(1L, ts(5), "label", 500L, 0L)))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // crash injection: sink write landed, commit record didn't
    assert(new java.io.File(s"$ckpt/commits/0").delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete() // local-FS checksum shadow
    // batch 1 after restart: a later feature, a second label, and a
    // far-future sentinel that pushes the watermark past both labels
    deliver(Seq(PitEvent(1L, ts(7), "feat", 107L, 70L),
      PitEvent(1L, ts(8), "label", 800L, 0L),
      PitEvent(99L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"),
        "feat", -1L, 0L)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val out = spark.read.parquet(outDir)
      .as[PitOut].collect().toSeq
    // exactly-once: the replayed batch-0 output appears once
    assert(out.size == out.distinct.size)
    val byLabel = out.map(o => o.label_id -> o).toMap
    assert(byLabel.keySet == Set(500L, 800L))
    def sec(min: Int) = Math.floorDiv(ts(min).getTime, 1000L)
    // label 500 (pre-crash) picks the PRE-CRASH feature recovered from
    // the checkpointed state; label 800 picks the post-restart feature
    assert(byLabel(500L) == PitOut(1L, 500L, sec(5), Some(sec(3)), Some(30L)))
    assert(byLabel(800L) == PitOut(1L, 800L, sec(8), Some(sec(7)), Some(70L)))
  }
}
