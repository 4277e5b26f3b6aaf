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

  test("upsertSink: crash-replayed batch + overlapping redelivery is exactly-once") {
    import spark.implicits._
    val root = tempDir("recover-upsert")
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"; val table = s"$root/table"

    def deliver(rows: Seq[Ev]): Unit =
      rows.toDF().repartition(1).write.mode("append").parquet(inDir)
    // the composed pipeline: batch cleaning kernel -> keyed upsert sink
    def start() = StreamOps.upsertSink(
      StreamOps.cleanStream(
        spark.readStream.schema(Seq.empty[Ev].toDF().schema).parquet(inDir)),
      table, Seq("event_id"), 4, ckpt)

    deliver(Seq(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 2.0),
      Ev(3, ts(3), 2, "click", 3.0)))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // crash injection: batch 0's sink write landed, its commit didn't
    assert(new java.io.File(s"$ckpt/commits/0").delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete() // local-FS checksum shadow
    // overlapping redelivery: key 3 updated, 4 and 5 new
    deliver(Seq(Ev(3, ts(4), 2, "click", 30.0), Ev(4, ts(5), 3, "purchase", 4.0),
      Ev(5, ts(6), 3, "view", 5.0)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    // batch 0 was REPLAYED (same offsets, no commit) then batch 1
    // applied — the keyed merge must absorb the duplicate delivery
    val got = graft.sinks.KeyedParquetSink.read(spark, table)
      .select($"event_id", $"val").as[(Long, Double)].collect().sorted.toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, 30.0), (4L, 4.0), (5L, 5.0)))
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
    // upsertSink: two versions of one key in the first batch keep one row
    val ups = MemoryStream[(Long, Long, String)]
    val up = StreamOps.upsertSink(ups.toDF().toDF("k", "ver", "payload"),
      s"$root/up", Seq("k"), 4, s"$root/up_ckpt", versionCols = Seq("ver"))
    ups.addData((1L, 2L, "a2"), (1L, 1L, "a1"))
    up.processAllAvailable(); up.stop()
    assert(graft.sinks.KeyedParquetSink.read(spark, s"$root/up")
      .as[(Long, Long, String)].collect().toSeq == Seq((1L, 2L, "a2")))
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

  test("ingestSink: crash-replayed batch folds NOTHING into the three artifacts") {
    import spark.implicits._
    import graft.ops.{IncrementalDedup, IvfIndex, TokenizerModel}
    val root = tempDir("recover-ingest")
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    val dedupPath = s"$root/dedup"; val bpePath = s"$root/bpe"
    val ivfPath = s"$root/ivf"; val reportPath = s"$root/report"

    // the three artifacts, built once (the IngestPipelineSpec fixture)
    IncrementalDedup.buildIndex(
      Seq(1L -> "alpha bravo charlie delta echo foxtrot golf hotel india",
        2L -> "one two three four five six seven eight nine ten eleven")
        .toDF("doc_id", "text"), "doc_id", "text", dedupPath)
    TokenizerModel.save(spark,
      Seq(("the", 1L, 10L)).toDF("token", "token_id", "n"),
      Seq((1L, "t h")).toDF("round", "pair"), bpePath)
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val r0 = IvfIndex.build(spark, emb, "vec_id", "embedding", ivfPath,
      numBuckets = 16)
    def storedVectors(): Long = IvfIndex.stats(spark, ivfPath)
      .agg(sum(col("n"))).head.getLong(0)
    val vec5 = emb.where(col("vec_id") === 5L)
      .select(col("embedding")).head.getSeq[Float](0)
    val vec6 = emb.where(col("vec_id") === 6L)
      .select(col("embedding")).head.getSeq[Float](0)
    val vec7 = emb.where(col("vec_id") === 7L)
      .select(col("embedding")).head.getSeq[Float](0)

    def deliver(rows: Seq[(Long, String, Seq[Float])]): Unit =
      rows.toDF("doc_id", "text", "embedding").repartition(1)
        .write.mode("append").parquet(inDir)
    def start() = StreamOps.ingestSink(
      spark.readStream
        .schema("doc_id LONG, text STRING, embedding ARRAY<FLOAT>")
        .parquet(inDir),
      dedupPath, bpePath, ivfPath, reportPath, ckpt)

    // batch 0: two fresh docs with embeddings
    deliver(Seq(
      (2000001L, "streaming batch with wholly new content arrives", vec5),
      (2000002L, "a second fresh streaming document lands here", vec6)))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(storedVectors() == r0.nVectors + 2L, "batch 0 folded 2 vectors")
    // crash injection: the artifacts were written, the commit wasn't
    assert(new java.io.File(s"$ckpt/commits/0").delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete() // local-FS checksum shadow
    // batch 1 after restart: one fresh doc + one re-delivery of batch 0
    deliver(Seq(
      (2000003L, "the third document only exists after the restart", vec7),
      (2000011L, "streaming batch with wholly new content arrives", vec5)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    // batch 0 REPLAYED: its docs are now stored, so the replay verdicts
    // them exact dups and folds nothing — the artifacts are exactly-once
    // in effect: build + 2 (batch 0) + 1 (batch 1's fresh doc) vectors
    assert(storedVectors() == r0.nVectors + 3L,
      "replayed batch 0 appended nothing; batch 1 appended its 1 unique")
    // the report is an ATTEMPT log: batch 0 twice (the replay shows 0
    // ingested — the idempotence receipt), batch 1 once
    val rep = spark.read.parquet(reportPath)
      .select($"batch_id", $"uniques", $"vectors_appended")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(rep == Seq((0L, 0L, 0L), (0L, 2L, 2L), (1L, 1L, 1L)),
      s"attempt log must show the replay ingesting 0: $rep")
    // and the re-delivered doc inside batch 1 gated on the STORED index
    val v = IncrementalDedup.verdicts(spark,
        Seq((3000001L, "the third document only exists after the restart"))
          .toDF("doc_id", "text"), "doc_id", "text", dedupPath).head
    assert(v.getAs[String]("status") == "exact_dup" &&
      v.getAs[Long]("keeper") == 2000003L,
      s"the streamed doc gates later copies from the store: $v")
  }

  test("eraseSink: crash-replayed erasure removes NOTHING twice; receipts logged per attempt") {
    import spark.implicits._
    import graft.ops.{IncrementalDedup, IvfIndex, TokenizerModel}
    val root = tempDir("recover-erase")
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"
    val dedupPath = s"$root/dedup"; val bpePath = s"$root/bpe"
    val ivfPath = s"$root/ivf"; val reportPath = s"$root/report"

    // artifacts + two ingested subjects to erase (the ingest fixture)
    IncrementalDedup.buildIndex(
      Seq(1L -> "alpha bravo charlie delta echo foxtrot golf hotel india")
        .toDF("doc_id", "text"), "doc_id", "text", dedupPath)
    TokenizerModel.save(spark,
      Seq(("the", 1L, 10L)).toDF("token", "token_id", "n"),
      Seq((1L, "t h")).toDF("round", "pair"), bpePath)
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
    val r0 = IvfIndex.build(spark, emb, "vec_id", "embedding", ivfPath,
      numBuckets = 16)
    val vec5 = emb.where(col("vec_id") === 5L)
      .select(col("embedding")).head.getSeq[Float](0)
    val vec6 = emb.where(col("vec_id") === 6L)
      .select(col("embedding")).head.getSeq[Float](0)
    val ing = graft.etl.Pipelines.ingest(spark, Seq(
        (2000001L, "subject one text that will be erased later", Some(vec5)),
        (2000002L, "subject two text that will also be erased", Some(vec6)))
        .toDF("doc_id", "text", "embedding"),
      dedupPath, bpePath, ivfPath)
    assert(ing.uniques == 2L && ing.vectorsAppended == 2L, s"fixture: $ing")
    def storedVectors(): Long = IvfIndex.stats(spark, ivfPath)
      .agg(sum(col("n"))).head.getLong(0)

    def deliver(ids: Seq[Long]): Unit =
      ids.toDF("doc_id").repartition(1).write.mode("append").parquet(inDir)
    def start() = StreamOps.eraseSink(
      spark.readStream.schema("doc_id LONG").parquet(inDir),
      "doc_id", dedupPath, ivfPath, reportPath, ckpt)

    // batch 0: erase subject one
    deliver(Seq(2000001L))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(storedVectors() == r0.nVectors + 1L, "subject one's vector left")
    // crash injection: the artifacts were rewritten, the commit wasn't
    assert(new java.io.File(s"$ckpt/commits/0").delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    // batch 1 after restart: erase subject two
    deliver(Seq(2000002L))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    // batch 0 REPLAYED: the subject is already gone — the replay removes
    // nothing (idempotent erasure), batch 1 removes subject two
    assert(storedVectors() == r0.nVectors,
      "exactly the two subjects' vectors are gone — no over-deletion")
    val rep = spark.read.parquet(reportPath)
      .select($"batch_id", $"subjects", $"ann_rows", $"dedup_sigs")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(rep == Seq((0L, 1L, 0L, 0L), (0L, 1L, 1L, 1L), (1L, 1L, 1L, 1L)),
      s"attempt log: the replay's receipt row removes 0: $rep")
    // the dedup store FORGOT both subjects: their texts re-ingest unique
    val v = IncrementalDedup.verdicts(spark,
        Seq((3000001L, "subject one text that will be erased later"))
          .toDF("doc_id", "text"), "doc_id", "text", dedupPath).head
    assert(v.getAs[String]("status") == "unique",
      s"an erased text must verdict unique again: $v")
  }

  test("nearDedupStream file sink: replayed batch emits no duplicates, state survives restart") {
    import spark.implicits._
    val root = tempDir("recover-neardup")
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"; val outDir = s"$root/out"

    def deliver(rows: Seq[(Long, java.sql.Timestamp, String)]): Unit =
      rows.toDF("doc_id", "ts", "text").repartition(1)
        .write.mode("append").parquet(inDir)
    def start() = {
      val in = spark.readStream
        .schema("doc_id LONG, ts TIMESTAMP, text STRING").parquet(inDir)
      StreamOps.nearDedupStream(in, "doc_id", "text", "ts")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
    }

    val base = "the quick brown fox jumps over the lazy dog again and again"
    deliver(Seq((1L, ts(1), base), (2L, ts(2), "completely different words here")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // crash injection as above: replay batch 0 against the file sink
    assert(new java.io.File(s"$ckpt/commits/0").delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete() // local-FS checksum shadow
    // doc 3 duplicates doc 1's text AFTER the restart: the band-keeper
    // state recovered from the checkpoint must attribute it to doc 1
    deliver(Seq((3L, ts(10), base)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val out = spark.read.parquet(outDir)
      .select($"doc_id", $"band", $"keeper").as[(Long, Int, Long)].collect().toSeq
    // exactly-once: the replayed batch-0 rows appear ONCE (the file
    // sink's _spark_metadata log drops the duplicate files)
    assert(out.size == out.distinct.size)
    // state recovery: every band verdict for doc 3 names the pre-crash
    // keeper (doc 1), not doc 3 itself
    val doc3 = out.filter(_._1 == 3L)
    assert(doc3.nonEmpty && doc3.forall(_._3 == 1L))
  }
}
