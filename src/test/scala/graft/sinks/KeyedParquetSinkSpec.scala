package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import org.apache.spark.sql.graft.Bridge
import java.nio.file.Files

class KeyedParquetSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Spark jobs `body` runs, counted under a job group of its own (AQE
    * stage jobs inherit it), read from the status store once every job
    * event posted so far has reached it. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"sink-spec-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "sink job count")
    try body finally sc.clearJobGroup()
    Bridge.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Bucket of a single-column key, the writer's hash. */
  private def bucketOf(ids: Seq[Long], numBuckets: Int): Map[Long, Int] =
    ids.toDF("id")
      .select($"id", pmod(xxhash64(concat_ws("\u0000", $"id")), lit(numBuckets)).cast("int"))
      .as[(Long, Int)].collect().toMap

  private def bucketDirs(dir: String): Set[String] =
    new java.io.File(dir).list().filter(_.startsWith("_bucket=")).toSet

  /** Delete `ids` from a table keyed on `id` through mergeInto's delete
    * clause; returns the rows removed. */
  private def deleteIds(dir: String, ids: Seq[Long], numBuckets: Int): Long = {
    val table = KeyedParquetSink.read(spark, dir)
    val before = table.count()
    val victims = ids.toDF("id").select(table.schema.map(f =>
      if (f.name == "id") $"id" else lit(null).cast(f.dataType).as(f.name)): _*)
    KeyedParquetSink.mergeInto(spark, dir, victims, Seq("id"), numBuckets,
      deleteCond = Some(lit(true)))
    before - KeyedParquetSink.read(spark, dir).count()
  }

  test("mergeInto on a 16-bucket table runs at most 3 Spark jobs (4 from a non-local frame)") {
    val dir = Files.createTempDirectory("graft_sink_jobs").toString + "/t"
    KeyedParquetSink.write((1L to 200L).map(i => (i, s"n$i")).toDF("id", "name"),
      dir, Seq("id"), numBuckets = 16)
    val updates = (190L to 210L).map(i => (i, s"u$i")).toDF("id", "name")
    val jobs = jobsOf(KeyedParquetSink.mergeInto(spark, dir, updates, Seq("id"), 16))
    assert(jobs <= 3, s"$jobs jobs")
    // touched buckets of a frame not on the driver: one more job, no shuffle
    val more = (205L to 220L).map(i => (i, s"v$i")).toDF("id", "name").localCheckpoint(true)
    val jobs2 = jobsOf(KeyedParquetSink.mergeInto(spark, dir, more, Seq("id"), 16))
    assert(jobs2 <= 4, s"$jobs2 jobs")
    val got = KeyedParquetSink.read(spark, dir).as[(Long, String)].collect().toMap
    assert(got.size == 220 && got(189L) == "n189" && got(190L) == "u190" &&
      got(204L) == "u204" && got(210L) == "v210" && got(220L) == "v220")
    // one file per bucket, as the initial write left it
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("_bucket=")).foreach { d =>
      assert(d.list().count(_.endsWith(".parquet")) == 1, d.getName)
    }
  }

  test("readBuckets: a point read is one job, under the table's own schema") {
    val dir = Files.createTempDirectory("graft_sink_read").toString + "/t"
    val rows = (1L to 100L).map(i => (i, s"n$i", i * 0.5, i % 2 == 0))
    KeyedParquetSink.write(rows.toDF("id", "name", "v", "even"), dir, Seq("id"), 64)
    val wanted = Seq(Tuple1(42L)).toDF("id")
    var got = Seq.empty[org.apache.spark.sql.Row]
    val jobs = jobsOf {
      got = KeyedParquetSink.readBuckets(spark, dir, Seq("id"), 64, wanted)
        .where($"id" === 42L).collect().toSeq
    }
    assert(jobs == 1, s"$jobs jobs")
    assert(got.map(r => (r.getLong(0), r.getString(1))) == Seq((42L, "n42")))
    assert(KeyedParquetSink.readBuckets(spark, dir, Seq("id"), 64, wanted).schema ==
      spark.read.parquet(dir).drop("_bucket").schema)
  }

  test("read: a full-table read runs only its caller's jobs, under the table's own schema") {
    val dir = Files.createTempDirectory("graft_sink_full_read").toString + "/t"
    val rows = (1L to 100L).map(i => (i, s"n$i", i * 0.5))
    KeyedParquetSink.write(rows.toDF("id", "name", "v"), dir, Seq("id"), 16)
    val built = KeyedParquetSink.read(spark, dir)
    val callers = jobsOf(built.count())
    var n = 0L
    val jobs = jobsOf { n = KeyedParquetSink.read(spark, dir).count() }
    assert(jobs == callers, s"$jobs jobs, the count alone runs $callers")
    // Spark's path read infers the schema in a job of its own
    assert(jobsOf(spark.read.parquet(dir).count()) > callers)
    assert(n == 100L)
    assert(built.schema == spark.read.parquet(dir).drop("_bucket").schema)
    assert(built.as[(Long, String, Double)].collect().sortBy(_._1).toSeq == rows)
  }

  test("one merge empties a touched bucket, keeps another, creates a third") {
    val dir = Files.createTempDirectory("graft_sink_dirs").toString + "/t"
    val byBucket = bucketOf(1L to 64L, 8).toSeq.groupBy(_._2).view
      .mapValues(_.map(_._1).sorted).toMap
    val Seq(emptied, kept, created) = byBucket.keys.toSeq.sorted.take(3)
    val a = byBucket(emptied).head
    val Seq(b1, b2) = byBucket(kept).take(2)
    val c = byBucket(created).head
    KeyedParquetSink.write(Seq((a, "a"), (b1, "b1"), (b2, "b2")).toDF("id", "name"),
      dir, Seq("id"), 8)
    assert(bucketDirs(dir) == Set(s"_bucket=$emptied", s"_bucket=$kept"))
    val changes = Seq((a, "a", "delete"), (b1, "b1x", "update"), (c, "c", "insert"))
      .toDF("id", "name", "change")
    KeyedParquetSink.mergeInto(spark, dir, changes, Seq("id"), 8,
      deleteCond = Some($"change" === "delete"))
    assert(bucketDirs(dir) == Set(s"_bucket=$kept", s"_bucket=$created"))
    def rows() = KeyedParquetSink.read(spark, dir).as[(Long, String)].collect().toSet
    assert(rows() == Set((b1, "b1x"), (b2, "b2"), (c, "c")))
    // a later merge into the emptied bucket's neighbours never brings `a` back
    KeyedParquetSink.upsert(spark, dir, Seq((b2, "b2x")).toDF("id", "name"), Seq("id"), 8)
    assert(rows() == Set((b1, "b1x"), (b2, "b2x"), (c, "c")))
  }

  test("a junk file in an untouched bucket directory is never opened") {
    val dir = Files.createTempDirectory("graft_sink_junk").toString + "/t"
    val ids = 1L to 64L
    val bucket = bucketOf(ids, 8)
    KeyedParquetSink.write(ids.map(i => (i, s"n$i")).toDF("id", "name"), dir, Seq("id"), 8)
    val Seq(junkB, mergeB, deleteB, readB) = (0 until 8).take(4)
    def key(b: Int, nth: Int) = ids.filter(bucket(_) == b)(nth)
    Files.write(java.nio.file.Paths.get(dir, s"_bucket=$junkB", "junk.parquet"),
      "not parquet".getBytes("UTF-8"))
    // a scan of the whole table does open it
    intercept[Exception](KeyedParquetSink.read(spark, dir).collect())

    KeyedParquetSink.mergeInto(spark, dir, Seq((key(mergeB, 0), "m")).toDF("id", "name"),
      Seq("id"), 8)
    KeyedParquetSink.mergeInto(spark, dir, Seq((key(deleteB, 0), "")).toDF("id", "name"),
      Seq("id"), 8, deleteCond = Some(lit(true)))
    val read = KeyedParquetSink.readBuckets(spark, dir, Seq("id"), 8,
        Seq(key(mergeB, 0), key(readB, 0)).toDF("id"))
      .as[(Long, String)].collect().toMap
    assert(read(key(mergeB, 0)) == "m" && read(key(readB, 0)) == s"n${key(readB, 0)}")
    assert(!read.contains(key(deleteB, 0)))
    assert(Files.exists(java.nio.file.Paths.get(dir, s"_bucket=$junkB", "junk.parquet")))
  }

  test("upsert rewrites only touched buckets and merges last-write-wins") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/table"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "name", "amount")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 8)

    // record per-bucket file state to prove untouched buckets aren't rewritten
    def bucketFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("_bucket=")).map { d =>
        d.getName -> d.listFiles().map(f => f.getName + ":" + f.lastModified()).toSet
      }.toMap
    }
    val before = bucketFiles()

    val updates = Seq((2L, "b2", 21.0), (5L, "e", 50.0)).toDF("id", "name", "amount")
    KeyedParquetSink.upsert(spark, dir, updates, Seq("id"), numBuckets = 8)

    val got = KeyedParquetSink.read(spark, dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0)))

    val after = bucketFiles()
    val touched = {
      val ub = updates.withColumn("b",
        pmod(xxhash64(concat_ws(" ", col("id"))), lit(8)).cast("int"))
      ub.select("b").distinct().as[Int].collect().toSet.map((b: Int) => s"_bucket=$b")
    }
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty, "test needs at least one untouched bucket")
    untouched.foreach { b => assert(before(b) == after(b), s"bucket $b was rewritten") }
    touched.foreach { b => assert(before.get(b) != after.get(b), s"bucket $b unchanged") }
  }

  test("upsert is idempotent (re-delivery of the same updates)") {
    val dir = Files.createTempDirectory("graft_sink2").toString + "/table"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "amount")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 4)
    val updates = Seq((2L, "b2", 21.0)).toDF("id", "name", "amount")
    KeyedParquetSink.upsert(spark, dir, updates, Seq("id"), numBuckets = 4)
    KeyedParquetSink.upsert(spark, dir, updates, Seq("id"), numBuckets = 4)
    val got = KeyedParquetSink.read(spark, dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 21.0)))
  }

  test("versioned upsert breaks same-key ties by versionCols desc") {
    val dir = Files.createTempDirectory("graft_sink3").toString + "/table"
    val base = Seq((1L, 0L, "v0")).toDF("id", "ver", "payload")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 2)
    val updates = Seq((1L, 2L, "v2"), (1L, 1L, "v1")).toDF("id", "ver", "payload")
    KeyedParquetSink.upsert(spark, dir, updates, Seq("id"), numBuckets = 2, versionCols = Seq("ver"))
    val got = KeyedParquetSink.read(spark, dir).as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 2L, "v2")))
  }

  test("bucket-count mismatch is rejected loudly, never silently partial") {
    val dir = Files.createTempDirectory("graft_sink_meta").toString + "/t"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 8)
    assert(KeyedParquetSink.storedBuckets(spark, dir).contains(8))
    val e = intercept[IllegalArgumentException](deleteIds(dir, Seq(1L), numBuckets = 16))
    assert(e.getMessage.contains("bucket-count mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      KeyedParquetSink.upsert(spark, dir, Seq((1L, "x")).toDF("id", "name"),
        Seq("id"), numBuckets = 4)
    }
    assert(e2.getMessage.contains("bucket-count mismatch"))
    // the correct count still works
    assert(deleteIds(dir, Seq(1L), numBuckets = 8) == 1L)
  }

  test("empty or corrupt bucket metadata degrades to trust-the-caller") {
    val dir = Files.createTempDirectory("graft_sink_meta2").toString + "/t"
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 8)
    val meta = java.nio.file.Paths.get(dir, "_graft_buckets")
    // empty file: read() returns -1 — must map to None, not crash
    java.nio.file.Files.write(meta, Array.empty[Byte])
    assert(KeyedParquetSink.storedBuckets(spark, dir).isEmpty)
    // corrupt content: not an int — same degradation
    java.nio.file.Files.write(meta, "not-a-number".getBytes("UTF-8"))
    assert(KeyedParquetSink.storedBuckets(spark, dir).isEmpty)
    // and keyed operations proceed on the caller's count (pre-metadata
    // behavior) instead of crashing every read/merge/delete
    assert(deleteIds(dir, Seq(1L), numBuckets = 8) == 1L)
  }

  test("full-table erasure leaves a readable zero-row table") {
    val dir = Files.createTempDirectory("graft_sink_empty").toString + "/t"
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v")
    KeyedParquetSink.write(base, dir, Seq("id"), numBuckets = 4)
    assert(deleteIds(dir, Seq(1L, 2L), numBuckets = 4) == 2L)
    // the erased-empty table still reads (0 rows, schema intact) ...
    val back = KeyedParquetSink.read(spark, dir)
    assert(back.count() == 0L)
    assert(back.columns.toSet == Set("id", "name", "v"))
    // ... and accepts a later upsert
    KeyedParquetSink.upsert(spark, dir,
      Seq((9L, "z", 9.0)).toDF("id", "name", "v"), Seq("id"), numBuckets = 4)
    assert(KeyedParquetSink.read(spark, dir).count() == 1L)
  }
}
