package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD

/** The cluster-safe checkpoint switch for session-shared frames:
  * default mode is byte-identical to the historical
  * pin(localCheckpoint(true)); `spark.graft.checkpoint.mode=reliable`
  * routes the same frames through a reliable Dataset.checkpoint whose
  * partitions are FILES — the path that survives executor loss on a
  * real cluster — and reuse (including across a Caches.sweep) keeps
  * answering from the checkpoint. */
class CachesSharedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("SessionMemo: one build per (session, dir), the same frame on " +
      "every request, kept across a sweep") {
    import spark.implicits._
    val dir2 = java.nio.file.Files.createTempDirectory("graft_memo").toString
    (1L to 50L).toDF("x").write.parquet(s"$dir2/t.parquet")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val memo = new Caches.SessionMemo[String, org.apache.spark.sql.DataFrame](
      (s, dir) => {
        builds.incrementAndGet()
        Caches.shared(s.read.parquet(s"$dir/t.parquet")
          .groupBy((col("x") % 5).as("k")).agg(sum(col("x")).as("s")))
      })
    val dir1 = java.nio.file.Files.createTempDirectory("graft_memo").toString
    (1L to 100L).toDF("x").write.parquet(s"$dir1/t.parquet")

    val first = memo(spark, dir1)
    assert(memo(spark, dir1) eq first, "same DataFrame instance per (session, dir)")
    assert(builds.get == 1, "the build runs once")

    val rddId = first.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    val want = first.collect().toSet
    Caches.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "the pinned frame's blocks survive the sweep")
    assert(memo(spark, dir1) eq first)
    assert(first.collect().toSet == want)
    assert(builds.get == 1)

    val second = memo(spark, dir2)
    assert(!(second eq first), "a second dir builds its own entry")
    assert(builds.get == 2)
    assert(second.agg(sum(col("s"))).head.getLong(0) == (1L to 50L).sum)

    // a registry shared frame goes through the same memo
    assert(graft.queries.SimShared.miln(spark, TestSpark.sf) eq
      graft.queries.SimShared.miln(spark, TestSpark.sf))
  }

  test("session-keyed caching lives only in Caches: no isStopped eviction " +
      "or SparkSession-keyed TrieMap elsewhere in src/main/scala") {
    val sessionKeyedTrieMap =
      """TrieMap\s*\.?\s*(?:empty)?\s*\[\s*\(\s*(?:[\w.]*\.)?SparkSession\b""".r
    val offenders = TestSpark.mainSources.collect {
      case (path, src) if path != "graft/Caches.scala" &&
        (src.contains("isStopped") || sessionKeyedTrieMap.findFirstIn(src).isDefined) => path
    }
    assert(offenders.isEmpty,
      s"use Caches.SessionMemo instead of a hand-rolled session cache in: $offenders")
  }

  private def rootIsLogicalRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case _: LogicalRDD => true
      case _ => false
    }

  test("default local mode: shared() == pin(localCheckpoint(true)), " +
      "and an already-rooted frame is not copied again") {
    import spark.implicits._
    val base = (1L to 100L).toDF("x")
      .groupBy((col("x") % 7).as("k")).agg(sum(col("x")).as("s"))
    val sh = Caches.shared(base)
    assert(rootIsLogicalRdd(sh), "local mode roots the frame in blocks")
    def rootRddId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed
        .asInstanceOf[LogicalRDD].rdd.id
    val again = Caches.shared(sh)
    assert(rootRddId(again) == rootRddId(sh),
      "an already-rooted frame must not be re-checkpointed")
    assert(again.collect().map(_.getLong(1)).sum ==
      sh.collect().map(_.getLong(1)).sum)
  }

  test("reliable mode: shared frames live as checkpoint FILES and " +
      "survive a sweep (executor-loss-safe reuse)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_reliable_ckpt").toString
    spark.conf.set(Caches.ModeKey, "reliable")
    spark.conf.set(Caches.DirKey, dir)
    try {
      val base = (1L to 1000L).toDF("x")
        .groupBy((col("x") % 13).as("k")).agg(sum(col("x")).as("s"))
      val sh = Caches.shared(base)
      val want = base.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      // the frame is rooted in a RELIABLY-checkpointed RDD: its
      // partitions are files under the configured dir, not executor
      // blocks — this is the property that survives executor loss
      val rdds = sh.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.rdd
      }
      assert(rdds.nonEmpty && rdds.forall(_.getCheckpointFile.isDefined),
        "reliable mode must root shared frames in checkpoint FILES")
      def files(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles.map(files).sum
        else if (f.getName.startsWith("part-")) 1L else 0L
      assert(files(new java.io.File(dir)) > 0,
        "checkpoint partitions written under spark.graft.checkpoint.dir")

      // reuse still works after the cross-query cache sweep: the sweep
      // drops storage blocks, and the reliable frame re-reads its files
      Caches.sweep(spark)
      val got = sh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, "post-sweep reuse answers from the checkpoint")
    } finally {
      spark.conf.set(Caches.ModeKey, "local")
      spark.conf.unset(Caches.DirKey)
    }
  }
}
