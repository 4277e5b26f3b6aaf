package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Runner
import graft.sources.Tables

class Round15Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sf)

  test("stream replays run in a session clone: the caller's confs hold, no sink view is left") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    def confs = keys.map(k => spark.conf.getOption(k))
    val before = confs
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[Option[String]]]()
    @volatile var replaying = true
    val reader = new Thread(() => while (replaying) { seen.add(confs); Thread.sleep(1) })
    reader.start()
    val names = Seq("stream_cdc_replay", "stream_seq_gaps_replay", "stream_pit_replay")
    val outs =
      try names.map(n => run(n).collect().toSeq)
      finally { replaying = false; reader.join() }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set(before))
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_replay")))
    assert(outs.forall(_.nonEmpty))
    assert(names.map(n => run(n).collect().toSeq) == outs)
  }

  test("etl_jdbc_roundtrip: target equals the relational pipeline result") {
    val got = run("etl_jdbc_roundtrip").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val want = Tables.customer(spark, TestSpark.sf)
      .where(col("c_custkey") % 20 === 0)
      .select(col("c_custkey"), upper(trim(col("c_name"))), col("c_acctbal"))
      .orderBy(col("c_custkey")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.nonEmpty && got === want)
  }

  test("etl_run_history: stage totals, failure row, idempotent re-persist") {
    val rows = run("etl_run_history").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 4, s"one row per (run, stage): ${rows.mkString}")
    val boom = rows.find(_._2 == "boom").get
    assert(boom._3 === 0L && boom._4 === 0L)
    val cust = rows.find(_._2 == "clean_customer").get
    assert(cust._3 === 1L &&
      cust._4 === Tables.customer(spark, TestSpark.sf).count())
  }

  test("persisted run history survives a 'restart' (fresh read from disk)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_rh_spec").toString + "/history"
    val r1 = Runner.run(spark, Seq(
      Runner.Stage("s1", sp => Tables.region(sp, TestSpark.sf))), retries = 1)
    Runner.persistReport(spark, path, 1L, r1)
    // mutate the in-memory runner state with a later unrelated run
    Runner.run(spark, Seq(
      Runner.Stage("other", sp => Tables.nation(sp, TestSpark.sf))),
      retries = 1)
    // a brand-new frame straight off disk still serves run 1
    val back = Runner.runHistory(spark, path)
      .where(col("run_id") === 1L).collect()
    assert(back.length === 1 &&
      back(0).getAs[String]("stage") === "s1" &&
      back(0).getAs[Long]("rows") ===
        Tables.region(spark, TestSpark.sf).count())
    // re-persisting run 1 with a CHANGED report replaces, not duplicates
    val r1b = Runner.RunReport(r1.results.map(_.copy(rows = 999L)))
    Runner.persistReport(spark, path, 1L, r1b)
    val again = Runner.runHistory(spark, path)
      .where(col("run_id") === 1L).collect()
    assert(again.length === 1 && again(0).getAs[Long]("rows") === 999L)
  }
}
