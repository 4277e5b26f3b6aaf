package graft

import java.sql.SQLException
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Normalize, Upsert}
import graft.sources.Jdbc

/** Injected transient fault: the first `failures` batch attempts throw,
  * later ones succeed — the reference's retry-on-transient-failure path
  * (etlService.js:84-104) made testable. Object-held so the closure that
  * ships to executors stays serializable. */
object JdbcFaults {
  val counter = new AtomicInteger(0)
  var failFirst = 0
  val injector: () => Unit = () => {
    if (counter.incrementAndGet() <= failFirst)
      throw new SQLException("injected transient failure")
  }
}

/** End-to-end JDBC parity against an embedded Derby database:
  * changelog-extract → clean → keyed upsert round-trip
  * (≡ etl_changelog_extract + etl_clean_customer + etl_upsert_merge
  * over the reference's source/target pools), plus the retry and
  * skip-accounting contracts of etlService.js. */
class JdbcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val url = "jdbc:derby:memory:graftjdbc;create=true"

  private def freshTables(): Unit = {
    for (t <- Seq("customers_src", "etl_logger", "customers_tgt"))
      try Jdbc.execute(url, s"DROP TABLE $t") catch { case _: SQLException => () }
    Jdbc.execute(url,
      """CREATE TABLE customers_src (
        |  c_id BIGINT, name VARCHAR(100), email VARCHAR(100), acct DOUBLE)""".stripMargin)
    Jdbc.execute(url,
      """CREATE TABLE etl_logger (
        |  log_id BIGINT, ref_key VARCHAR(40), tbl VARCHAR(40))""".stripMargin)
    Jdbc.execute(url,
      """CREATE TABLE customers_tgt (
        |  c_id BIGINT NOT NULL, name VARCHAR(100), email VARCHAR(100),
        |  acct DOUBLE, PRIMARY KEY (c_id))""".stripMargin)
  }

  private def seed(): Unit = {
    freshTables()
    for ((id, name, email, acct) <- Seq(
      (1L, "  ada lovelace ", "ada@x.io", 10.5),
      (2L, "grace hopper", "grace@x.io", 20.0),
      (3L, "alan turing", "alan@x.io", 30.25),
      (4L, "edsger dijkstra", "ed@x.io", 40.0)))
      Jdbc.execute(url,
        s"INSERT INTO customers_src VALUES ($id, '$name', '$email', $acct)")
    // changelog: rows 1 and 3 changed for entity 'customers'; row 2 is a
    // different entity; one NULL-key row (EtlLogger filters those)
    for ((lid, key, tbl) <- Seq(
      (10L, "1", "customers"), (11L, "3", "customers"),
      (12L, "2", "orders"), (13L, null, "customers")))
      Jdbc.execute(url,
        s"INSERT INTO etl_logger VALUES ($lid, " +
          (if (key == null) "NULL" else s"'$key'") + s", '$tbl')")
  }

  test("changelogExtract pulls exactly the logged keys for the entity") {
    seed()
    val ext = Jdbc.changelogExtract(spark, url, "customers_src", "C_ID",
      "etl_logger", "REF_KEY", "TBL", "customers")
    assert(ext.select("C_ID").collect().map(_.getLong(0)).sorted
      === Array(1L, 3L))
  }

  test("filters on a jdbc read are pushed down to the remote scan") {
    seed()
    val df = Jdbc.read(spark, url, "customers_src")
      .where(col("C_ID") > 2L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("C_ID"),
      s"expected pushed filter in:\n$plan")
    assert(df.count() === 2)
  }

  test("readPartitioned splits the scan into range partitions") {
    seed()
    val df = Jdbc.readPartitioned(spark, url, "customers_src",
      "C_ID", 1L, 5L, 3)
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 4)
  }

  test("changelog-extract -> clean -> upsert round-trips into the target") {
    seed()
    // preload target with a stale row for key 1 and an untouched row 99
    Jdbc.execute(url,
      "INSERT INTO customers_tgt VALUES (1, 'STALE', 'stale@x.io', 0.0)")
    Jdbc.execute(url,
      "INSERT INTO customers_tgt VALUES (99, 'KEEP', 'keep@x.io', 9.9)")
    val cleaned = Jdbc.changelogExtract(spark, url, "customers_src", "C_ID",
      "etl_logger", "REF_KEY", "TBL", "customers")
      .select(col("C_ID"), Normalize.upperTrim(col("NAME")).as("NAME"),
        col("EMAIL"), col("ACCT"))
    val stats = Jdbc.upsert(cleaned, url, "customers_tgt", Seq("C_ID"))
    assert(stats.processed === 2 && stats.skippedNullKey === 0 &&
      stats.skippedFailed === 0)
    val got = Jdbc.read(spark, url, "customers_tgt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    // ≡ Upsert.merge semantics: key 1 updated, key 3 inserted, 99 kept
    assert(got === Array(
      (1L, "ADA LOVELACE", "ada@x.io", 10.5),
      (3L, "ALAN TURING", "alan@x.io", 30.25),
      (99L, "KEEP", "keep@x.io", 9.9)))
    // idempotent: running the same upsert again changes nothing
    val stats2 = Jdbc.upsert(cleaned, url, "customers_tgt", Seq("C_ID"))
    assert(stats2.processed === 2)
    assert(Jdbc.read(spark, url, "customers_tgt").count() === 3)
  }

  test("upsert matches Upsert.merge on the same base/updates frames") {
    seed()
    import spark.implicits._
    val base = Seq((1L, "old1", 1.0), (2L, "old2", 2.0))
      .toDF("C_ID", "NAME", "ACCT")
    val updates = Seq((2L, "new2", 22.0), (5L, "new5", 55.0))
      .toDF("C_ID", "NAME", "ACCT")
    try Jdbc.execute(url, "DROP TABLE m_tgt") catch { case _: SQLException => () }
    Jdbc.execute(url,
      """CREATE TABLE m_tgt (C_ID BIGINT NOT NULL, NAME VARCHAR(40),
        |  ACCT DOUBLE, PRIMARY KEY (C_ID))""".stripMargin)
    base.collect().foreach(r => Jdbc.execute(url,
      s"INSERT INTO m_tgt VALUES (${r.getLong(0)}, '${r.getString(1)}', ${r.getDouble(2)})"))
    Jdbc.upsert(updates, url, "m_tgt", Seq("C_ID"))
    val viaJdbc = Jdbc.read(spark, url, "m_tgt").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    val viaMerge = Upsert.merge(base, updates, Seq("C_ID")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(viaJdbc === viaMerge)
  }

  test("null-key rows are skipped and counted, not written") {
    seed()
    import spark.implicits._
    val updates = Seq(
      (java.lang.Long.valueOf(7L), "ok"),
      (null.asInstanceOf[java.lang.Long], "bad"))
      .toDF("C_ID", "NAME")
    try Jdbc.execute(url, "DROP TABLE nk_tgt") catch { case _: SQLException => () }
    Jdbc.execute(url,
      "CREATE TABLE nk_tgt (C_ID BIGINT NOT NULL, NAME VARCHAR(40), PRIMARY KEY (C_ID))")
    val stats = Jdbc.upsert(updates, url, "nk_tgt", Seq("C_ID"))
    assert(stats.processed === 1 && stats.skippedNullKey === 1)
    assert(Jdbc.read(spark, url, "nk_tgt").count() === 1)
  }

  test("transient batch failure is retried and succeeds (reference retry x3)") {
    seed()
    import spark.implicits._
    try Jdbc.execute(url, "DROP TABLE rt_tgt") catch { case _: SQLException => () }
    Jdbc.execute(url,
      "CREATE TABLE rt_tgt (C_ID BIGINT NOT NULL, NAME VARCHAR(40), PRIMARY KEY (C_ID))")
    JdbcFaults.counter.set(0)
    JdbcFaults.failFirst = 2
    val stats = Jdbc.upsert(
      Seq((1L, "a"), (2L, "b")).toDF("C_ID", "NAME"),
      url, "rt_tgt", Seq("C_ID"), retries = 3, backoffMs = 1,
      numPartitions = 1, beforeBatch = Some(JdbcFaults.injector))
    assert(stats.processed === 2 && stats.skippedFailed === 0)
    assert(Jdbc.read(spark, url, "rt_tgt").count() === 2)
  }

  test("a batch failing past the retry limit counts skipped, run continues") {
    seed()
    import spark.implicits._
    try Jdbc.execute(url, "DROP TABLE rf_tgt") catch { case _: SQLException => () }
    Jdbc.execute(url,
      "CREATE TABLE rf_tgt (C_ID BIGINT NOT NULL, NAME VARCHAR(40), PRIMARY KEY (C_ID))")
    JdbcFaults.counter.set(0)
    JdbcFaults.failFirst = 1000 // every attempt fails
    val stats = Jdbc.upsert(
      Seq((1L, "a"), (2L, "b")).toDF("C_ID", "NAME"),
      url, "rf_tgt", Seq("C_ID"), retries = 3, backoffMs = 1,
      numPartitions = 1, beforeBatch = Some(JdbcFaults.injector))
    assert(stats.processed === 0 && stats.skippedFailed === 2)
    assert(Jdbc.read(spark, url, "rf_tgt").count() === 0)
    JdbcFaults.failFirst = 0
  }

  test("last write wins on duplicate keys within one upsert frame") {
    seed()
    import spark.implicits._
    try Jdbc.execute(url, "DROP TABLE dw_tgt") catch { case _: SQLException => () }
    Jdbc.execute(url,
      "CREATE TABLE dw_tgt (C_ID BIGINT NOT NULL, NAME VARCHAR(40), PRIMARY KEY (C_ID))")
    val stats = Jdbc.upsert(
      Seq((1L, "first"), (1L, "second")).toDF("C_ID", "NAME")
        .coalesce(1),
      url, "dw_tgt", Seq("C_ID"), numPartitions = 1)
    val got = Jdbc.read(spark, url, "dw_tgt").collect()
    assert(got.length === 1 && got(0).getString(1) === "second")
    // accounting balances: 1 key written + 1 collapsed occurrence = 2 input rows
    assert(stats.processed === 1 && stats.collapsedDupes === 1)
  }

  test("SUCCESS_NO_INFO batch counts lose no inserts (MySQL " +
    "rewriteBatchedStatements shape)") {
    // Derby returns exact counts, so the hazard is simulated with the
    // forceNoInfoCounts seam: every batched UPDATE reports -2 and the
    // sink must resolve matched-vs-missing by the keyed SELECT probe.
    // Under the old `count == 0` logic this test loses BOTH inserts
    // (every row classified "updated") — the silent-data-loss advice item.
    seed()
    import spark.implicits._
    try Jdbc.execute(url, "DROP TABLE ni_tgt") catch { case _: SQLException => () }
    Jdbc.execute(url,
      "CREATE TABLE ni_tgt (C_ID BIGINT NOT NULL, NAME VARCHAR(40), PRIMARY KEY (C_ID))")
    Jdbc.execute(url, "INSERT INTO ni_tgt VALUES (1, 'stale')")
    val stats = Jdbc.upsert(
      Seq((1L, "updated"), (2L, "new2"), (3L, "new3")).toDF("C_ID", "NAME"),
      url, "ni_tgt", Seq("C_ID"), numPartitions = 1,
      forceNoInfoCounts = true)
    assert(stats.processed === 3 && stats.skippedFailed === 0)
    val got = Jdbc.read(spark, url, "ni_tgt").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got === Array((1L, "updated"), (2L, "new2"), (3L, "new3")))
    // and it stays idempotent under no-info counts: the probe finds the
    // now-present keys, so no duplicate-key INSERT is attempted
    val stats2 = Jdbc.upsert(
      Seq((2L, "new2b"), (3L, "new3b")).toDF("C_ID", "NAME"),
      url, "ni_tgt", Seq("C_ID"), numPartitions = 1,
      forceNoInfoCounts = true)
    assert(stats2.processed === 2 && stats2.skippedFailed === 0)
    assert(Jdbc.read(spark, url, "ni_tgt").count() === 3)
  }

  test("MySQL-family urls build the reference's native upsert statement") {
    // etlService.js:46-50 — INSERT … ON DUPLICATE KEY UPDATE col=VALUES(col);
    // the execution plumbing (bind loop, batch, transaction, retry) is the
    // SAME insertAll path the Derby suite drives via the miss-insert branch
    assert(Jdbc.nativeUpsertSql("voucher",
      Seq("amount", "payout", "voucher_id", "reference_no"),
      Seq("voucher_id", "reference_no")) ===
      "INSERT INTO voucher (amount, payout, voucher_id, reference_no) " +
        "VALUES (?, ?, ?, ?) ON DUPLICATE KEY UPDATE " +
        "amount = VALUES(amount), payout = VALUES(payout)")
  }

  test("unsafe table/column identifiers are rejected before any SQL runs") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("C_ID", "NAME")
    intercept[IllegalArgumentException] {
      Jdbc.upsert(df, url, "tgt; DROP TABLE x", Seq("C_ID"))
    }
    intercept[IllegalArgumentException] {
      Jdbc.upsert(df.withColumnRenamed("NAME", "evil name\""),
        url, "ok_tgt", Seq("C_ID"))
    }
  }
}
