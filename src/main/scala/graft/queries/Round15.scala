package graft.queries

import java.sql.SQLException

import org.apache.spark.sql.functions._
import graft.etl.{Normalize, Runner}
import graft.sources.{Jdbc, Tables}

/** Round-15 batch 1: the JDBC extract→clean→upsert round-trip run end to
  * end against an embedded database (the reference's source/target MySQL
  * pools), and the persisted run-history table (the durable twin of the
  * reference's run log).
  */
object Round15 extends Module {

  val queries: Map[String, Q] = Map(

    // The reference's WHOLE pipeline over real JDBC — changelog-driven
    // extract (EtlLogger.js:6-17), per-row cleaning (etlService.js:120-156
    // upper/trim), batched keyed upsert into the target pool
    // (etlService.js:36-53) — executed against an embedded Derby database
    // standing in for the MySQL pools, then read back partitioned. The
    // oracle recomputes the same pipeline in pure SQL over the parquet
    // source, so the gate checks the JDBC write/read path end to end:
    // what Derby returns must equal what the relational algebra says.
    // At scale the embedded URL swaps for the remote pool URL; every
    // Spark-side shape (pushdown extract semi-join, numPartitions-capped
    // batched upsert, range-partitioned read) is the cluster shape.
    "etl_jdbc_roundtrip" -> ((s, dir) => {
      val url = "jdbc:derby:memory:graftq;create=true"
      for (t <- Seq("CUST_SRC", "CUST_LOG", "CUST_TGT"))
        try Jdbc.execute(url, s"DROP TABLE $t")
        catch { case _: SQLException => () }
      Jdbc.execute(url,
        """CREATE TABLE CUST_SRC (C_CUSTKEY BIGINT NOT NULL,
          |  C_NAME VARCHAR(64), C_ACCTBAL DOUBLE,
          |  PRIMARY KEY (C_CUSTKEY))""".stripMargin)
      Jdbc.execute(url,
        """CREATE TABLE CUST_LOG (LOG_ID BIGINT NOT NULL,
          |  REF_KEY VARCHAR(32), TBL VARCHAR(32),
          |  PRIMARY KEY (LOG_ID))""".stripMargin)
      Jdbc.execute(url,
        """CREATE TABLE CUST_TGT (C_CUSTKEY BIGINT NOT NULL,
          |  C_NAME VARCHAR(64), C_ACCTBAL DOUBLE,
          |  PRIMARY KEY (C_CUSTKEY))""".stripMargin)
      // seed the "remote" source pool: a quarter of the customer table
      val src = Tables.customer(s, dir)
        .where(col("c_custkey") % 4 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      Jdbc.upsert(src, url, "CUST_SRC", Seq("c_custkey"))
      // the changelog marks every 20th key as changed for this entity
      val log = Tables.customer(s, dir)
        .where(col("c_custkey") % 20 === 0)
        .select(col("c_custkey").as("log_id"),
          col("c_custkey").cast("string").as("ref_key"),
          lit("customer").as("tbl"))
      Jdbc.upsert(log, url, "CUST_LOG", Seq("log_id"))
      // extract → clean → load, all through JDBC
      val cleaned = Jdbc.changelogExtract(s, url, "CUST_SRC", "C_CUSTKEY",
          "CUST_LOG", "REF_KEY", "TBL", "customer")
        .select(col("C_CUSTKEY"),
          Normalize.upperTrim(col("C_NAME")).as("C_NAME"), col("C_ACCTBAL"))
      Jdbc.upsert(cleaned, url, "CUST_TGT", Seq("C_CUSTKEY"))
      Jdbc.readPartitioned(s, url, "CUST_TGT", "C_CUSTKEY",
          0L, 1000000L, 4)
        .select(col("C_CUSTKEY").as("c_custkey"),
          col("C_NAME").as("name_clean"), col("C_ACCTBAL").as("acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // SNM window-size sweep — pricing the sorted-neighborhood operating
    // point the way dedup_pr_audit prices LSH banding: ONE w=4 pair
    // build (Dedup.snmPairsDist tags each verified pair with its
    // global-order neighbor offset), then each w ∈ [1, 4] reads off its
    // pair count, true positives vs the shared t=0.5 truth, and the
    // precision/recall curve — the evidence for whether w=2 (the
    // registered default) leaves recall on the table. No per-w rebuild:
    // the sweep costs one SNM pass + one truth semi-join at any scale.
    "dedup_snm_sweep" -> ((s, dir) => {
      val pd = SnmShared.pairs4(s, dir)
        .select(col("a"), col("b"), col("dist"))
      val truth = TextDedup.sharedPairs05(s, dir).select(col("a"), col("b"))
      val perW = pd
        .join(truth.withColumn("t", lit(1L)), Seq("a", "b"), "left")
        .select(explode(sequence(col("dist"), lit(4L))).as("w"),
          coalesce(col("t"), lit(0L)).as("t"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("t")).as("tp"))
      perW.crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(col("w"), col("n_pairs"), col("tp"), col("n_truth"),
          idiv(col("tp") * 10000, greatest(col("n_pairs"), lit(1L)))
            .as("precision_bp"),
          idiv(col("tp") * 10000, greatest(col("n_truth"), lit(1L)))
            .as("recall_bp"))
        .orderBy(col("w"))
    }),

    // Persisted run history ≡ utils/logger.js + /api/logs: two pipeline
    // runs (the second ending in a failing stage — reference runs log
    // errors and keep the report, etlService.js:499-521) persisted
    // through the keyed parquet sink, run 1 re-persisted to prove the
    // upsert replaces instead of duplicating, then the STORED table read
    // back. Emits the deterministic report columns (run, stage, ok,
    // rows); attempts/duration/error text are runtime-dependent and stay
    // in the table for operators. The oracle recomputes each stage's row
    // count straight from the parquet sources.
    "etl_run_history" -> ((s, dir) => {
      // ONE stable scratch root per session, wiped up front: the wipe
      // makes tableExists see the first persist as the initial write
      // (not an upsert into leftovers), and a bench loop re-running this
      // entry reuses the same directory instead of accumulating a fresh
      // createTempDirectory per invocation
      val root = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_runhist_${s.sparkContext.applicationId}")
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      val path = root.toString + "/history"
      val r1 = Runner.run(s, Seq(
        Runner.Stage("clean_customer", sp => Tables.customer(sp, dir)),
        Runner.Stage("open_orders", sp =>
          Tables.orders(sp, dir).where(col("o_orderstatus") === "O"))),
        retries = 1)
      val r2 = Runner.run(s, Seq(
        Runner.Stage("high_value_events", sp =>
          Tables.events(sp, dir).where(col("value") > 50)),
        Runner.Stage("boom",
          _ => throw new IllegalStateException("injected failure"))),
        retries = 1)
      Runner.persistReport(s, path, 1L, r1)
      Runner.persistReport(s, path, 2L, r2)
      Runner.persistReport(s, path, 1L, r1) // idempotent re-persist
      Runner.runHistory(s, path)
        .select(col("run_id"), col("stage"), col("ok").cast("long").as("ok"),
          col("rows").as("n_rows"))
        .orderBy(col("run_id"), col("stage"))
    })
  )

  val oracle: Map[String, String] = Map(

    "etl_jdbc_roundtrip" ->
      """SELECT c_custkey, upper(trim(c_name)) AS name_clean,
        |  c_acctbal AS acctbal
        |FROM customer WHERE c_custkey % 20 = 0
        |ORDER BY c_custkey""".stripMargin,

    "dedup_snm_sweep" ->
      s"""WITH ${Round10b.pairsCte},
         |sd AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shd FROM t),
         |k AS (SELECT doc_id, shd,
         |    list_aggregate(list_transform(shd, s -> md5(s)), 'min') AS key
         |  FROM sd WHERE len(shd) > 0),
         |r AS (SELECT doc_id, shd,
         |    lead(doc_id, 1) OVER w AS nid1, lead(shd, 1) OVER w AS nsh1,
         |    lead(doc_id, 2) OVER w AS nid2, lead(shd, 2) OVER w AS nsh2,
         |    lead(doc_id, 3) OVER w AS nid3, lead(shd, 3) OVER w AS nsh3,
         |    lead(doc_id, 4) OVER w AS nid4, lead(shd, 4) OVER w AS nsh4
         |  FROM k WINDOW w AS (ORDER BY key, doc_id)),
         |p AS (SELECT doc_id AS da, shd AS sha, nid1 AS db, nsh1 AS shb, 1 AS dist
         |      FROM r WHERE nid1 IS NOT NULL
         |      UNION ALL SELECT doc_id, shd, nid2, nsh2, 2 FROM r WHERE nid2 IS NOT NULL
         |      UNION ALL SELECT doc_id, shd, nid3, nsh3, 3 FROM r WHERE nid3 IS NOT NULL
         |      UNION ALL SELECT doc_id, shd, nid4, nsh4, 4 FROM r WHERE nid4 IS NOT NULL),
         |j AS (SELECT least(da, db) AS a, greatest(da, db) AS b, dist,
         |    len(list_intersect(sha, shb)) AS inter,
         |    len(sha) + len(shb) - len(list_intersect(sha, shb)) AS uni FROM p),
         |v AS (SELECT a, b, dist FROM j WHERE uni > 0 AND inter * 2 >= uni),
         |f AS (SELECT v.dist, CASE WHEN pr.a IS NULL THEN 0 ELSE 1 END AS t
         |      FROM v LEFT JOIN pairs pr ON pr.a = v.a AND pr.b = v.b),
         |e AS (SELECT CAST(w.range AS BIGINT) AS w, f.t
         |      FROM f CROSS JOIN range(1, 5) w WHERE w.range >= f.dist),
         |g AS (SELECT w, count(*) AS n_pairs, CAST(sum(t) AS BIGINT) AS tp
         |      FROM e GROUP BY w),
         |nt AS (SELECT count(*) AS n_truth FROM pairs)
         |SELECT w, n_pairs, tp, n_truth,
         |  CAST(tp * 10000 // greatest(n_pairs, 1) AS BIGINT) AS precision_bp,
         |  CAST(tp * 10000 // greatest(n_truth, 1) AS BIGINT) AS recall_bp
         |FROM g, nt ORDER BY w""".stripMargin,

    "etl_run_history" ->
      """SELECT CAST(1 AS BIGINT) AS run_id, 'clean_customer' AS stage,
        |  CAST(1 AS BIGINT) AS ok,
        |  (SELECT count(*) FROM customer) AS n_rows
        |UNION ALL
        |SELECT 1, 'open_orders', 1,
        |  (SELECT count(*) FROM orders WHERE o_orderstatus = 'O')
        |UNION ALL
        |SELECT 2, 'high_value_events', 1,
        |  (SELECT count(*) FROM events WHERE value > 50)
        |UNION ALL
        |SELECT 2, 'boom', 0, 0
        |ORDER BY run_id, stage""".stripMargin
  )
}
