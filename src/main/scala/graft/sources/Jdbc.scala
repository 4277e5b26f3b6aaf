package graft.sources

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** JDBC source/sink parity with the reference's MySQL pools
  * (config/db.js sourcePool/targetPool, services/etlService.js).
  *
  * READ — the reference extracts per changelog key
  * (`SELECT * FROM voucher WHERE reference_no = ?`, etlService.js:17-23)
  * over a 4-connection pool. The Spark-native shape is the JDBC DataSource
  * with *pushdown*: filters on the returned frame compile into the remote
  * WHERE clause and `numPartitions`/`partitionColumn` split the scan into
  * concurrent range queries (the pool, but planned by the engine).
  *
  * WRITE — the reference loads via batched
  * `INSERT … ON DUPLICATE KEY UPDATE` with retry ×3 + delay per batch
  * (etlService.js:36-53, 84-104). Spark's built-in JDBC writer is
  * append-only, so [[upsert]] implements the keyed write per partition:
  * batched UPDATE-else-INSERT inside a transaction per batch, bounded
  * retry with linear backoff, failed batches counted `skipped` (the run
  * continues — reference etlService.js:84-104 does the same). Parallelism
  * is capped by `numPartitions` connections ≡ the reference's
  * concurrencyLimit 4; per-batch transactions bound both memory and the
  * redo a retry replays. At 100 TB the frame upstream is arbitrary —
  * only |changed rows| / numPartitions flows through each connection.
  */
object Jdbc {

  /** Whole-table read with pushdown: `.where`/`.select` on the result
    * reach the remote engine (PushedFilters in the scan). */
  def read(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()

  /** Range-partitioned parallel read: `numPartitions` concurrent remote
    * range queries on `partCol` (the reference's connection pool, but
    * with the engine choosing the ranges). `partCol` should be indexed
    * remotely — each partition is a `WHERE partCol BETWEEN …`. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      partCol: String, lower: Long, upper: Long,
                      numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partCol)
      .option("lowerBound", lower).option("upperBound", upper)
      .option("numPartitions", numPartitions)
      .load()

  /** Changelog-driven incremental extract over JDBC — the EtlLogger page
    * + per-key select (models/EtlLogger.js:6-17, etlService.js:446-449)
    * as ONE semi-join: the changelog rows for `entity` (non-null key,
    * non-null table — EtlLogger.js:11-12) pushed down into the changelog
    * scan, the key set distinct'd and semi-joined against the source
    * read. Both sides are JDBC scans with pushdown; the join is the
    * broadcast-able [[graft.etl.Changelog.extract]] shape. */
  def changelogExtract(spark: SparkSession, url: String,
                       sourceTable: String, keyCol: String,
                       changelogTable: String, logKeyCol: String,
                       tableCol: String, entity: String): DataFrame = {
    val changelog = read(spark, url, changelogTable)
      .where(col(tableCol) === entity && col(logKeyCol).isNotNull &&
        col(tableCol).isNotNull)
    graft.etl.Changelog.extract(
      read(spark, url, sourceTable), keyCol, changelog, logKeyCol)
  }

  /** DDL/utility statement against the remote database (the reference's
    * ensureTablesExist, etlService.js:299-417). */
  def execute(url: String, sql: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try { val st = conn.createStatement(); try st.execute(sql) finally st.close() }
    finally conn.close()
  }

  /** Totals of one upsert run — the reference's per-entity
    * processed/skipped report (etlService.js:572-583). `processed`
    * counts KEYS written (post in-batch duplicate collapse);
    * `collapsedDupes` counts the extra same-key occurrences the
    * last-write-wins collapse absorbed, so
    * processed + collapsedDupes + skipped* = input rows. */
  final case class UpsertStats(processed: Long, skippedNullKey: Long,
                               skippedFailed: Long, collapsedDupes: Long = 0L)

  /** SQL identifiers this sink interpolates into statements. Plain
    * unquoted names are portable across every dialect the reference
    * targets; anything else (spaces, quotes, reserved punctuation — or a
    * hostile name) would produce broken or injectable SQL, so it is
    * rejected loudly instead of quoted best-effort (quote characters
    * are themselves vendor-specific: MySQL backticks vs ANSI double
    * quotes). Rename upstream with `withColumnRenamed`. */
  private val SafeIdent = "^[A-Za-z_][A-Za-z0-9_$]*$".r

  private def requireSafeIdent(kind: String, name: String): Unit =
    require(SafeIdent.matches(name),
      s"$kind '$name' is not a safe SQL identifier " +
        "([A-Za-z_][A-Za-z0-9_$]*); rename it before the JDBC write")

  /** The MySQL-family native upsert — the REFERENCE'S OWN statement
    * shape (etlService.js:46-50: `INSERT INTO t (cols) VALUES (…) ON
    * DUPLICATE KEY UPDATE col = VALUES(col)`). One statement per row,
    * batched: with `rewriteBatchedStatements=true` Connector/J rewrites
    * the batch into the reference's literal multi-row form. The server
    * resolves matched-vs-new atomically, so this path has no
    * update-else-insert split and therefore NONE of the batch-count
    * ambiguity the generic path has to probe around. */
  private[graft] def nativeUpsertSql(table: String, fields: Seq[String],
                                     keys: Seq[String]): String = {
    val nonKeys = fields.filterNot(keys.contains)
    s"INSERT INTO $table (" + fields.mkString(", ") + ") VALUES (" +
      fields.map(_ => "?").mkString(", ") + ") ON DUPLICATE KEY UPDATE " +
      nonKeys.map(c => s"$c = VALUES($c)").mkString(", ")
  }

  private def sqlTypeFor(dt: DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case ShortType => java.sql.Types.SMALLINT
    case ByteType => java.sql.Types.TINYINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case BooleanType => java.sql.Types.BOOLEAN
    case StringType => java.sql.Types.VARCHAR
    case _: DecimalType => java.sql.Types.DECIMAL
    case DateType => java.sql.Types.DATE
    case _: TimestampType => java.sql.Types.TIMESTAMP
    case BinaryType => java.sql.Types.BINARY
    case _ => java.sql.Types.OTHER
  }

  private def bind(ps: PreparedStatement, pos: Int, v: Any, dt: DataType): Unit =
    v match {
      case null => ps.setNull(pos, sqlTypeFor(dt))
      case d: java.math.BigDecimal => ps.setBigDecimal(pos, d)
      case d: scala.math.BigDecimal => ps.setBigDecimal(pos, d.bigDecimal)
      case t: java.sql.Timestamp => ps.setTimestamp(pos, t)
      case d: java.sql.Date => ps.setDate(pos, d)
      case i: java.time.Instant => ps.setTimestamp(pos, java.sql.Timestamp.from(i))
      case d: java.time.LocalDate => ps.setDate(pos, java.sql.Date.valueOf(d))
      case other => ps.setObject(pos, other)
    }

  /** Batched keyed upsert ≡ `INSERT … ON DUPLICATE KEY UPDATE` with the
    * reference's retry discipline (etlService.js:36-53, 84-104):
    *
    *  - rows with any NULL key are skipped up front (the reference's
    *    "missing voucher_id or reference_no" filter, etlService.js:66-75);
    *  - per partition: one connection; per `batchSize` rows: batched
    *    UPDATE of the non-key columns, then batched INSERT of the rows
    *    the update didn't match, one transaction per batch;
    *  - a failing batch is rolled back and retried up to `retries` times
    *    with linear backoff on a FRESH connection; after the last attempt
    *    its rows count as skipped and the run continues;
    *  - `numPartitions` caps concurrent connections (reference
    *    concurrencyLimit 4, etlService.js:12).
    *
    * Dialects: MySQL/MariaDB urls use the reference's native
    * `INSERT … ON DUPLICATE KEY UPDATE col = VALUES(col)` statement
    * (etlService.js:46-50) — the server resolves matched-vs-new
    * atomically, no count interpretation at all. Every other dialect
    * runs the portable UPDATE-else-INSERT split, with these batch-count
    * semantics: drivers may return `Statement.SUCCESS_NO_INFO` (-2) for
    * batched statements instead of exact row counts. Treating -2 as
    * "updated" would silently drop every new-key INSERT, so rows whose
    * update count is not exact are re-resolved by a per-row keyed
    * SELECT existence probe (unambiguous regardless of whether the
    * driver counts found or changed rows). An `EXECUTE_FAILED` element
    * fails the batch into the retry path.
    *
    * Duplicate keys WITHIN one batch collapse last-write-wins before the
    * statements run (counted `collapsedDupes`); duplicates that land in
    * DIFFERENT partitions race on write order — dedup upstream with
    * [[graft.etl.Upsert.merge]] when a deterministic winner is needed.
    * `beforeBatch` is a test seam for injecting transient faults
    * (≡ the reference's retry-path tests) and `forceNoInfoCounts`
    * simulates a SUCCESS_NO_INFO-returning driver on an exact-count
    * test database; production callers leave both default. Returns the
    * processed/skipped totals the reference logs at
    * etlService.js:572-583. */
  def upsert(df: DataFrame, url: String, table: String, keys: Seq[String],
             batchSize: Int = 1000, retries: Int = 3, backoffMs: Long = 100,
             numPartitions: Int = 4,
             beforeBatch: Option[() => Unit] = None,
             forceNoInfoCounts: Boolean = false): UpsertStats = {
    val spark = df.sparkSession
    val schema = df.schema
    val fields = schema.fields
    val keySet = keys.toSet
    require(keys.forall(schema.fieldNames.contains),
      s"keys ${keys.mkString(",")} must exist in ${schema.fieldNames.mkString(",")}")
    val nonKeys = fields.filterNot(f => keySet.contains(f.name))
    require(nonKeys.nonEmpty, "upsert needs at least one non-key column")
    val keyFields = keys.map(k => fields(schema.fieldIndex(k)))

    requireSafeIdent("table", table)
    fields.foreach(f => requireSafeIdent("column", f.name))

    val updateSql = s"UPDATE $table SET " +
      nonKeys.map(f => s"${f.name} = ?").mkString(", ") +
      " WHERE " + keys.map(k => s"$k = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO $table (" +
      fields.map(_.name).mkString(", ") + ") VALUES (" +
      fields.map(_ => "?").mkString(", ") + ")"
    val probeSql = s"SELECT 1 FROM $table WHERE " +
      keys.map(k => s"$k = ?").mkString(" AND ")
    // MySQL/MariaDB get the reference's native ON DUPLICATE KEY UPDATE;
    // every other dialect runs the portable update-else-insert split
    val nativeSql: Option[String] =
      if (url.startsWith("jdbc:mysql:") || url.startsWith("jdbc:mariadb:"))
        Some(nativeUpsertSql(table, fields.map(_.name).toSeq, keys))
      else None

    val processed = spark.sparkContext.longAccumulator("jdbc_upsert_processed")
    val skippedNull = spark.sparkContext.longAccumulator("jdbc_upsert_null_key")
    val skippedFail = spark.sparkContext.longAccumulator("jdbc_upsert_failed")
    val collapsed = spark.sparkContext.longAccumulator("jdbc_upsert_collapsed")

    val keyIdx = keys.map(schema.fieldIndex).toArray
    val nonKeyIdx = nonKeys.map(f => schema.fieldIndex(f.name))
    val allTypes = fields.map(_.dataType)

    // cap parallel connections; coalesce avoids a shuffle when the frame
    // already has few partitions
    val shaped =
      if (df.rdd.getNumPartitions > numPartitions) df.coalesce(numPartitions)
      else df
    shaped.foreachPartition { (it: Iterator[Row]) =>
      // single streaming pass — never materializes the partition
      var nullCount = 0L
      val good = it.filter { r =>
        val bad = keyIdx.exists(r.isNullAt)
        if (bad) nullCount += 1
        !bad
      }

      def runBatch(rawRows: Array[Row]): Unit = {
        // collapse duplicate keys within the batch, LAST occurrence wins
        // (MySQL's ON DUPLICATE KEY applies batch rows in order; the
        // update-else-insert split would instead collide on the INSERT)
        val byKey = new scala.collection.mutable.LinkedHashMap[Seq[Any], Row]
        rawRows.foreach(r => byKey.update(keyIdx.toSeq.map(r.get), r))
        val rows = byKey.values.toArray
        var attempt = 0
        var done = false
        while (!done && attempt < retries) {
          attempt += 1
          var conn: Connection = null
          try {
            beforeBatch.foreach(f => f())
            conn = DriverManager.getConnection(url)
            conn.setAutoCommit(false)
            // full-field batched insert-shaped statement (shared by the
            // native-upsert path and the miss-insert path, so the Derby
            // suite exercises the same bind loop the MySQL path runs)
            def insertAll(sql: String, rs: Seq[Row]): Unit = {
              val ins = conn.prepareStatement(sql)
              try {
                rs.foreach { r =>
                  fields.indices.foreach { i =>
                    bind(ins, i + 1, if (r.isNullAt(i)) null else r.get(i),
                      allTypes(i))
                  }
                  ins.addBatch()
                }
                ins.executeBatch()
              } finally ins.close()
            }
            nativeSql match {
              case Some(sql) =>
                // the reference's own statement (etlService.js:48-50):
                // the server resolves matched-vs-new atomically, so this
                // path has NO batch-count interpretation and needs no
                // existence probe
                insertAll(sql, rows.toIndexedSeq)
              case None =>
                val up = conn.prepareStatement(updateSql)
                try {
                  rows.foreach { r =>
                    var p = 1
                    nonKeyIdx.foreach { i =>
                      bind(up, p, if (r.isNullAt(i)) null else r.get(i), allTypes(i)); p += 1
                    }
                    keyIdx.foreach { i => bind(up, p, r.get(i), allTypes(i)); p += 1 }
                    up.addBatch()
                  }
                  val counts0 = up.executeBatch()
                  val counts =
                    if (forceNoInfoCounts)
                      counts0.map(_ => java.sql.Statement.SUCCESS_NO_INFO)
                    else counts0
                  if (counts.exists(_ == java.sql.Statement.EXECUTE_FAILED))
                    throw new SQLException(
                      "executeBatch reported EXECUTE_FAILED without throwing")
                  // exact count 0 → definitively unmatched → INSERT.
                  // SUCCESS_NO_INFO → resolve by keyed SELECT existence
                  // probe (an exact-count assumption here silently LOSES
                  // inserts on MySQL rewriteBatchedStatements=true — see
                  // the method doc).
                  val noInfoIdx = rows.indices
                    .filter(i => counts(i) == java.sql.Statement.SUCCESS_NO_INFO)
                  val probedAbsent: Set[Int] =
                    if (noInfoIdx.isEmpty) Set.empty
                    else {
                      val pr = conn.prepareStatement(probeSql)
                      try noInfoIdx.filter { i =>
                        var p = 1
                        keyIdx.foreach { ki =>
                          bind(pr, p, rows(i).get(ki), allTypes(ki)); p += 1
                        }
                        val rs = pr.executeQuery()
                        try !rs.next() finally rs.close()
                      }.toSet
                      finally pr.close()
                    }
                  val misses = rows.indices
                    .filter(i => counts(i) == 0 || probedAbsent.contains(i))
                    .map(rows)
                  if (misses.nonEmpty) insertAll(insertSql, misses)
                } finally up.close()
            }
            conn.commit()
            // keys written; the same-key occurrences the in-batch
            // collapse absorbed are reported separately so the caller's
            // row accounting still balances
            processed.add(rows.length)
            collapsed.add(rawRows.length - rows.length)
            done = true
          } catch {
            case e: SQLException =>
              if (conn != null) { try conn.rollback() catch { case _: SQLException => () } }
              if (attempt >= retries) skippedFail.add(rawRows.length)
              else Thread.sleep(backoffMs * attempt)
          } finally {
            if (conn != null) { try conn.close() catch { case _: SQLException => () } }
          }
        }
      }

      good.grouped(batchSize).foreach(g => runBatch(g.toArray))
      skippedNull.add(nullCount)
    }
    UpsertStats(processed.value, skippedNull.value, skippedFail.value,
      collapsed.value)
  }
}
