package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.sinks.KeyedParquetSink

/** The reference's end-to-end ETL flow as one composable pipeline
  * (etlService.js:416-591: changelog → extract → clean → validate →
  * upsert → report), re-expressed over the graft primitives. The
  * reference loops 100k-row batches over a connection pool; here every
  * step is one declarative stage and Spark owns batching/concurrency.
  */
object Pipelines {

  /** Incremental customer sync driven by the signup changelog:
    *   1. changelog keys (distinct signup user_ids) semi-join the source,
    *   2. normalization kernel (upper/trim, enum whitelist, num-or-null),
    *   3. key validation splits processed vs skipped,
    *   4. valid rows upsert into the keyed target table,
    *   5. per-stage run report (rows, attempts, duration).
    * Returns the report; the target table lives at `targetPath`.
    */
  def referenceSync(spark: SparkSession, sfDir: String, targetPath: String,
                    numBuckets: Int = 64): Runner.RunReport = {

    // materialize the extract once — the later stages all build on it, and
    // without this the events+customer scan and semi-join would re-execute
    // for every stage count
    val extractedOnce = {
      val changelog = Tables.events(spark, sfDir).where(col("event_type") === "signup")
      Changelog.extract(Tables.customer(spark, sfDir), "c_custkey", changelog, "user_id")
        .localCheckpoint(true)
    }

    def extracted(s: SparkSession): DataFrame = extractedOnce

    def cleaned(s: SparkSession): DataFrame =
      extracted(s).select(
        col("c_custkey"),
        Normalize.upperTrim(col("c_name")).as("name"),
        Normalize.enumOrNull(col("c_mktsegment"),
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("segment"),
        Normalize.numOrNull(col("c_acctbal")).as("balance"))

    def valid(s: SparkSession): DataFrame =
      cleaned(s).where(Quality.keysPresent(Seq("c_custkey")) && col("name").isNotNull)

    Runner.run(spark, Seq(
      Runner.Stage("extract", extracted),
      Runner.Stage("clean", cleaned),
      Runner.Stage("validate", valid),
      Runner.Stage("upsert", { s =>
        val v = valid(s)
        if (KeyedParquetSink.tableExists(s, targetPath))
          KeyedParquetSink.upsert(s, targetPath, v, Seq("c_custkey"), numBuckets)
        else
          KeyedParquetSink.write(v, targetPath, Seq("c_custkey"), numBuckets)
        KeyedParquetSink.read(s, targetPath)
      })))
  }
}
