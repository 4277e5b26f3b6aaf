package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet table loader for the graft testdata star schema.
  *
  * Reads stay narrow: callers `.select(...)` early so Catalyst pushes
  * column pruning and predicates into the parquet scan (verify with
  * `.explain("formatted")` → `ReadSchema` / `PushedFilters`).
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table from `dir`. `events.ts` is TIMESTAMP(NANOS) in parquet,
    * which Spark reads (under legacy.parquet.nanosAsLong) as a long of
    * nanoseconds; normalize to a microsecond TimestampType column so all
    * downstream operators see a real timestamp. DuckDB applies the same
    * ns→µs truncation when casting TIMESTAMP_NS to TIMESTAMP, so the two
    * engines agree bit-for-bit.
    */
  /** ns-long → microsecond timestamp, EXACT: subtract the remainder before
    * dividing so the quotient is exactly representable in double (at
    * ~1.7e18 ns a direct `/ 1000` rides 256 ns ulps and can land one µs
    * off DuckDB's integer truncation). */
  def nsToTs(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_micros(((c - pmod(c, lit(1000L))) / lit(1000L)).cast(LongType))

  // Loaded-frame memo per (session, dir, table): every `apply` call pays
  // synchronous driver work — a parquet footer read for the schema, a
  // getContentSummary filesystem call, and an RDD conversion for the
  // split count — and a 468-query registry calls the loader ~2-3× per
  // query. The returned DataFrame is immutable and the testdata is
  // static per dir, so handing every caller the same logical plan is
  // semantics-free; it just stops re-listing and re-footer-reading the
  // same files hundreds of times per sweep (r17 — guide §6 file-listing
  // discipline, applied to the loader instead of a conf).
  private val memo = new graft.Caches.SessionMemo[(String, String), DataFrame](
    { case (spark, (dir, name)) => load(spark, dir, name) })

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, (dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val converted =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", nsToTs(col("ts")))
      else df
    // Parquet µs timestamps written with isAdjustedToUTC=false come back
    // as TIMESTAMP_NTZ (the regenerated testdata does this; the old data
    // was TIMESTAMP(NANOS) → long → nsToTs). Normalize every NTZ column
    // to TimestampType: under the UTC session timezone the cast is a
    // bit-exact no-op on the stored micros, and it keeps TIMESTAMP-typed
    // functions (unix_micros, etc.) resolving unchanged. DuckDB reads the
    // same column as its naive TIMESTAMP, so oracle parity is unaffected.
    val ntzFixed = converted.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(converted) { (d, c) =>
      d.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
    }
    rebalance(spark, ntzFixed, s"$dir/$name.parquet")
  }

  /** Single-row-group files give the scan ONE split, serializing every
    * downstream map stage no matter how many cores exist. When the scan
    * yields fewer splits than the cluster's parallelism, redistribute once
    * up front (a few MB of shuffle buys full-width compute). At real scale
    * the scan already has >= parallelism splits and this is a no-op —
    * no shuffle is ever added to a large input. Tiny inputs (dim tables
    * destined for a broadcast) are left alone: redistributing them only
    * inserts a useless exchange under the BroadcastExchange. */
  private def rebalance(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    // turning this off was measured slower (OPTIMIZATION_r18.md)
    val minBytes = 256L * 1024
    val p = spark.sparkContext.defaultParallelism
    val hPath = new org.apache.hadoop.fs.Path(path)
    val bytes =
      try hPath.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(hPath).getLength
      catch { case _: Throwable => Long.MaxValue }
    if (bytes >= minBytes && df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
