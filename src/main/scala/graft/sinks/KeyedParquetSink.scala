package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** Idempotent keyed parquet sink — the load side of the reference's
  * `INSERT … ON DUPLICATE KEY UPDATE` loop (etlService.js:36-53),
  * re-expressed as a table layout instead of per-batch row RPCs.
  *
  * Plain parquet has no row-level MERGE, so the table is laid out in
  * `numBuckets` stable hash partitions of the key (`_bucket =
  * pmod(xxhash64(keys), n)`). An upsert then:
  *   1. buckets the incoming updates and collects the touched bucket
  *      numbers (one job with no shuffle; none for a local frame),
  *   2. lists the table root once on the driver and reads ONLY the
  *      touched bucket directories that exist, under the schema stored
  *      in one data file's footer (no listing or inference job),
  *   3. merges last-write-wins on (`_bucket`, key) (graft.etl.Merge),
  *      with both inputs hash-partitioned on `_bucket`, so the merge
  *      window and the write share that one exchange,
  *   4. dynamic-partition-overwrites just the touched partitions, and
  *      deletes a touched directory the overwrite wrote nothing into.
  *
  * A merge is then 3-4 Spark jobs (touched buckets, one map job per
  * side of the exchange, the write) and a point read ([[readBuckets]])
  * is the one job of its caller's action.
  *
  * Write amplification is |touched partitions| / numBuckets of the table,
  * not the whole table — at 100 TB with well-spread keys an incremental
  * batch rewrites only the buckets it lands in. The touched-bucket list is
  * collected to the driver, which is safe because it is bounded by
  * `numBuckets` (a config, not data volume).
  */
object KeyedParquetSink {

  private val BucketCol = "_bucket"
  private val MetaFile = "_graft_buckets"

  /** Persist the layout's bucket count beside the data. Every keyed
    * operation hashes with `pmod(xxhash64(keys), numBuckets)` — a CALLER
    * passing a different count than the table was written with would
    * compute touched-bucket lists under the wrong modulus and silently
    * miss rows (for an erasure path that is a compliance hazard, not a
    * perf bug). The count is tiny table metadata, so it is stored at
    * write time and VALIDATED on every keyed read/merge/delete. */
  private def writeMeta(spark: SparkSession, path: String,
                        numBuckets: Int): Unit = {
    val p = new Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(numBuckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The persisted bucket count, when the table carries one (tables
    * written before the metadata existed do not — callers' argument is
    * trusted for those, as before). */
  def storedBuckets(spark: SparkSession, path: String): Option[Int] = {
    val p = new Path(path, MetaFile)
    try {
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        // read fully: a single read() may return a partial buffer (or -1
        // on an empty file) on some filesystems
        val bytes =
          try {
            val out = new java.io.ByteArrayOutputStream(32)
            val buf = new Array[Byte](32)
            var n = in.read(buf)
            while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
            out.toByteArray
          } finally in.close()
        val text = new String(bytes, "UTF-8").trim
        // empty/corrupt metadata degrades to the pre-metadata
        // trust-the-caller path instead of crashing every keyed
        // read/merge/delete on the table
        text.toIntOption.filter(_ > 0)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def validateBuckets(spark: SparkSession, path: String,
                              numBuckets: Int): Unit =
    storedBuckets(spark, path).foreach { stored =>
      require(stored == numBuckets,
        s"bucket-count mismatch for $path: table written with $stored " +
          s"buckets, caller passed $numBuckets — keyed pruning would hash " +
          "under the wrong modulus and silently miss rows")
    }

  /** After a merge/delete left zero rows across the whole table, the
    * dynamic overwrite wrote no partitions and every bucket directory is
    * gone — a later read would fail schema inference on the empty root.
    * Leave ONE zero-row schema-bearing parquet file in `_bucket=0` so
    * the table stays readable (and upsertable) as an empty table. */
  private def keepEmptySchema(spark: SparkSession, path: String,
                              schema: StructType): Unit = {
    val dataSchema = StructType(schema.fields.filterNot(_.name == BucketCol))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dataSchema)
      .repartition(1)
      .write.mode("append").parquet(s"$path/$BucketCol=0")
  }

  /** Filesystem-aware existence check (java.io.File would be always-false
    * on hdfs:// or s3a:// paths, silently turning upserts into full
    * overwrites). Only a genuinely-missing path maps to `false`; any other
    * IO failure propagates — callers branch on this between upsert and a
    * full `mode("overwrite")` write, so swallowing a transient
    * filesystem/S3 error here would silently replace the whole table with
    * just the current batch. */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    try p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** NUL-separated key concatenation → xxhash64 → pmod bucket. NUL cannot
    * appear inside real key values, so multi-key concatenations never
    * collide across boundaries. Note `concat_ws` SKIPS null parts, so
    * (null, "x") and ("x", null) land in the same bucket — harmless here
    * (bucketing only needs determinism, not injectivity), but callers
    * doing key-equality on the concatenation should null-guard first. */
  private def withBucket(df: DataFrame, keys: Seq[String], numBuckets: Int): DataFrame =
    df.withColumn(BucketCol,
      pmod(xxhash64(concat_ws("\u0000", keys.map(col): _*)), lit(numBuckets)).cast("int"))

  /** The distinct bucket numbers of a bucketed frame. A local frame is
    * already on the driver and is read there, with no job; any other runs
    * ONE job with no shuffle: each partition sends back the set of
    * buckets it saw, at most `numBuckets` values, and the driver unions
    * them. */
  private def bucketsOf(bucketed: DataFrame): Seq[Int] = {
    val b = bucketed.select(BucketCol)
    val seen = b.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        b.collect().map(_.getInt(0))
      case _ =>
        b.queryExecution.toRdd.mapPartitions { rows =>
          val set = scala.collection.mutable.BitSet()
          rows.foreach(r => set += r.getInt(0))
          Iterator.single(set.toArray)
        }.collect().flatten
    }
    seen.distinct.sorted.toSeq
  }

  /** The table's bucket directories that exist, by bucket number — one
    * driver-side listing of the root, where `spark.read.parquet(path)`
    * would run a listing job once the table has more buckets than
    * `parallelPartitionDiscoveryThreshold`. */
  private def bucketDirs(fs: FileSystem, root: Path): Map[Int, Path] =
    fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(s"$BucketCol="))
          name.drop(BucketCol.length + 1).toIntOption.map(_ -> st.getPath)
        else None
      }.toMap

  /** Data file names of one bucket directory (hidden and `_`-prefixed
    * files excluded, as Spark's reader excludes them). */
  private def dataFiles(fs: FileSystem, dir: Path): Set[String] =
    fs.listStatus(dir).iterator.filter(_.isFile).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet

  /** The table schema with `_bucket INT` appended, read on the driver from
    * the footer of the first `.parquet` data file found in `dirs` — the
    * Spark row schema every writer of this sink stores under
    * `org.apache.spark.sql.parquet.row.metadata` — in place of the schema
    * inference job of `spark.read.parquet(path)`. */
  private def tableSchema(spark: SparkSession, path: String, fs: FileSystem,
                          dirs: Iterator[Path]): StructType = {
    val file = dirs
      .flatMap(d => dataFiles(fs, d).toSeq.sorted.find(_.endsWith(".parquet"))
        .map(new Path(d, _)))
      .nextOption()
      .getOrElse(throw new IllegalStateException(
        s"no parquet data file under the bucket directories of $path"))
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val data = Option(meta.getKeyValueMetaData.get(
        org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
          .SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    data.add(BucketCol, IntegerType)
  }

  /** The directories of `buckets` that exist, and the table schema: one
    * listing of the root and one footer read, on the driver. */
  private def locate(spark: SparkSession, path: String,
                     buckets: Seq[Int]): (FileSystem, Seq[Path], StructType) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = bucketDirs(fs, root)
    val present = buckets.flatMap(dirs.get)
    (fs, present, tableSchema(spark, path, fs, (present ++ dirs.values).iterator))
  }

  /** The rows of the given bucket directories only, with `_bucket`. */
  private def scan(spark: SparkSession, path: String, schema: StructType,
                   dirs: Seq[Path]): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", path)
      .parquet(dirs.map(_.toString): _*)

  /** Initial (or full-replace) write of the keyed table. An empty `df`
    * writes no bucket directory, so it leaves the zero-row schema file of
    * [[keepEmptySchema]] (a streaming sink's first batch may delete every
    * key it carries). */
  def write(df: DataFrame, path: String, keys: Seq[String], numBuckets: Int): Unit = {
    withBucket(df, keys, numBuckets)
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(path)
    val spark = df.sparkSession
    writeMeta(spark, path, numBuckets)
    val root = new Path(path)
    if (bucketDirs(root.getFileSystem(spark.sessionState.newHadoopConf()), root).isEmpty)
      keepEmptySchema(spark, path, df.schema)
  }

  /** Read the table back (bucket column dropped): every bucket directory
    * of one driver listing, under the footer schema, so no schema job runs
    * before the caller's. Past `parallelPartitionDiscoveryThreshold` (32)
    * bucket directories Spark still lists them in a parallel job. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = bucketDirs(fs, root).toSeq.sortBy(_._1).map(_._2)
    scan(spark, path, tableSchema(spark, path, fs, dirs.iterator), dirs).drop(BucketCol)
  }

  /** Bucket-pruned POINT READ: scan only the bucket directories that hold
    * one of the `wanted` key tuples (a small frame carrying the key
    * columns — e.g. the nprobe cells an IVF search probes). The bucket
    * list is computed through the SAME withBucket hash as the writer
    * (never re-derived driver-side, so it cannot drift; no job when
    * `wanted` is a local frame) and is bounded by |wanted|, a
    * config-sized frame, never data volume. Only those directories are
    * listed and read, under the footer schema, with no listing or
    * inference job. Rows from co-hashed keys sharing a bucket survive —
    * callers filter the exact key inside; the read itself is
    * |touched buckets| / numBuckets of the table. */
  def readBuckets(spark: SparkSession, path: String, keys: Seq[String],
                  numBuckets: Int, wanted: DataFrame): DataFrame = {
    validateBuckets(spark, path, numBuckets)
    val (_, present, schema) = locate(spark, path,
      bucketsOf(withBucket(wanted.select(keys.map(col): _*), keys, numBuckets)))
    scan(spark, path, schema, present).drop(BucketCol)
  }

  /** MERGE-like upsert: last-write-wins on `keys`, ties between multiple
    * updates for one key broken by `versionCols` descending. Only the
    * partitions containing updated keys are read and rewritten. */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             keys: Seq[String], numBuckets: Int,
             versionCols: Seq[String] = Nil): Unit =
    mergeInto(spark, path, updates, keys, numBuckets,
      versionCols = versionCols)

  /** Full MERGE INTO against the stored keyed table — the
    * [[graft.etl.Merge]] semantics (WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT / WHEN MATCHED AND deleteCond THEN DELETE) applied
    * bucket-pruned: only the bucket directories the source's keys hash
    * into are read and rewritten, so a daily change batch — including
    * its deletes, which are keyed rows like any other — costs
    * |touched buckets| / numBuckets of the table, never a full rewrite.
    * Both sides are hash-partitioned on `_bucket` and merged on
    * (`_bucket`, keys) — the bucket is a function of the key, so the
    * result is the same — which lets the merge window and the write
    * share one exchange. */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                keys: Seq[String], numBuckets: Int,
                updateMatched: Boolean = true,
                insertUnmatched: Boolean = true,
                deleteCond: Option[org.apache.spark.sql.Column] = None,
                versionCols: Seq[String] = Nil): Unit = {
    validateBuckets(spark, path, numBuckets)
    val up = withBucket(source, keys, numBuckets)
    val touched = bucketsOf(up)
    if (touched.isEmpty) return
    val (fs, present, schema) = locate(spark, path, touched)
    val before = present.map(d => d -> dataFiles(fs, d))
    // hash-partitioned on `_bucket`, so each bucket is written as one
    // file and the overwrite replaces just the touched buckets
    graft.etl.Merge.merge(
        scan(spark, path, schema, present).repartition(col(BucketCol)),
        up.repartition(col(BucketCol)),
        BucketCol +: keys, updateMatched, insertUnmatched, deleteCond, versionCols)
      .write.partitionBy(BucketCol).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    // dynamic overwrite only replaces partitions PRESENT in the output: a
    // touched bucket whose rows were ALL deleted writes nothing, and its
    // stale directory would resurrect the deleted keys. Its data file
    // names are the ones it had before the overwrite, so it is found and
    // deleted.
    val emptied = before.collect { case (d, files) if dataFiles(fs, d) == files => d }
    emptied.foreach(fs.delete(_, true))
    // a merge that deleted the table's last rows must leave a
    // schema-bearing empty file, or the next read fails inference
    if (emptied.nonEmpty && bucketDirs(fs, new Path(path)).isEmpty)
      keepEmptySchema(spark, path, schema)
  }
}
