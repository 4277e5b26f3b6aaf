package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.KeyedParquetSink

/** The PERSISTED PQ-coded IVF store behind the oracle-gated
  * `sim_ivf_pq_store` entry: built once from the inline kernels' own
  * frames, then searched from the STORE alone (no corpus, no
  * centroids), bit-equal to the inline `sim_ivf_pq_search` on the same
  * frames (spec-pinned with the corpus DELETED before the search).
  *
  * Layout under `path` (each a bucket-partitioned keyed parquet table,
  * [[graft.sinks.KeyedParquetSink]], keyed by IVF CELL so a search's
  * [[KeyedParquetSink.readBuckets]] scans only the query cell's
  * buckets):
  *   - `vectors/`:  (vid, cell, xq: array<long>) — the quantized corpus
  *     in exact milli units ([[Similarity.milliQuant]]); searched only
  *     for the query row itself.
  *   - `pq_seeds/`: (code, cq: array<long>, subs, dim) — the subspace
  *     codebook, ≤ codebook rows, read whole and broadcast (the
  *     `subs`/`dim` columns make the artifact self-describing — search
  *     never guesses the geometry).
  *   - `pq_codes/`: (vid, cell, codes: array<int>) — ONE row per
  *     vector, the sub-ordered codeword ids PACKED into a small-int
  *     array (a row per subspace would re-pay the vid/cell key per code
  *     and throw away the compression PQ exists for). Search
  *     posexplodes back to (sub, code) inside the already-pruned scan.
  * ADC search scans codes alone — at 100 TB a 64-dim milli-long vector
  * is ~512 B while its code row is `subs` small ints (the
  * Jégou/Douze/Schmid PQ memory argument).
  */
object IvfIndex {

  /** Persist the store from caller-supplied frames: the quantized
    * corpus `quant` (vid, xq) and the PQ tables, all keyed by the given
    * assignment `assigned` (vid, cell). `seeds` = (code, cq), `codes` =
    * (vid, sub, code). The gated entry builds them with the inline
    * kernels ([[Similarity.ivfAssign]] cells + [[graft.queries.PqShared]]
    * seeds/codes), so store-vs-inline equality is structural. No
    * read-back count: the entry serves a search FROM the store right
    * after, which validates the build without re-scanning it. */
  def buildPqStore(spark: SparkSession, quant: DataFrame, assigned: DataFrame,
                   seeds: DataFrame, codes: DataFrame, path: String,
                   subs: Int, dim: Int, numBuckets: Int = 16): Unit = {
    val cells = assigned.select(col("vid"), col("cell"))
    KeyedParquetSink.write(
      quant.select(col("vid"), col("xq")).join(cells, Seq("vid"))
        .select(col("vid"), col("cell"), col("xq")),
      s"$path/vectors", Seq("cell"), numBuckets)
    KeyedParquetSink.write(
      seeds.select(col("code"), col("cq"),
        lit(subs).as("subs"), lit(dim).as("dim")),
      s"$path/pq_seeds", Seq("code"), math.min(4, numBuckets))
    KeyedParquetSink.write(
      packCodes(codes).join(cells, Seq("vid"))
        .select(col("vid"), col("cell"), col("codes")),
      s"$path/pq_codes", Seq("cell"), numBuckets)
  }

  /** (vid, sub, code) rows → one (vid, codes: array<int>) row per
    * vector, codes sub-ordered. */
  private def packCodes(codes: DataFrame): DataFrame =
    codes.select(col("vid"), col("sub"), col("code"))
      .groupBy(col("vid"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code").cast("int")).as("codes"))

  /** The stored packed rows back to (vid, cell, sub, code) — applied
    * AFTER the bucket prune, so the explode runs over probe-cell rows
    * only. */
  private def unpackCodes(df: DataFrame): DataFrame =
    df.select(col("vid"), col("cell"),
      posexplode(col("codes")).as(Seq("sub", "code")))
      .withColumn("code", col("code").cast("long"))

  /** The stored PQ codebook (code, cq) — ≤ codebook rows. */
  private def pqSeeds(spark: SparkSession, path: String): DataFrame =
    KeyedParquetSink.read(spark, s"$path/pq_seeds")
      .select(col("code"), col("cq"))

  /** The stored (subs, dim) geometry — ONE bounded driver read of a
    * ≤ codebook-row table (the artifact is self-describing; hardcoding
    * the geometry in the caller is how codes get mis-decoded). */
  private def pqGeometry(spark: SparkSession, path: String): (Int, Int) = {
    val r = KeyedParquetSink.read(spark, s"$path/pq_seeds")
      .select(col("subs"), col("dim")).head
    (r.getInt(0), r.getInt(1))
  }

  private def subL2(a: Column, b: Column, s: Int, subLen: Int): Column =
    graft.functions.LongVectorFunctions.vecL2SqSlice(a, b, s * subLen, subLen)

  /** The query-to-codeword ADC lookup table: per (code, sub) the exact
    * integer sub-L2 from the broadcast 1-row quantized query to the
    * stored codeword — codebook·subs rows, built once and broadcast
    * into the code scan. Materialized (≤ codebook·subs rows) so the
    * legitimate 1-row broadcast cross never appears in a consumer's
    * plan — the IVF-family localCheckpoint convention the plan lint
    * relies on. */
  private def adcLut(seeds: DataFrame, qRow: DataFrame, subs: Int,
                     subLen: Int): DataFrame =
    seeds.crossJoin(broadcast(qRow.select(col("qxq").as("qx"))))
      .select(col("code"),
        posexplode(array((0 until subs).map(s =>
          subL2(col("qx"), col("cq"), s, subLen)): _*)).as(Seq("sub", "qd")))
      .localCheckpoint(true)

  /** ADC top-k for a MEMBER query, served entirely from the store (no
    * corpus, no centroids): the query's cell comes from a column-pruned
    * (vid, cell) locate scan, its quantized vector from a bucket-pruned
    * point read of that cell, and candidates from the same cell's
    * `pq_codes/` buckets — the stored twin of [[Similarity
    * .ivfPqSearchWith]], bit-equal on the same frames. */
  def searchPqById(spark: SparkSession, path: String, queryId: Long,
                   k: Int, numBuckets: Int = 16,
                   idCol: String = "vid"): DataFrame = {
    val (subs, dim) = pqGeometry(spark, path)
    val qcell = KeyedParquetSink.read(spark, s"$path/vectors")
      .select(col("vid"), col("cell"))
      .where(col("vid") === lit(queryId))
      .select(col("cell"))
      .localCheckpoint(true) // 1 row; feeds BOTH bucket prunes
    val qRow = KeyedParquetSink.readBuckets(spark, s"$path/vectors",
        Seq("cell"), numBuckets, qcell)
      .where(col("vid") === lit(queryId))
      .select(col("xq").as("qxq"))
      .localCheckpoint(true) // 1 row; feeds the LUT build
    val lut = adcLut(pqSeeds(spark, path), qRow, subs, dim / subs)
    unpackCodes(
      KeyedParquetSink.readBuckets(spark, s"$path/pq_codes",
          Seq("cell"), numBuckets, qcell)
        // only the query CELL's rows — a bucket holds several cells
        .join(broadcast(qcell), Seq("cell"), "left_semi"))
      .where(col("vid") =!= lit(queryId))
      .join(broadcast(lut), Seq("code", "sub"))
      .groupBy(col("vid")).agg(sum(col("qd")).as("adist"))
      .orderBy(col("adist").asc, col("vid"))
      .limit(k)
      .select(col("vid").as(idCol), col("adist"))
  }
}
