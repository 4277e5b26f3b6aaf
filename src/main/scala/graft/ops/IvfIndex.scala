package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.KeyedParquetSink

/** The PERSISTED scale-adaptive IVF index — the production shape of
  * [[Similarity.ivfAutoTrain]]: train once, store the artifact, serve
  * every later search/append from the STORE, never from the training
  * corpus. (The oracle-checked sim_ivf_auto* queries recompute the same
  * index inline because the correctness gate is stateless; this is the
  * stateful twin, the same pattern as [[IncrementalDedup]] for the
  * dedup index and TokenizerModel for the vocabulary.)
  *
  * Layout under `path` (each a bucket-partitioned keyed parquet table,
  * [[graft.sinks.KeyedParquetSink]]):
  *   - `centroids/`: (cell, cvec: array<long>, dcc, n_cells) — the
  *     trained milli-unit centroid arrays with their exact squared
  *     norms; ≤ 4096 rows, read whole and broadcast by every consumer.
  *   - `vectors/`:   (vid, cell, xq: array<long>, dxx) — the corpus
  *     assignment, keyed by CELL so a search's
  *     [[KeyedParquetSink.readBuckets]] scans ONLY the nprobe probe
  *     cells' buckets: candidate I/O per query is O(nprobe · n/cells) =
  *     O(nprobe · √n) under the autoCells rule, and at 100 TB the probe
  *     read is |probe buckets| / numBuckets of the table, never a scan.
  *
  * All stored numbers are the exact-integer milli-unit representation
  * ([[Similarity.milliQuant]]), so a search through the store is
  * bit-identical to the inline ivfAutoSearch ranking (spec-pinned with
  * the training corpus DELETED before the search).
  */
object IvfIndex {

  final case class BuildReport(cells: Int, nVectors: Long, nCentroids: Long)

  import Similarity.ldot

  /** Train on `emb` (sampled-Lloyd, cells ≈ √n) and persist the index. */
  def build(spark: SparkSession, emb: DataFrame, idCol: String,
            vecCol: String, path: String, sampleFactor: Int = 8,
            numBuckets: Int = 16): BuildReport =
    buildFrom(spark,
      Similarity.ivfAutoTrain(emb, idCol, vecCol, sampleFactor),
      path, numBuckets)

  /** Persist an already-trained index (e.g. the session-shared frame) —
    * training is never paid twice to get the artifact. */
  def buildFrom(spark: SparkSession, t: Similarity.TrainedIvf, path: String,
                numBuckets: Int): BuildReport = {
    KeyedParquetSink.write(
      t.centArr.withColumn("n_cells", lit(t.cells.toLong)),
      s"$path/centroids", Seq("cell"), math.min(4, numBuckets))
    KeyedParquetSink.write(
      t.assigned.select(col("vid"), col("cell"), col("xq"), col("dxx")),
      s"$path/vectors", Seq("cell"), numBuckets)
    BuildReport(t.cells,
      KeyedParquetSink.read(spark, s"$path/vectors").count(),
      KeyedParquetSink.read(spark, s"$path/centroids").count())
  }

  /** The stored centroid arrays (cell, cvec, dcc) — ≤ 4096 rows. */
  def centroids(spark: SparkSession, path: String): DataFrame =
    KeyedParquetSink.read(spark, s"$path/centroids")
      .select(col("cell"), col("cvec"), col("dcc"))

  /** Quantize a raw query/batch frame to the index representation via
    * the SAME Spark expression the build used (never a driver-side
    * reimplementation of the rounding — it cannot drift). */
  private def quantOf(df: DataFrame, idCol: String, vecCol: String) =
    df.select(col(idCol).as("vid"),
      Similarity.milliQuant(col(vecCol)).as("xq"))

  /** Assign new vectors against the STORED centroids and append them
    * into the index — one broadcast-centroids map stage over the batch
    * (the training corpus is never touched, no retrain, no rescan).
    * Batches are trusted vid-disjoint (the [[KeyedParquetSink.append]]
    * contract). Returns the appended row count. */
  def append(spark: SparkSession, batch: DataFrame, idCol: String,
             vecCol: String, path: String, numBuckets: Int = 16): Long = {
    val cent = centroids(spark, path)
    val assigned = Similarity.lloydRankedArr(quantOf(batch, idCol, vecCol), cent)
      .where(col("rn") === 1)
      .select(col("vid"), col("cell"), col("xq"), col("dxx"))
      .localCheckpoint(true) // count + write below must agree
    KeyedParquetSink.append(assigned, s"$path/vectors", Seq("cell"), numBuckets)
    assigned.count()
  }

  /** Exact integer-bp cosine top-k for an EXTERNAL query vector, served
    * entirely from the stored artifact:
    *   1. the query is quantized by the build's own Spark expression and
    *      ranked against the broadcast stored centroids (≤ cells rows);
    *   2. its `nprobe` best cells are collected (bounded by nprobe);
    *   3. ONLY those cells' buckets are read ([[KeyedParquetSink
    *      .readBuckets]]) and scored against the broadcast query row.
    * `excludeId` drops a stored vector from the candidates (searching
    * for a vector already in the index — the ivfAutoSearch contract). */
  def search(spark: SparkSession, path: String, queryVec: Seq[Float],
             k: Int, nprobe: Int, numBuckets: Int = 16,
             idCol: String = "vid",
             excludeId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val cent = centroids(spark, path)
    val q = quantOf(Seq((-1L, queryVec)).toDF("vid", "qv"), "vid", "qv")
    // the query's probe cells through the same ranked-cells kernel the
    // inline search uses (cos_bp desc, cell tiebreak)
    val qRanked = Similarity.lloydRankedArr(q, cent)
      .where(col("rn") <= nprobe)
      .select(col("cell"), col("xq").as("qxq"), col("dxx").as("qdxx"))
      .localCheckpoint(true) // feeds the bucket prune AND the score join
    val cand = KeyedParquetSink.readBuckets(spark, s"$path/vectors",
        Seq("cell"), numBuckets, qRanked.select(col("cell")))
    val scored = cand.join(broadcast(qRanked), Seq("cell"))
      .withColumn("q_cos_bp",
        Similarity.cosBp(ldot(col("xq"), col("qxq")), col("dxx"), col("qdxx")))
    excludeId.fold(scored)(id => scored.where(col("vid") =!= lit(id)))
      .select(col("vid").as(idCol), col("q_cos_bp").as("cos_bp"))
      .orderBy(col("cos_bp").desc, col(idCol))
      .limit(k)
  }

  /** BATCHED top-k against the STORED artifact — the production
    * retrieval shape (one request carries Q queries), composed from two
    * proven pieces: the one-broadcast probe-cell ranking of
    * [[Similarity.ivfAutoSearchBatchFrom]] and ONE
    * [[KeyedParquetSink.readBuckets]] point read over the UNION of
    * every query's probe cells. Candidate I/O per batch is
    * |distinct probe buckets| / numBuckets of the table — the read is
    * amortized across the batch instead of paid per query, and a
    * stored vector is scored at most once per query regardless of how
    * many queries probe its cell. `queries` carries (qidCol, vecCol)
    * rows; a stored row whose vid equals a qid is excluded from that
    * query's candidates (the searching-for-a-member contract of the
    * inline batch search — external queries should use ids disjoint
    * from stored vids, e.g. negative). Output: (qid, idCol, cos_bp,
    * rank), rank 1..k per query. */
  def searchBatch(spark: SparkSession, path: String, queries: DataFrame,
                  qidCol: String, vecCol: String, k: Int, nprobe: Int,
                  numBuckets: Int = 16, idCol: String = "vid"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = centroids(spark, path)
    // all Q queries rank their probe cells in ONE broadcast-centroids
    // pass (≤ Q·nprobe rows, checkpointed — feeds the bucket prune AND
    // the score join, and hides the legitimate broadcast cross)
    val qRanked = Similarity.lloydRankedArr(
        quantOf(queries, qidCol, vecCol), cent)
      .where(col("rn") <= nprobe)
      .select(col("vid").as("qid"), col("cell"),
        col("xq").as("qxq"), col("dxx").as("qdxx"))
      .localCheckpoint(true)
    val cand = KeyedParquetSink.readBuckets(spark, s"$path/vectors",
      Seq("cell"), numBuckets, qRanked.select(col("cell")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("q_cos_bp").desc, col("vid"))
    cand.join(broadcast(qRanked), Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .withColumn("q_cos_bp",
        Similarity.cosBp(ldot(col("xq"), col("qxq")), col("dxx"), col("qdxx")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("vid").as(idCol),
        col("q_cos_bp").as("cos_bp"), col("rk").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Subject ERASURE through the stored artifact — the GDPR path the
    * batch audits (etl_subject_access / etl_erasure_audit) plan for,
    * applied to the ANN store: remove the given vector ids so no later
    * search, batch search, append-assignment or stats can ever return
    * them. Centroids are NOT retrained (they are aggregate statistics,
    * not subject rows — the same no-retrain contract as [[append]]).
    *
    * Two-phase, because the table is bucketed by CELL to serve search
    * and an id gives no bucket:
    *   1. LOCATE — a column-pruned scan of (vid, cell) only (two narrow
    *      columns, never the vector payload) semi-joined against the
    *      ids: yields each subject's cell, ≤ |ids| rows.
    *   2. REWRITE — [[KeyedParquetSink.deleteMatching]] prunes to the
    *      buckets those cells hash into, anti-joins the vids, and
    *      dynamic-partition-overwrites just those buckets; untouched
    *      buckets are never opened.
    * Idempotent (re-deleting matches nothing). Returns rows removed. */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String, numBuckets: Int = 16): Long = {
    val idf = ids.select(col(idCol).cast("long").as("vid")).distinct()
      .localCheckpoint(true) // feeds the locate pass once
    val located = KeyedParquetSink.read(spark, s"$path/vectors")
      .select(col("vid"), col("cell"))
      .join(broadcast(idf), Seq("vid"), "left_semi")
      .localCheckpoint(true) // ≤ |ids| rows; prune list + match rows
    KeyedParquetSink.deleteMatching(spark, s"$path/vectors",
      Seq("cell"), numBuckets, located, Seq("vid"))
  }

  // --- PQ-coded memory layout ------------------------------------------
  //
  // At 100 TB the store CANNOT hold raw vectors as its search-time
  // memory side: a 64-dim milli-long array is ~512 B/vector, while the
  // PQ code rows are `subs` small ints (~32× smaller with subs=4,
  // codebook=16 — the Jégou/Douze/Schmid PQ memory argument). The
  // persisted layout therefore adds, beside `vectors/`:
  //   - `pq_seeds/`: (code, cq: array<long>, subs, dim) — the subspace
  //     codebook in exact milli units, ≤ codebook rows, read whole and
  //     broadcast by every consumer (the `subs`/`dim` columns make the
  //     artifact self-describing — search never guesses the geometry).
  //   - `pq_codes/`: (vid, cell, codes: array<int>) — ONE row per
  //     vector, the sub-ordered codeword ids PACKED into a small-int
  //     array (storing a row per subspace would re-pay the vid/cell
  //     key per code and throw away the compression PQ exists for),
  //     keyed by CELL so ADC search point-reads ONLY the probe cells'
  //     buckets, exactly like the raw-vector search path. Consumers
  //     posexplode back to (sub, code) inside the already-pruned scan.
  // ADC search scans codes alone; the raw `vectors/` buckets are touched
  // only by the OPTIONAL exact re-rank over the ADC shortlist — the
  // classic two-tier IVFADC+refine serving shape.

  /** Persist the PQ side of an index from ALREADY-built frames — the
    * variant the oracle-gated `sim_ivf_pq_store` entry feeds with the
    * exact inline-kernel frames ([[Similarity.ivfAssign]] cells +
    * [[graft.queries.PqShared]] seeds/codes), so the stored search is
    * bit-equal to the inline `sim_ivf_pq_search` by construction.
    * `assigned` = (vid, cell), `seeds` = (code, cq), `codes` =
    * (vid, sub, code). Returns the persisted code-row count. */
  def buildPqFrom(spark: SparkSession, assigned: DataFrame, seeds: DataFrame,
                  codes: DataFrame, path: String, subs: Int, dim: Int,
                  numBuckets: Int = 16, countRows: Boolean = true): Long = {
    KeyedParquetSink.write(
      seeds.select(col("code"), col("cq"),
        lit(subs).as("subs"), lit(dim).as("dim")),
      s"$path/pq_seeds", Seq("code"), math.min(4, numBuckets))
    KeyedParquetSink.write(
      packCodes(codes).join(assigned.select(col("vid"), col("cell")), Seq("vid"))
        .select(col("vid"), col("cell"), col("codes")),
      s"$path/pq_codes", Seq("cell"), numBuckets)
    // the read-back count is a whole-table scan a caller may not need
    // (the store entry's search validates the build end-to-end anyway)
    if (countRows) KeyedParquetSink.read(spark, s"$path/pq_codes").count()
    else -1L
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

  /** Train-and-persist the FULL two-tier artifact: the raw-vector +
    * centroid layout of [[buildFrom]] PLUS the PQ codebook and codes —
    * seeds and codes derived from the SAME checkpointed quantized corpus
    * the coarse quantizer used (one quantize pass serves both tiers). */
  def buildPq(spark: SparkSession, t: Similarity.TrainedIvf, path: String,
              codebook: Int, subs: Int, dim: Int,
              numBuckets: Int = 16): BuildReport = {
    val r = buildFrom(spark, t, path, numBuckets)
    val quant = t.quant.select(col("vid"), col("xq").as("mq"))
    val seeds = Similarity.pqSeedsQuant(quant, "vid", codebook)
    val codes = Similarity.pqCodesQuant(quant, "vid", dim, subs, seeds)
    buildPqFrom(spark, t.assigned.select(col("vid"), col("cell")), seeds,
      codes.select(col("vid"), col("sub"), col("code")), path, subs, dim,
      numBuckets)
    r
  }

  /** The stored PQ codebook (code, cq) — ≤ codebook rows. */
  def pqSeeds(spark: SparkSession, path: String): DataFrame =
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

  /** ADC top-k for an EXTERNAL query vector served entirely from the
    * stored CODES: probe cells ranked against the stored centroids
    * (the [[search]] kernel), then ONLY those cells' `pq_codes/` buckets
    * are read and scored through the broadcast ADC table — sum of
    * `subs` lookups per candidate, no vector math, no raw-vector I/O.
    * Output: (idCol, adist) ascending — the [[Similarity
    * .pqSearchAdcWith]] ranking served from disk. */
  def searchPqAdc(spark: SparkSession, path: String, queryVec: Seq[Float],
                  k: Int, nprobe: Int, numBuckets: Int = 16,
                  idCol: String = "vid",
                  excludeId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (subs, dim) = pqGeometry(spark, path)
    val cent = centroids(spark, path)
    val q = quantOf(Seq((-1L, queryVec)).toDF("vid", "qv"), "vid", "qv")
    val qRanked = Similarity.lloydRankedArr(q, cent)
      .where(col("rn") <= nprobe)
      .select(col("cell"), col("xq").as("qxq"))
      .localCheckpoint(true) // feeds the bucket prune AND the LUT build
    val lut = adcLut(pqSeeds(spark, path), qRanked.limit(1), subs, dim / subs)
    // a bucket holds several cells — the semi-join keeps only the probe
    // cells' rows out of the pruned buckets (the [[search]] cell filter)
    val cand = unpackCodes(
      KeyedParquetSink.readBuckets(spark, s"$path/pq_codes",
          Seq("cell"), numBuckets, qRanked.select(col("cell")))
        .join(broadcast(qRanked.select(col("cell"))), Seq("cell"), "left_semi"))
    excludeId.fold(cand)(id => cand.where(col("vid") =!= lit(id)))
      .join(broadcast(lut), Seq("code", "sub"))
      .groupBy(col("vid")).agg(sum(col("qd")).as("adist"))
      .orderBy(col("adist").asc, col("vid"))
      .limit(k)
      .select(col("vid").as(idCol), col("adist"))
  }

  /** Two-tier serving: ADC over the stored codes shortlists `shortlist`
    * candidates, then ONLY those ids' raw vectors (a semi-join inside
    * the already-probe-pruned `vectors/` buckets) are re-scored by the
    * exact integer cosine — the refine step that buys back PQ's
    * quantization error while still reading O(shortlist) raw rows
    * instead of O(n/cells · nprobe). Output: (idCol, cos_bp) desc. */
  def searchPqRerank(spark: SparkSession, path: String,
                     queryVec: Seq[Float], k: Int, nprobe: Int,
                     shortlist: Int, numBuckets: Int = 16,
                     idCol: String = "vid",
                     excludeId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (subs, dim) = pqGeometry(spark, path)
    val cent = centroids(spark, path)
    val q = quantOf(Seq((-1L, queryVec)).toDF("vid", "qv"), "vid", "qv")
    val qRanked = Similarity.lloydRankedArr(q, cent)
      .where(col("rn") <= nprobe)
      .select(col("cell"), col("xq").as("qxq"), col("dxx").as("qdxx"))
      .localCheckpoint(true)
    val lut = adcLut(pqSeeds(spark, path), qRanked.limit(1), subs, dim / subs)
    // semi-join: only the probe CELLS' rows, not whole shared buckets
    val codes = unpackCodes(
      KeyedParquetSink.readBuckets(spark, s"$path/pq_codes",
          Seq("cell"), numBuckets, qRanked.select(col("cell")))
        .join(broadcast(qRanked.select(col("cell"))), Seq("cell"), "left_semi"))
    val short0 = excludeId.fold(codes)(id => codes.where(col("vid") =!= lit(id)))
      .join(broadcast(lut), Seq("code", "sub"))
      .groupBy(col("vid")).agg(sum(col("qd")).as("adist"))
      .orderBy(col("adist").asc, col("vid"))
      .limit(shortlist)
      .select(col("vid"))
      .localCheckpoint(true) // ≤ shortlist rows; feeds the refine semi-join
    val raw = KeyedParquetSink.readBuckets(spark, s"$path/vectors",
        Seq("cell"), numBuckets, qRanked.select(col("cell")))
      .join(broadcast(short0), Seq("vid"), "left_semi")
    raw.crossJoin(broadcast(qRanked.limit(1)
        .select(col("qxq"), col("qdxx"))))
      .withColumn("cos_bp",
        Similarity.cosBp(ldot(col("xq"), col("qxq")), col("dxx"), col("qdxx")))
      .orderBy(col("cos_bp").desc, col("vid"))
      .limit(k)
      .select(col("vid").as(idCol), col("cos_bp"))
  }

  /** BATCHED ADC against the stored codes — Q queries rank their probe
    * cells in one broadcast-centroids pass, the per-query LUTs are one
    * Q·codebook·subs-row broadcast, and the `pq_codes/` point read over
    * the UNION of probe cells is paid ONCE for the batch (the
    * [[searchBatch]] amortization applied to the code tier). Output:
    * (qid, idCol, adist, rank), rank 1..k ascending per query. */
  def searchPqBatch(spark: SparkSession, path: String, queries: DataFrame,
                    qidCol: String, vecCol: String, k: Int, nprobe: Int,
                    numBuckets: Int = 16, idCol: String = "vid"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (subs, dim) = pqGeometry(spark, path)
    val subLen = dim / subs
    val cent = centroids(spark, path)
    val qRanked = Similarity.lloydRankedArr(
        quantOf(queries, qidCol, vecCol), cent)
      .where(col("rn") <= nprobe)
      .select(col("vid").as("qid"), col("cell"), col("xq").as("qxq"))
      .localCheckpoint(true)
    val lut = qRanked.select(col("qid"), col("qxq")).distinct()
      .crossJoin(broadcast(pqSeeds(spark, path)))
      .select(col("qid"), col("code"),
        posexplode(array((0 until subs).map(s =>
          subL2(col("qxq"), col("cq"), s, subLen)): _*)).as(Seq("sub", "qd")))
      .localCheckpoint(true) // Q·codebook·subs rows; hides the Q-row cross
    val cand = unpackCodes(
      KeyedParquetSink.readBuckets(spark, s"$path/pq_codes",
        Seq("cell"), numBuckets, qRanked.select(col("cell"))))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adist").asc, col("vid"))
    cand.join(broadcast(qRanked.select(col("qid"), col("cell"))), Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .join(broadcast(lut), Seq("qid", "code", "sub"))
      .groupBy(col("qid"), col("vid")).agg(sum(col("qd")).as("adist"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("vid").as(idCol), col("adist"),
        col("rk").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Append a raw batch through BOTH tiers: one broadcast-centroids
    * assignment pass tags cells, the stored codebook encodes the same
    * checkpointed batch, and both `vectors/` and `pq_codes/` take keyed
    * appends — the training corpus and the stored corpus are never
    * rescanned. Returns the appended row count. */
  def appendPq(spark: SparkSession, batch: DataFrame, idCol: String,
               vecCol: String, path: String, numBuckets: Int = 16): Long = {
    val (subs, dim) = pqGeometry(spark, path)
    val cent = centroids(spark, path)
    val assigned = Similarity.lloydRankedArr(quantOf(batch, idCol, vecCol), cent)
      .where(col("rn") === 1)
      .select(col("vid"), col("cell"), col("xq"), col("dxx"))
      .localCheckpoint(true) // feeds vectors append, encode AND the count
    KeyedParquetSink.append(assigned, s"$path/vectors", Seq("cell"), numBuckets)
    val codes = Similarity.pqCodesQuant(
      assigned.select(col("vid"), col("xq").as("mq")), "vid", dim, subs,
      pqSeeds(spark, path))
    KeyedParquetSink.append(
      packCodes(codes).join(assigned.select(col("vid"), col("cell")), Seq("vid"))
        .select(col("vid"), col("cell"), col("codes")),
      s"$path/pq_codes", Seq("cell"), numBuckets)
    assigned.count()
  }

  /** Subject erasure through BOTH tiers — the [[delete]] two-phase
    * locate+rewrite applied to `vectors/` and `pq_codes/` with ONE
    * locate pass (the tables share the cell assignment, so the located
    * (vid, cell) frame prunes both rewrites). Codebooks and centroids
    * are aggregate statistics and are not retrained. Idempotent;
    * returns raw-vector rows removed (codes follow 1:subs). */
  def deletePq(spark: SparkSession, path: String, ids: DataFrame,
               idCol: String, numBuckets: Int = 16): Long = {
    val idf = ids.select(col(idCol).cast("long").as("vid")).distinct()
      .localCheckpoint(true)
    val located = KeyedParquetSink.read(spark, s"$path/vectors")
      .select(col("vid"), col("cell"))
      .join(broadcast(idf), Seq("vid"), "left_semi")
      .localCheckpoint(true) // ≤ |ids| rows; prunes BOTH rewrites
    val removed = KeyedParquetSink.deleteMatching(spark, s"$path/vectors",
      Seq("cell"), numBuckets, located, Seq("vid"))
    KeyedParquetSink.deleteMatching(spark, s"$path/pq_codes",
      Seq("cell"), numBuckets, located, Seq("vid"))
    removed
  }

  /** Persist a MEMBER-SERVABLE PQ store from caller-supplied frames:
    * the quantized corpus (vid, xq) keyed by the given assignment plus
    * the PQ tables of [[buildPqFrom]] — the shape the oracle-gated
    * `sim_ivf_pq_store` entry builds from the inline kernels' own
    * frames so store-vs-inline equality is structural. */
  def buildPqStore(spark: SparkSession, quant: DataFrame, assigned: DataFrame,
                   seeds: DataFrame, codes: DataFrame, path: String,
                   subs: Int, dim: Int, numBuckets: Int = 16): Long = {
    KeyedParquetSink.write(
      quant.select(col("vid"), col("xq"))
        .join(assigned.select(col("vid"), col("cell")), Seq("vid"))
        .select(col("vid"), col("cell"), col("xq")),
      s"$path/vectors", Seq("cell"), numBuckets)
    // no read-back count: the gated entry serves a search FROM the store
    // immediately after, which validates the build without re-scanning it
    buildPqFrom(spark, assigned, seeds, codes, path, subs, dim, numBuckets,
      countRows = false)
  }

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

  /** Occupancy audit of the STORED index (the sim_ivf_auto stats shape
    * over the artifact — drifts as appends land): per cell the member
    * count, min vid and centroid norm, plus the trained cell count. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    val cent = KeyedParquetSink.read(spark, s"$path/centroids")
    KeyedParquetSink.read(spark, s"$path/vectors")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), min(col("vid")).as("min_id"))
      .join(broadcast(cent.select(col("cell"),
        floor(sqrt(col("dcc").cast("double"))).cast("long").as("c_norm_milli"),
        col("n_cells"))), Seq("cell"))
      .orderBy(col("cell"))
  }
}
