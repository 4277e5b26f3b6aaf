package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.KeyedParquetSink

/** The PRODUCTION shape of batch-vs-history dedup: the history corpus is
  * summarized ONCE into a persisted index, and each daily batch gets its
  * verdicts by joining the stored index — history text is never
  * re-scanned, never re-tokenized, never re-signed per batch. (The
  * oracle-checked `dedup_incremental` query recomputes the same index
  * inline because the correctness gate is stateless; this component is
  * the stateful twin its comment promises.)
  *
  * Index layout under `path` (each a bucket-partitioned keyed parquet
  * table, graft.sinks.KeyedParquetSink):
  *   - `hashes/`: (h = md5(text), keeper)          — the exact-dup set
  *   - `bands/`:  (doc, band, bandkey)             — the LSH band index
  *   - `sigs/`:   (doc, sig: array<string>)        — per-doc MinHash
  *     signatures, the verification artifact: near-dup candidates are
  *     confirmed by signature agreement (matching slots ·2 ≥ k, the
  *     unbiased MinHash estimate of Jaccard ≥ 0.5), so verification
  *     needs no document text at all.
  *
  * At 100 TB: the index is a few percent of corpus bytes (hashes +
  * k·16B signatures + band longs per doc), the per-batch cost is
  * O(|batch|) signing plus index-keyed joins, and `append` upserts only
  * the batch's verdict-unique docs into the touched buckets.
  */
object IncrementalDedup {

  private def hashesOf(docs: DataFrame, idCol: String, textCol: String) =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keeper"))

  private def sigsOf(docs: DataFrame, idCol: String, textCol: String, k: Int) =
    Dedup.minhashSignatureArray(docs, idCol, textCol, k)

  /** Build the index from scratch over the history corpus. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, k: Int = 8, rowsPerBand: Int = 4,
                 numBuckets: Int = 8): Unit = {
    val sigs = sigsOf(docs, idCol, textCol, k).localCheckpoint(true)
    KeyedParquetSink.write(hashesOf(docs, idCol, textCol),
      s"$path/hashes", Seq("h"), numBuckets)
    KeyedParquetSink.write(Dedup.lshBands(sigs, rowsPerBand),
      s"$path/bands", Seq("bandkey", "doc"), numBuckets)
    KeyedParquetSink.write(sigs, s"$path/sigs", Seq("doc"), numBuckets)
  }

  /** Verdicts for `batch` against the STORED index only — one row per
    * batch doc: (doc_id, status ∈ exact_dup|near_dup|unique, keeper).
    * Exact path: md5 against `hashes`. Near path (non-exact docs only):
    * band keys joined to `bands` (hot buckets capped at `maxBucket`
    * occupants — the boilerplate guard), confirmed by stored-signature
    * agreement 2·matches ≥ k. */
  def verdicts(spark: SparkSession, batch: DataFrame, idCol: String,
               textCol: String, path: String, k: Int = 8,
               rowsPerBand: Int = 4, maxBucket: Int = 50): DataFrame = {
    val hashes = KeyedParquetSink.read(spark, s"$path/hashes")
    val bands = KeyedParquetSink.read(spark, s"$path/bands")
    val sigs = KeyedParquetSink.read(spark, s"$path/sigs")

    val bx = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("h", md5(col("text")))
      .join(hashes.withColumnRenamed("keeper", "ex_keeper"), Seq("h"), "left")
      .select(col("doc_id"), col("text"), col("ex_keeper"))
      .localCheckpoint(true) // feeds the verdicts AND the near path
    val rem = bx.where(col("ex_keeper").isNull).select(col("doc_id"), col("text"))

    val occ = bands.groupBy(col("band"), col("bandkey"))
      .agg(count(lit(1)).as("m"))
    val hkeep = bands.join(occ, Seq("band", "bandkey"))
      .where(col("m") <= maxBucket)
      .select(col("doc").as("hdoc"), col("band"), col("bandkey"))

    val bsigs = sigsOf(rem, "doc_id", "text", k).localCheckpoint(true)
    val bbands = Dedup.lshBands(bsigs, rowsPerBand)
      .select(col("doc").as("bdoc"), col("band"), col("bandkey"))
    val cand = bbands.join(hkeep, Seq("band", "bandkey"))
      .select(col("bdoc"), col("hdoc")).distinct()

    // verification WITHOUT text: slots agreeing between the two stored
    // signatures, 2·matches ≥ k ⇔ estimated Jaccard ≥ 0.5
    val matches = size(filter(
      zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
    val near = cand
      .join(bsigs.select(col("doc").as("bdoc"), col("sig").as("sa")), Seq("bdoc"))
      .join(sigs.select(col("doc").as("hdoc"), col("sig").as("sb")), Seq("hdoc"))
      .where(matches * 2 >= k)
      .groupBy(col("bdoc")).agg(min(col("hdoc")).as("near_keeper"))

    bx.select(col("doc_id"), col("ex_keeper"))
      .join(near.withColumnRenamed("bdoc", "doc_id"), Seq("doc_id"), "left")
      .withColumn("status",
        when(col("ex_keeper").isNotNull, "exact_dup")
          .when(col("near_keeper").isNotNull, "near_dup")
          .otherwise("unique"))
      .withColumn("keeper", coalesce(col("ex_keeper"), col("near_keeper")))
      .select(col("doc_id"), col("status"), col("keeper"))
  }

  /** Stateless twin of [[verdicts]] for when history arrives as a FRAME
    * (the oracle-checked `dedup_incremental` query).
    * Same exact-then-near structure, but the near verification is exact
    * trigram Jaccard ≥ 0.5 over text (integer cross-mult 2·|∩| ≥ |∪|),
    * with both shingle builds semi-join-pruned to candidate docs —
    * shingling stays ∝ candidates, not ∝ corpus.
    *
    * `histSigs`/`batchSigs`: optional precomputed (doc, sig) k-slot
    * MinHash frames (e.g. pmod row filters of the session-shared
    * LshShared.sigs8) so the history corpus is never re-tokenized or
    * re-signed inside this plan — a doc's MinHash depends only on its
    * own text, so a row filter of the full-corpus frame is
    * row-identical to re-signing the side (pinned by
    * SharedFrameEquivalenceSpec). Contracts: `histSigs` must cover
    * EXACTLY hist's docs (its bands feed the bucket-occupancy cap);
    * `batchSigs` may be any superset of batch's docs — surplus rows
    * (e.g. exact-dup batch docs) generate candidates that drop at the
    * `shB` semi-join below, which is derived from `rem`, so the output
    * is unchanged. */
  def verdictsInline(hist: DataFrame, batch: DataFrame, idCol: String,
                     textCol: String, k: Int = 8, rowsPerBand: Int = 4,
                     maxBucket: Int = 50,
                     histSigs: Option[DataFrame] = None,
                     batchSigs: Option[DataFrame] = None): DataFrame = {
    val h = hist.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val hh = h.select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("ex_keeper"))
    val bx = b.withColumn("h", md5(col("text")))
      .join(hh, Seq("h"), "left")
      .select(col("doc_id"), col("text"), col("ex_keeper"))
      .localCheckpoint(true) // feeds the verdicts AND the near path
    val rem = bx.where(col("ex_keeper").isNull)
      .select(col("doc_id"), col("text"))
    val hbands = Dedup.lshBands(
        histSigs.getOrElse(Dedup.minhashSignatureArray(h, "doc_id", "text", k)),
        rowsPerBand)
      .localCheckpoint(true) // occupancy + candidate join both read it
    val occ = hbands.groupBy(col("band"), col("bandkey"))
      .agg(count(lit(1)).as("m"))
    val hkeep = hbands.join(occ, Seq("band", "bandkey"))
      .where(col("m") <= maxBucket)
      .select(col("doc").as("hdoc"), col("band"), col("bandkey"))
    val bbands = Dedup.lshBands(
        batchSigs.getOrElse(Dedup.minhashSignatureArray(rem, "doc_id", "text", k)),
        rowsPerBand)
      .select(col("doc").as("bdoc"), col("band"), col("bandkey"))
    val cand = bbands.join(hkeep, Seq("band", "bandkey"))
      .select(col("bdoc"), col("hdoc")).distinct()
      .localCheckpoint(true) // prunes BOTH shingle builds below
    val shB = rem
      .join(cand.select(col("bdoc")), col("doc_id") === col("bdoc"), "left_semi")
      .select(col("doc_id").as("bdoc"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("bdoc"),
        array_distinct(TextAnalysis.shinglesOf(col("toks"), 3)).as("sa"))
    val shH = h
      .join(cand.select(col("hdoc")), col("doc_id") === col("hdoc"), "left_semi")
      .select(col("doc_id").as("hdoc"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("hdoc"),
        array_distinct(TextAnalysis.shinglesOf(col("toks"), 3)).as("sb"))
    val near = cand.join(shB, Seq("bdoc")).join(shH, Seq("hdoc"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni",
        size(col("sa")).cast("long") + size(col("sb")) - col("inter"))
      .where(col("uni") > 0 && col("inter") * 2 >= col("uni"))
      .groupBy(col("bdoc")).agg(min(col("hdoc")).as("near_keeper"))
    bx.select(col("doc_id"), col("ex_keeper"))
      .join(near.withColumnRenamed("bdoc", "doc_id"), Seq("doc_id"), "left")
      .withColumn("status",
        when(col("ex_keeper").isNotNull, "exact_dup")
          .when(col("near_keeper").isNotNull, "near_dup")
          .otherwise("unique"))
      .withColumn("keeper", coalesce(col("ex_keeper"), col("near_keeper")))
      .select(col("doc_id"), col("status"), col("keeper"))
  }

  /** Fold a batch's verdict-unique docs into the index (dup docs are
    * dropped upstream, so their hashes/bands/sigs never bloat it).
    * Hash keys are new by construction (status=unique ⇒ md5 not in the
    * stored set), so the keyed upsert only writes touched buckets. */
  def append(spark: SparkSession, uniqueDocs: DataFrame, idCol: String,
             textCol: String, path: String, k: Int = 8, rowsPerBand: Int = 4,
             numBuckets: Int = 8): Unit = {
    val sigs = sigsOf(uniqueDocs, idCol, textCol, k).localCheckpoint(true)
    KeyedParquetSink.upsert(spark, s"$path/hashes",
      hashesOf(uniqueDocs, idCol, textCol), Seq("h"), numBuckets)
    KeyedParquetSink.upsert(spark, s"$path/bands",
      Dedup.lshBands(sigs, rowsPerBand), Seq("bandkey", "doc"), numBuckets)
    KeyedParquetSink.upsert(spark, s"$path/sigs", sigs, Seq("doc"), numBuckets)
  }

  /** Subject ERASURE through the stored dedup index: remove every row
    * DERIVED from the given doc ids, bucket-pruned per table —
    *   - `sigs/` (doc-keyed): the subjects' signature rows;
    *   - `bands/` ((bandkey, doc)-keyed): located by a column-pruned
    *     (bandkey, doc) scan, then only the subjects' band buckets are
    *     rewritten;
    *   - `hashes/` (h-keyed): rows whose KEEPER is a subject — the md5
    *     is a fingerprint of the subject's text, itself derived
    *     content. Deleting it means an identical text re-ingested
    *     later verdicts `unique` again: erasure beats dedup memory,
    *     the only GDPR-consistent order (remembering the hash would
    *     retain what was erased).
    * Idempotent; untouched buckets never rewritten (the
    * [[KeyedParquetSink.deleteMatching]] contract). Returns
    * (hashes, bands, sigs) rows removed. */
  def erase(spark: SparkSession, ids: DataFrame, idCol: String,
            path: String, numBuckets: Int = 8): (Long, Long, Long) = {
    val idf = ids.select(col(idCol).cast("long").as("doc")).distinct()
      .localCheckpoint(true) // feeds three locate/delete passes
    val sigsN = KeyedParquetSink.deleteMatching(spark, s"$path/sigs",
      Seq("doc"), numBuckets, idf, Seq("doc"))
    val bandRows = KeyedParquetSink.read(spark, s"$path/bands")
      .select(col("bandkey"), col("doc"))
      .join(broadcast(idf), Seq("doc"), "left_semi")
      .localCheckpoint(true) // ≤ |ids|·bands rows: prune + match
    val bandsN = KeyedParquetSink.deleteMatching(spark, s"$path/bands",
      Seq("bandkey", "doc"), numBuckets, bandRows, Seq("doc"))
    val hashRows = KeyedParquetSink.read(spark, s"$path/hashes")
      .join(broadcast(idf.select(col("doc").as("keeper"))),
        Seq("keeper"), "left_semi")
      .select(col("h")).localCheckpoint(true)
    val hashesN = KeyedParquetSink.deleteMatching(spark, s"$path/hashes",
      Seq("h"), numBuckets, hashRows, Seq("h"))
    (hashesN, bandsN, sigsN)
  }
}
