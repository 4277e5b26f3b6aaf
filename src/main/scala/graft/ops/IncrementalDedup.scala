package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch-vs-history dedup (the oracle-checked `dedup_incremental`
  * query): each batch doc is verdicted exact dup, near dup or unique
  * against a history corpus that arrives as a frame.
  */
object IncrementalDedup {

  /** Verdicts for `batch` against `hist`: one row per batch doc,
    * (doc_id, status ∈ exact_dup|near_dup|unique, keeper). Exact path:
    * md5 against the history's hashes. Near path (non-exact docs only):
    * LSH band keys joined to the history's bands (hot buckets capped at
    * `maxBucket` occupants — the boilerplate guard), verified by exact
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
}
