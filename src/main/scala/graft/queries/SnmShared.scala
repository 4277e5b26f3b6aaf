package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** The shared sorted-neighborhood pair frame, one per
  * (session, dataset). ONE w=4
  * tagged pair build ([[graft.ops.Dedup.snmPairsDist]]) serves both SNM
  * registry entries: `dedup_sorted_neighborhood` is the dist ≤ 2 filter
  * of it (the w=2 semantics exactly — a pair's offset coordinate is the
  * same at any window size) and `dedup_snm_sweep` reads every w ≤ 4 off
  * the dist tag. The checkpointed frame holds only the VERIFIED pairs
  * (Jaccard ≥ 0.5) — far smaller than the corpus; the fat intermediate
  * window frame inside the build is swept between queries as usual. */
object SnmShared {

  /** The checkpointed (a, b, dist, inter, uni, jaccard_bp) w=4 frame. */
  private[graft] val pairs4 = new graft.Caches.SessionMemo[String, DataFrame]((s, dir) => {
      graft.Caches.shared(graft.ops.Dedup.snmPairsDist(
          Tables.documents(s, dir), "doc_id", "text", 3, 4))
    })

  /** Materialize the shared frame (bench warmup). */
  def warmShared(s: SparkSession, dir: String): Unit = {
    pairs4(s, dir).count(); ()
  }
}
