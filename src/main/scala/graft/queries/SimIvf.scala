package graft.queries

import org.apache.spark.sql.SparkSession
import graft.ops.Similarity
import graft.sources.Tables

/** The shared scale-adaptive IVF index for the sim_ivf_auto* family
  * (sim_ivf_auto / sim_ivf_auto_search / sim_ivf_auto_probe_curve /
  * sim_ivf_auto_recall), one per (session, dataset), so four registry
  * consumers in one run
  * pay for ONE sampled-Lloyd train + ONE full-corpus assignment scan
  * instead of four identical ones. The cached frames (quantized corpus,
  * centroid arrays, assignment) are checkpointed and PINNED so the
  * between-query cache sweep keeps them alive; pairs/centroids are
  * orders of magnitude smaller than raw embeddings. */
object SimIvf {

  private[graft] val sharedAuto =
    new graft.Caches.SessionMemo[String, Similarity.TrainedIvf]((s, dir) => {
      val t0 = Similarity.ivfAutoTrain(
        Tables.embeddings(s, dir), "vec_id", "embedding")
      // shared() re-homes each frame under the configured checkpoint
      // mode (no-op copy in the default local mode — already rooted)
      t0.copy(quant = graft.Caches.shared(t0.quant),
        centArr = graft.Caches.shared(t0.centArr),
        assigned = graft.Caches.shared(t0.assigned))
    })

  /** Materialize the shared trained index (bench warmup) — without it,
    * whichever family member runs first in an alphabetical registry
    * sweep absorbs the whole train and its single-shot time reads as
    * that query's cost. */
  def warmSharedIndex(s: SparkSession, dir: String): Unit = {
    sharedAuto(s, dir).assigned.count(); ()
  }
}
