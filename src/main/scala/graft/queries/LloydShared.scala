package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** The shared cells=8 Lloyd-round chain, one per (session, dataset).
  * sim_ivf_train (round 1 stats), sim_ivf_train2 (round 2 stats) and
  * sim_centroid_drift (round 1 vs 2 diff) each re-ran the SAME chained
  * rounds per run: quantize → seed-assign → cent₁ → assign₁ → cent₂ →
  * assign₂. One chain now serves all three; each query keeps only its
  * own tail (a per-cell stats or diff rollup over cell-sized frames).
  * The four stored frames are pinned — the per-round assignments
  * localCheckpoint inside the kernel and would otherwise be swept
  * between queries. The round-0 assignment `a0` is deliberately not
  * stored or pinned: it is read only by `cent1`'s build, so it is
  * computed once, inside that build.
  */
object LloydShared {

  private final case class Rounds(cent1: DataFrame, a1: DataFrame,
                                  cent2: DataFrame, a2: DataFrame)

  private val rounds = new graft.Caches.SessionMemo[String, Rounds]((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val quant = graft.Caches.shared(
        Similarity.quantized(emb, "vec_id", "embedding"))
      // round 0: float-cosine assignment to the hash-sampled raw seeds
      // (Similarity.ivfAssign, the opening step of every IVF train)
      val a0 = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
        .select(col("vec_id").as("vid"), col("cell"))
      val cent1 = graft.Caches.shared(Similarity.lloydCent(quant, a0))
      val a1 = graft.Caches.shared(Similarity.lloydAssign(quant, cent1))
      val cent2 = graft.Caches.shared(Similarity.lloydCent(quant, a1))
      val a2 = graft.Caches.shared(Similarity.lloydAssign(quant, cent2))
      Rounds(cent1, a1, cent2, a2)
    })

  /** Round-1 (vid, cell, dcc) assignment — sim_ivf_train's input. */
  private[graft] def assign1(s: SparkSession, dir: String): DataFrame =
    rounds(s, dir).a1

  /** Round-2 assignment — sim_ivf_train2's input. */
  private[graft] def assign2(s: SparkSession, dir: String): DataFrame =
    rounds(s, dir).a2

  /** The two (cell, d, cq, n) centroid rounds — sim_centroid_drift's
    * inputs. */
  private[graft] def cents(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val r = rounds(s, dir); (r.cent1, r.cent2)
  }

  /** Materialize the shared chain (bench warmup). */
  def warmShared(s: SparkSession, dir: String): Unit = {
    rounds(s, dir); ()
  }
}
