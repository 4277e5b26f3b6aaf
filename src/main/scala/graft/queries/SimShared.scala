package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** The shared milli-quantized embedding corpus, one per
  * (session, dataset), so the sim_* / dedup-embedding registry
  * consumers in one run pay for ONE quantize + norm scan of the vector
  * table instead of one each. The frame is the canonical
  * `(vec_id, mq: array<bigint>, nsq: bigint)` representation every
  * exact-integer distance kernel starts from ([[Similarity.milliQuant]] /
  * [[Similarity.normSqMilli]]); it is checkpointed and PINNED so the
  * between-query cache sweep keeps it alive. At cluster scale this is the
  * "quantize once, serve many" discipline: the raw float vectors are read
  * from parquet exactly once per session per dataset.
  */
object SimShared {

  /** The checkpointed (vec_id, mq, nsq) corpus frame. */
  private[graft] val miln = new graft.Caches.SessionMemo[String, DataFrame]((s, dir) => {
      graft.Caches.shared(Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.milliQuant(col("embedding")).as("mq"))
        .withColumn("nsq", Similarity.normSqMilli(col("mq"))))
    })

  /** Materialize the shared frame (bench warmup) — without it, whichever
    * sim entry runs first in an alphabetical registry sweep absorbs the
    * quantize scan and its single-shot time reads as that query's cost. */
  def warmShared(s: SparkSession, dir: String): Unit = {
    miln(s, dir).count(); ()
  }
}
