package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysis => TA}
import graft.sources.Tables

/** The shared per-document term-frequency frame, one per
  * (session, dataset), so the unigram text family stops re-running the
  * identical tokenize → explode → (doc, tok) rollup corpus pass per
  * registry entry (~16 entries paid it each run before round 17).
  *
  * One checkpointed frame serves every consumer:
  *
  *   (doc_id, lang, source, nonblank, tok, tf)
  *
  * where `tf` = occurrences of `tok` in the doc, the doc attributes
  * ride along (functionally dependent on doc_id — they let per-lang /
  * per-source rollups skip the join back to documents), and `nonblank`
  * = length(trim(text)) > 0 preserves the doc-level guard some
  * consumers apply (a blank doc contributes one empty-string token
  * under the house whitespace tokenizer, so the guard is NOT a no-op
  * and must stay per-consumer).
  *
  * Every first aggregate in the family is a function of this frame:
  * token occurrence counts = sum(tf), document frequency = row count
  * per tok, per-doc distinct tokens = the frame's keys, per-occurrence
  * weighted sums = sum(w·tf). The frame is |distinct (doc, token)|
  * rows — a large constant factor smaller than the token stream it
  * replaces, and each bench/oracle invocation still computes it from
  * the parquet inputs (warmed untimed by both bench mains like every
  * shared frame; nothing persists across runs).
  */
object TokShared {

  /** The materialized (doc_id, lang, source, nonblank, tok, tf) frame. */
  private[graft] val tf = new graft.Caches.SessionMemo[String, DataFrame]((s, dir) =>
      graft.Caches.shared(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("source"),
            (length(trim(col("text"))) > 0).as("nonblank"),
            explode(TA.tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("lang"), col("source"),
            col("nonblank"), col("tok"))
          .agg(count(lit(1)).as("tf"))))

  /** Corpus token occurrence counts (tok, n) — the shared first rollup
    * of the zipf/hapax/vocab/BPE consumers. NOT materialized (one cheap
    * aggregate over the tf frame per consumer). */
  private[graft] def tokenCounts(s: SparkSession, dir: String): DataFrame =
    tf(s, dir).groupBy(col("tok")).agg(sum(col("tf")).as("n"))

  /** Materialize the shared frame (bench warmup). */
  def warmShared(s: SparkSession, dir: String): Unit = {
    tf(s, dir); ()
  }
}
