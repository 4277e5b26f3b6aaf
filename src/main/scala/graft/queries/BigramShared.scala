package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysis => TA}
import graft.sources.Tables

/** The shared (source, bigram, count) corpus rollup, one per
  * (session, dataset), for the word-bigram entries
  * that each re-ran the identical tokenize → 2-shingle → explode →
  * first-rollup corpus pass (text_bigram_coverage / text_bigram_entropy
  * / text_bigram_lm). `source` rides along (a total function of the
  * doc), so corpus-wide counts are Σc over sources and the per-source
  * entropy rollup reads the frame directly. The frame is
  * |distinct (source, bigram)| rows, warmed untimed by both bench
  * mains; each bench/oracle invocation computes it from parquet.
  *
  * (text_backoff_coverage trains on a doc_id-split SUBSET and
  * text_surprisal_bits needs doc-grain occurrences — both keep their
  * own passes by design.)
  */
object BigramShared {

  /** The materialized (source, bg, c) frame. */
  private[graft] val counts = new graft.Caches.SessionMemo[String, DataFrame]((s, dir) =>
      graft.Caches.shared(
        Tables.documents(s, dir)
          .select(col("source"), TA.tokens(col("text")).as("toks"))
          .select(col("source"), explode(TA.shinglesOf(col("toks"), 2)).as("bg"))
          .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("c"))))

  /** Materialize the shared frame (bench warmup). */
  def warmShared(s: SparkSession, dir: String): Unit = {
    counts(s, dir); ()
  }
}
