package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Capped co-occurrence kernel of the oracle-checked query
  * Round9b.text_cooccur_lift.
  */
object Cooccur {

  /** Within-doc token pair counts over the top-`k`-by-df vocabulary.
    * Input: a DISTINCT (doc_id, tok) frame. The vocabulary cap is what
    * bounds the per-doc self-join fan-out at C(k, 2) regardless of
    * corpus size; the capped vocab (k rows) is broadcast. Returns
    * (ta, df_a, tb, df_b, c_xy). */
  def cappedPairs(docTok: DataFrame, k: Int): DataFrame = {
    val top = docTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(k)
    val dt = docTok.join(broadcast(top), Seq("tok"))
    dt.as("l").join(dt.as("r"), Seq("doc_id"))
      .where(col("l.tok") < col("r.tok"))
      .groupBy(col("l.tok").as("ta"), col("l.df").as("df_a"),
        col("r.tok").as("tb"), col("r.df").as("df_b"))
      .agg(count(lit(1)).as("c_xy"))
  }
}
