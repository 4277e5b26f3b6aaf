package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Similarity, TextAnalysis => TA}
import graft.sources.Tables

/** Round-11 batch 20: quantizer health, Markov steady state, and corpus
  * stopword discovery — the PQ code-usage balance (dead codewords are
  * wasted index bits), the stationary distribution of the event-type
  * Markov chain (where the funnel settles), and the df-threshold
  * automatic stopword list (the corpus-specific filter input).
  */
object Round11s extends Module {

  val queries: Map[String, Q] = Map(

    // PQ code-usage balance — the quantizer-health audit beside
    // sim_pq_distortion's error readout: per subspace the distinct
    // codewords actually used, the dead count (16 − used: wasted index
    // bits), and the hottest code's population share (bp) — a subspace
    // where one code absorbs most vectors quantizes nothing. One rollup
    // over the registered encode kernel's output.
    "sim_pq_code_balance" -> ((s, dir) => {
      val codes = PqShared.codes(s, dir)
      val perCode = codes.groupBy(col("sub"), col("code"))
        .agg(count(lit(1)).as("cn"))
      perCode.groupBy(col("sub"))
        .agg(sum(col("cn")).as("n_vecs"),
          count(lit(1)).as("codes_used"),
          max(col("cn")).as("top_code_n"))
        .select(col("sub"), col("n_vecs"), col("codes_used"),
          (lit(16L) - col("codes_used")).as("dead_codes"),
          idiv(col("top_code_n") * 10000, col("n_vecs")).as("top_share_bp"))
        .orderBy(col("sub"))
    }),

    // Stationary distribution of the event-type Markov chain: 3
    // fixed-point iterations of π ← π·P over the integer milli
    // transition matrix (events_markov's probabilities at 1000 scale) —
    // where the uniform start settles is the long-run type mix the
    // chain predicts, read against the observed mix. All work on the
    // ≤types² transition frame; iterations are tiny keyed joins.
    "events_markov_stationary" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("ft"), col("to_type").as("tt"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p_milli",
          expr("(n * 1000) div sum(n) over (partition by ft)"))
        .localCheckpoint(true)
      val types = trans.select(col("ft").as("t")).distinct()
      val k = types.agg(count(lit(1)).as("k"))
      var pi = types.crossJoin(broadcast(k))
        .select(col("t"), idiv(lit(1000L), col("k")).as("pi"))
      for (_ <- 1 to 3) {
        pi = trans.join(pi.select(col("t").as("ft"), col("pi")), Seq("ft"))
          .groupBy(col("tt").as("t"))
          .agg(sum(col("pi") * col("p_milli")).as("s"))
          .select(col("t"), idiv(col("s"), lit(1000L)).as("pi"))
      }
      pi.select(col("t").as("event_type"), col("pi").as("pi_milli"))
        .orderBy(col("event_type"))
    }),

    // Automatic stopword discovery: tokens whose DOCUMENT frequency
    // exceeds half the corpus — the df-threshold rule that builds a
    // corpus-specific stopword list (generic lists miss domain glue
    // words). One distinct (doc, token) projection, one rollup; output
    // bounded by the vocabulary.
    "text_auto_stopwords" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      // distinct (doc, tok) ≡ the shared tf frame's keys; df = row
      // count per token
      TokShared.tf(s, dir)
        .where(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nd))
        .where(col("df") * 2 > col("n_docs"))
        .select(col("tok"), col("df"),
          idiv(col("df") * 10000, col("n_docs")).as("df_bp"))
        .orderBy(col("tok"))
    })
  )

  val oracle: Map[String, String] = Map(

    "sim_pq_code_balance" ->
      s"""WITH ${SimMm.pqCte},
         |pick AS (SELECT vid, sub, code FROM enc WHERE rn = 1),
         |pc AS (SELECT sub, code, count(*) AS cn FROM pick GROUP BY sub, code)
         |SELECT CAST(sub AS INTEGER) AS sub, CAST(sum(cn) AS BIGINT) AS n_vecs,
         |  count(*) AS codes_used,
         |  CAST(16 - count(*) AS BIGINT) AS dead_codes,
         |  CAST(max(cn) * 10000 // sum(cn) AS BIGINT) AS top_share_bp
         |FROM pc GROUP BY sub ORDER BY sub""".stripMargin,

    "events_markov_stationary" ->
      """WITH e AS (
        |  SELECT event_type AS ft,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS tt
        |  FROM events),
        |tr AS (SELECT ft, tt, count(*) AS n FROM e WHERE tt IS NOT NULL
        |       GROUP BY ft, tt),
        |p AS (SELECT ft, tt,
        |    n * 1000 // sum(n) OVER (PARTITION BY ft) AS p_milli FROM tr),
        |ty AS (SELECT DISTINCT ft AS t FROM tr),
        |k AS (SELECT count(*) AS k FROM ty),
        |p0 AS (SELECT t, 1000 // k AS pi FROM ty, k),
        |p1 AS (SELECT tt AS t, sum(pi * p_milli) // 1000 AS pi
        |       FROM p JOIN p0 ON p0.t = p.ft GROUP BY tt),
        |p2 AS (SELECT tt AS t, sum(pi * p_milli) // 1000 AS pi
        |       FROM p JOIN p1 ON p1.t = p.ft GROUP BY tt),
        |p3 AS (SELECT tt AS t, sum(pi * p_milli) // 1000 AS pi
        |       FROM p JOIN p2 ON p2.t = p.ft GROUP BY tt)
        |SELECT t AS event_type, CAST(pi AS BIGINT) AS pi_milli
        |FROM p3 ORDER BY event_type""".stripMargin,

    "text_auto_stopwords" -> {
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest($toksSql) AS tok FROM documents) z
         |  WHERE length(tok) > 0),
         |df AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
         |nd AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tok, df, CAST(df * 10000 // n_docs AS BIGINT) AS df_bp
         |FROM df, nd WHERE df * 2 > n_docs ORDER BY tok""".stripMargin
    }
  )
}
