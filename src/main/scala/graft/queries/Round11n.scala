package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysis => TA}
import graft.sources.Tables

/** Round-11 batch 15: monitoring and search primitives — PSI drift
  * ingredients over value bands (the numeric-distribution companion of
  * the categorical etl_data_drift), positional phrase search (the
  * inverted-index capability a keyword AND can't express), and
  * behavioral user fingerprints (identical event-sequence groups, the
  * bot-farm / replay detector).
  */
object Round11n extends Module {

  val queries: Map[String, Q] = Map(

    // PSI (population stability index) ingredients: the numeric value
    // distribution binned into 10 fixed $50 bands, split at the corpus
    // time midpoint into reference vs current halves — per bin both
    // counts, both shares (bp) and the signed share delta. The standard
    // ML feature-drift monitor in the house emit-ingredients convention
    // (the log-ratio term is the client's float; every count and share
    // here is exact). One scan, one conditional rollup; the share
    // windows run over the 10-bin frame.
    "events_psi_ingredients" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("ts").isNotNull)
        .select(col("ts"), round(col("value") * 100).cast("long").as("cents"))
      val mx = ev.agg(
        expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").as("mid"))
      ev.crossJoin(broadcast(mx))
        .select(least(idiv(col("cents"), lit(5000L)), lit(9L)).as("bin"),
          (unix_micros(col("ts")) < col("mid")).as("is_ref"))
        .groupBy(col("bin"))
        .agg(sum(col("is_ref").cast("long")).as("n_ref"),
          sum((!col("is_ref")).cast("long")).as("n_cur"))
        .withColumn("share_ref_bp",
          expr("(n_ref * 10000) div sum(n_ref) over ()"))
        .withColumn("share_cur_bp",
          expr("(n_cur * 10000) div sum(n_cur) over ()"))
        .withColumn("delta_bp", col("share_cur_bp") - col("share_ref_bp"))
        .orderBy(col("bin"))
    }),

    // Positional phrase search — the inverted-index capability a
    // keyword AND can't express: documents containing the exact token
    // sequence "fast merge" (adjacent positions), with hit counts and
    // the first hit offset. The postings join lands on the two terms'
    // posting lists only (df-bounded, never the corpus²); positions
    // ride the explode so adjacency is an equi-join predicate
    // (b.pos = a.pos + 1), the standard phrase-query plan.
    "text_phrase_search" -> ((s, dir) => {
      val tp = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TA.tokens(col("text"))).as(Seq("pos", "tok")))
      val a = tp.where(col("tok") === "fast")
        .select(col("doc_id"), col("pos").as("pa"))
      val b = tp.where(col("tok") === "merge")
        .select(col("doc_id").as("doc_b"), col("pos").as("pb"))
      a.join(b, col("doc_b") === col("doc_id") && col("pb") === col("pa") + 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          min(col("pa")).cast("long").as("first_pos"))
        .orderBy(col("doc_id"))
    }),

    // Behavioral user fingerprints: md5 of each user's full ordered
    // event-type sequence (event time, then id, so replays hash
    // identically); groups of ≥2 users with the SAME fingerprint are
    // the bot-farm / scripted-replay signal beside events_bot_score's
    // rate heuristic. One per-user ordered fold (bounded by per-user
    // activity), then a fingerprint rollup.
    "events_user_fingerprint" -> ((s, dir) => {
      val fp = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"),
          struct(unix_micros(col("ts")).as("us"), col("event_id"),
            col("event_type")).as("e"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("e"))).as("seq"))
        .select(col("user_id"), size(col("seq")).cast("long").as("seq_len"),
          md5(expr("concat_ws(',', transform(seq, x -> x.event_type))"))
            .as("fp"))
      fp.groupBy(col("fp"), col("seq_len"))
        .agg(count(lit(1)).as("n_users"), min(col("user_id")).as("min_user"))
        .where(col("n_users") >= 2)
        .orderBy(col("fp"))
    })
  )

  val oracle: Map[String, String] = Map(

    "events_psi_ingredients" ->
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |b AS (SELECT least(cents // 5000, 9) AS bin, us < mid AS is_ref
        |      FROM ev, m),
        |g AS (SELECT bin,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        |  FROM b GROUP BY bin)
        |SELECT bin, n_ref, n_cur,
        |  CAST(n_ref * 10000 // sum(n_ref) OVER () AS BIGINT) AS share_ref_bp,
        |  CAST(n_cur * 10000 // sum(n_cur) OVER () AS BIGINT) AS share_cur_bp,
        |  CAST(n_cur * 10000 // sum(n_cur) OVER ()
        |    - n_ref * 10000 // sum(n_ref) OVER () AS BIGINT) AS delta_bp
        |FROM g ORDER BY bin""".stripMargin,

    "text_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tp AS (
         |  -- generate_subscripts is 1-based; Spark's posexplode is
         |  -- 0-based, hence the -1
         |  SELECT doc_id, unnest(toks) AS tok,
         |    CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos
         |  FROM t),
         |a AS (SELECT doc_id, pos AS pa FROM tp WHERE tok = 'fast'),
         |b AS (SELECT doc_id, pos AS pb FROM tp WHERE tok = 'merge')
         |SELECT a.doc_id, count(*) AS n_hits, min(a.pa) AS first_pos
         |FROM a JOIN b ON b.doc_id = a.doc_id AND b.pb = a.pa + 1
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    "events_user_fingerprint" ->
      """WITH s AS (
        |  SELECT user_id, count(*) AS seq_len,
        |    md5(string_agg(event_type, ','
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)) AS fp
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY user_id)
        |SELECT fp, CAST(seq_len AS BIGINT) AS seq_len,
        |  count(*) AS n_users, min(user_id) AS min_user
        |FROM s GROUP BY fp, seq_len HAVING count(*) >= 2
        |ORDER BY fp""".stripMargin
  )
}
