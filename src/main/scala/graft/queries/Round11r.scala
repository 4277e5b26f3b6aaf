package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl.Normalize
import graft.ops.{TextAnalysis => TA}
import graft.sources.Tables

/** Round-11 batch 19: changelog compression, temporal reads, and LM
  * smoothing diagnostics — run-length compression of a keyed changelog
  * (keep only value CHANGES), the SCD2 as-of read (reconstruct the
  * dimension as it stood at time T), and backoff-order coverage (how
  * often a bigram LM actually gets to use its bigrams).
  */
object Round11r extends Module {

  val queries: Map[String, Q] = Map(

    // Changelog run-length compression: per user in (ts, id) order, keep
    // only rows whose event_type CHANGES from the previous row — the
    // sensor/CDC compaction that stores state transitions instead of
    // every reading. Emits per event type the kept/raw counts and the
    // compression ratio — beside etl_cdc_collapse (net change per key)
    // this is the ORDERED-RUN collapse. One lag window per user
    // (bounded by per-user activity), one rollup.
    "etl_delta_compress" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("keep",
          (col("prev_type").isNull ||
            col("prev_type") =!= col("event_type")).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_raw"), sum(col("keep")).as("n_kept"))
        .withColumn("keep_bp", idiv(col("n_kept") * 10000, col("n_raw")))
        .orderBy(col("event_type"))
    }),

    // SCD2 as-of read — the temporal query the etl_scd2 build exists to
    // serve: the version of each user valid AT 2024-01-15 00:00:00
    // (valid_from ≤ T < valid_to on the same ISO strings the build
    // emits, which compare lexicographically). Same interval kernel as
    // etl_scd2 (lead window per user); the as-of predicate filters to
    // exactly one row per user active before T.
    "etl_scd2_asof" -> ((s, dir) => {
      val T = "2024-01-15 00:00:00"
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .where(col("user_id").isNotNull)
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_id"),
          Normalize.isoDateTimeOrNull(col("ts")).as("valid_from"),
          coalesce(Normalize.isoDateTimeOrNull(col("next_ts")),
            lit("9999-12-31 00:00:00")).as("valid_to"))
        .where(col("valid_from") <= T && col("valid_to") > T)
        .orderBy(col("user_id"))
    }),

    // Backoff-order coverage — the smoothing diagnostic for the bigram
    // LM: on the held-out split (doc_id ≡ 0 mod 10) the share of test
    // bigrams the train split can score at order 2 (bigram seen), order
    // 1 (only the continuation unigram seen) or order 0 (OOV) — high
    // order-0 means the LM is guessing and the vocab needs work. Two
    // keyed left joins of the test bigram stream against the train
    // tables; no pair explosion.
    "text_backoff_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def bigrams(df: org.apache.spark.sql.DataFrame) = df
        .select(TA.tokens(col("text")).as("toks"))
        .select(explode(TA.shinglesOf(col("toks"), 2)).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("w1"),
          split(col("bg"), " ").getItem(1).as("w2"))
      val train = docs.where(col("doc_id") % 10 =!= 0)
      val test = bigrams(docs.where(col("doc_id") % 10 === 0))
      // single-consumer train-bigram table: feeds exactly one join below,
      // so it stays LAZY — an eager corpus-sized checkpoint here was the
      // many-tiny-jobs structure that had this query at 10× its anchor
      val tb = bigrams(train).groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n2"))
      val tu = train
        .select(explode(TA.tokens(col("text"))).as("w2"))
        .groupBy(col("w2")).agg(count(lit(1)).as("n1"))
      val tot = Window.rowsBetween(Long.MinValue, Long.MaxValue)
      test
        .join(tb, Seq("w1", "w2"), "left")
        .join(tu, Seq("w2"), "left")
        .select(
          when(col("n2").isNotNull, 2L)
            .when(col("n1").isNotNull, 1L).otherwise(0L).as("order"))
        .groupBy(col("order"))
        .agg(count(lit(1)).as("n_bigrams"))
        .withColumn("share_bp",
          idiv(col("n_bigrams") * 10000, sum(col("n_bigrams")).over(tot)))
        .orderBy(col("order"))
    })
  )

  val oracle: Map[String, String] = Map(

    "etl_delta_compress" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |l AS (SELECT event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM e),
        |k AS (SELECT event_type,
        |    CASE WHEN prev_type IS NULL OR prev_type <> event_type
        |         THEN 1 ELSE 0 END AS keep
        |  FROM l)
        |SELECT event_type, count(*) AS n_raw,
        |  CAST(sum(keep) AS BIGINT) AS n_kept,
        |  CAST(sum(keep) * 10000 // count(*) AS BIGINT) AS keep_bp
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    "etl_scd2_asof" ->
      """WITH v AS (
        |  SELECT user_id, event_id,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
        |      AS valid_from,
        |    coalesce(strftime(lead(CAST(ts AS TIMESTAMP), 1) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id),
        |      '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, event_id, valid_from, valid_to FROM v
        |WHERE valid_from <= '2024-01-15 00:00:00'
        |  AND valid_to > '2024-01-15 00:00:00'
        |ORDER BY user_id""".stripMargin,

    "text_backoff_coverage" -> {
      val toks = toksSql
      s"""WITH tr AS (SELECT $toks AS toksv FROM documents WHERE doc_id % 10 <> 0),
         |te AS (SELECT $toks AS toksv FROM documents WHERE doc_id % 10 = 0),
         |trp AS (
         |  SELECT unnest(list_transform(range(1, len(toksv)),
         |    i -> toksv[i] || ' ' || toksv[i+1])) AS bgs
         |  FROM tr),
         |trb AS (SELECT string_split(bgs, ' ')[1] AS w1,
         |    string_split(bgs, ' ')[2] AS w2, count(*) AS n2
         |  FROM trp GROUP BY 1, 2),
         |tru AS (SELECT w2, count(*) AS n1
         |        FROM (SELECT unnest(toksv) AS w2 FROM tr) z GROUP BY w2),
         |tep AS (
         |  SELECT unnest(list_transform(range(1, len(toksv)),
         |    i -> toksv[i] || ' ' || toksv[i+1])) AS bgs
         |  FROM te),
         |teb AS (SELECT string_split(bgs, ' ')[1] AS w1,
         |    string_split(bgs, ' ')[2] AS w2 FROM tep),
         |o AS (
         |  SELECT CASE WHEN tb.n2 IS NOT NULL THEN 2
         |              WHEN tu.n1 IS NOT NULL THEN 1 ELSE 0 END AS "order"
         |  FROM teb
         |  LEFT JOIN trb tb ON tb.w1 = teb.w1 AND tb.w2 = teb.w2
         |  LEFT JOIN tru tu ON tu.w2 = teb.w2)
         |SELECT CAST("order" AS BIGINT) AS "order", count(*) AS n_bigrams,
         |  CAST(count(*) * 10000 // sum(count(*)) OVER () AS BIGINT)
         |    AS share_bp
         |FROM o GROUP BY 1 ORDER BY 1""".stripMargin
    }
  )
}
