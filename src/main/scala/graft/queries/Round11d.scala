package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.{Similarity, Sketch}
import graft.sources.Tables

/** Round-11 batch 5: the Matryoshka prefix-dimension recall curve (the
  * MRL truncation-cost readout), per-user behavioral entropy (the
  * ⌊log2⌋-surrogate convention over a user's event-type distribution),
  * and the 7-day sliding distinct-user sketch — per-day bitmap cells
  * OR-merged across the window, the composition that answers sliding
  * distinct at 100 TB without ever re-scanning raw keys.
  */
object Round11d extends Module {

  val queries: Map[String, Q] = Map(

    // Matryoshka (MRL) prefix-dim recall: top-10 by cosine over the
    // first {8, 16, 32} dims vs the full-64 exact top-10 — the curve
    // that says how many dims a truncated index can drop before recall
    // pays. ONE corpus scan computes all four similarity columns
    // against the broadcast query (checkpointed); the four top-10s are
    // TakeOrdered over that attribute frame, and each recall join is
    // 10×10. Integer-bp cosine end-to-end (Similarity.cosBp), so the
    // curve is engine-reproducible.
    "sim_mrl_recall" -> ((s, dir) => {
      val emb = SimShared.miln(s, dir).select(col("vec_id"), col("mq"))
      val q = emb.where(col("vec_id") === 0L).select(col("mq").as("qmq"))
      def cosP(p: Int) = Similarity.cosBp(
        Similarity.dotMilli(slice(col("mq"), 1, p), slice(col("qmq"), 1, p)),
        Similarity.normSqMilli(slice(col("mq"), 1, p)),
        Similarity.normSqMilli(slice(col("qmq"), 1, p)))
      val scored = Seq(8, 16, 32, 64)
        .foldLeft(emb.where(col("vec_id") =!= 0L).crossJoin(broadcast(q))) {
          (df, p) => df.withColumn(s"c$p", cosP(p))
        }
        .select(col("vec_id"), col("c8"), col("c16"), col("c32"), col("c64"))
        .localCheckpoint(true)
      val exact = scored.orderBy(col("c64").desc, col("vec_id")).limit(10)
        .select(col("vec_id")).localCheckpoint(true)
      Seq(8, 16, 32).map { p =>
        scored.orderBy(col(s"c$p").desc, col("vec_id")).limit(10)
          .join(exact, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(p.toLong).as("prefix_dims"), col("n_hits"),
            (col("n_hits") * 1000).as("recall_bp"))
      }.reduce(_ unionByName _).orderBy(col("prefix_dims"))
    }),

    // Per-user behavioral entropy over the event-type distribution
    // (integer ⌊log2⌋ surrogate — the text_char_entropy convention on
    // events): 0 cb = single-typed bot-like usage, high = mixed
    // engagement. Banded histogram; two map-side-combinable rollups,
    // per-user state ≤ |event types|.
    "events_user_entropy" -> ((s, dir) => {
      Tables.events(s, dir)
        .where(col("user_id").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
          sum(col("c") * ilog2(col("c"))).as("sclog"))
        .select(col("n_types"),
          idiv((col("n") * ilog2(col("n")) - col("sclog")) * 100,
            col("n")).as("ent_cb"))
        .groupBy(idiv(col("ent_cb"), lit(50L)).as("band"))
        .agg(count(lit(1)).as("n_users"),
          min(col("ent_cb")).as("min_ent_cb"),
          max(col("ent_cb")).as("max_ent_cb"),
          max(col("n_types")).as("max_types"))
        .orderBy(col("band"))
    }),

    // 7-day sliding distinct-user sketch: each day's 4096-cell bitmap
    // (the q_bitmap_distinct kernel) OR-merges across the trailing
    // window by UNION-DISTINCT of the per-day cell frames — sliding
    // distinct from ≤ 4096×days of state, no re-scan of raw user ids
    // per window (the composition a 100 TB deployment runs; the exact
    // distinct rides along as the audit, paying the events_sliding_users
    // explode the sketch path avoids). Emitted per observed window-end
    // day: merged bits, exact distinct, saturation bp.
    "events_sliding_distinct_sketch" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .select(datediff(col("ts").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"),
          col("user_id"))
        .distinct().localCheckpoint(true)
      val spine = du.select(col("d").as("wd")).distinct()
      val cells = du.select(col("d"),
          Sketch.bitmapCell(col("user_id"), 4096L).as("cell"))
        .distinct().localCheckpoint(true)
      val est = cells
        .select(explode(sequence(col("d"), col("d") + 6)).as("wd"), col("cell"))
        .join(spine, Seq("wd"), "left_semi")
        .select(col("wd"), col("cell")).distinct()
        .groupBy(col("wd")).agg(count(lit(1)).as("bits_set"))
      val exact = du
        .select(explode(sequence(col("d"), col("d") + 6)).as("wd"),
          col("user_id"))
        .join(spine, Seq("wd"), "left_semi")
        .distinct()
        .groupBy(col("wd")).agg(count(lit(1)).as("exact_distinct"))
      est.join(exact, Seq("wd"))
        .select(col("wd").as("window_end_d"), col("bits_set"),
          col("exact_distinct"),
          idiv(col("bits_set") * 10000, lit(4096L)).as("sat_bp"))
        .orderBy(col("window_end_d"))
    })
  )

  private def dotP(a: String, b: String, p: Int): String =
    s"CAST(list_sum(list_transform(range(1, ${p + 1}), " +
      s"i -> $a[CAST(i AS INTEGER)] * $b[CAST(i AS INTEGER)])) AS BIGINT)"

  val oracle: Map[String, String] = Map(

    "sim_mrl_recall" -> {
      def cosP(p: Int) =
        SimMm.cosBpSql(dotP("m.mq", "q.qmq", p),
          dotP("m.mq", "m.mq", p), dotP("q.qmq", "q.qmq", p))
      def topP(c: String, name: String) =
        s"""$name AS (SELECT vec_id FROM (
           |  SELECT vec_id, row_number() OVER (ORDER BY $c DESC, vec_id)
           |    AS rn FROM s) z WHERE rn <= 10)"""
      def hitRow(p: Int) =
        s"""SELECT CAST($p AS BIGINT) AS prefix_dims,
           |  (SELECT count(*) FROM t$p
           |   WHERE vec_id IN (SELECT vec_id FROM ex)) AS n_hits,
           |  (SELECT count(*) FROM t$p
           |   WHERE vec_id IN (SELECT vec_id FROM ex)) * 1000 AS recall_bp"""
      s"""WITH ${SimMm.milliNormCte},
         |q AS (SELECT mq AS qmq FROM mil WHERE vec_id = 0),
         |s AS (SELECT m.vec_id,
         |    ${cosP(8)} AS c8, ${cosP(16)} AS c16,
         |    ${cosP(32)} AS c32, ${cosP(64)} AS c64
         |  FROM mil m, q WHERE m.vec_id <> 0),
         |${topP("c64", "ex")},
         |${topP("c8", "t8")},
         |${topP("c16", "t16")},
         |${topP("c32", "t32")}
         |SELECT * FROM (
         |  ${hitRow(8)}
         |  UNION ALL ${hitRow(16)}
         |  UNION ALL ${hitRow(32)}) u
         |ORDER BY prefix_dims""".stripMargin
    },

    "events_user_entropy" ->
      """WITH ut AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY user_id, event_type),
        |u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    count(*) AS n_types,
        |    CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS sclog
        |  FROM ut GROUP BY user_id),
        |e AS (SELECT n_types,
        |    (n * (length(bin(n)) - 1) - sclog) * 100 // n AS ent_cb
        |  FROM u)
        |SELECT ent_cb // 50 AS band, count(*) AS n_users,
        |  CAST(min(ent_cb) AS BIGINT) AS min_ent_cb,
        |  CAST(max(ent_cb) AS BIGINT) AS max_ent_cb,
        |  CAST(max(n_types) AS BIGINT) AS max_types
        |FROM e GROUP BY band ORDER BY band""".stripMargin,

    "events_sliding_distinct_sketch" -> {
      val cell = Sketch.h3Sql("CAST(user_id AS VARCHAR)")
      s"""WITH du AS (
         |  SELECT DISTINCT
         |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         |    user_id
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |spine AS (SELECT DISTINCT d AS wd FROM du),
         |cells AS (SELECT DISTINCT d, $cell % 4096 AS cell FROM du),
         |wc AS (
         |  SELECT DISTINCT d + i AS wd, cell
         |  FROM cells CROSS JOIN (SELECT CAST(range AS BIGINT) AS i
         |                         FROM range(7)) o
         |  WHERE d + i IN (SELECT wd FROM spine)),
         |est AS (SELECT wd, count(*) AS bits_set FROM wc GROUP BY wd),
         |wu AS (
         |  SELECT DISTINCT d + i AS wd, user_id
         |  FROM du CROSS JOIN (SELECT CAST(range AS BIGINT) AS i
         |                      FROM range(7)) o
         |  WHERE d + i IN (SELECT wd FROM spine)),
         |ex AS (SELECT wd, count(*) AS exact_distinct FROM wu GROUP BY wd)
         |SELECT est.wd AS window_end_d, bits_set, exact_distinct,
         |  bits_set * 10000 // 4096 AS sat_bp
         |FROM est JOIN ex ON est.wd = ex.wd
         |ORDER BY window_end_d""".stripMargin
    }
  )
}
