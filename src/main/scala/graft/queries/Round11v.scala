package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Round-11 batch 23: effect heterogeneity, embedding outliers, and
  * capacity planning — treatment-effect ingredients by pre-period
  * activity band (does the lift concentrate in heavy users?), the
  * distance-to-nearest-centroid OOD histogram (embedding drift
  * detection), and the per-type daily load factor (peak-to-mean, the
  * provisioning number).
  */
object Round11v extends Module {

  val queries: Map[String, Q] = Map(

    // Heterogeneous-treatment-effect ingredients: users banded by
    // ⌊log2⌋ of their pre-midpoint event count, arms by the parity
    // convention — per (band, arm) the users, post-period purchase
    // cents and the truncating mean. A lift that exists only in the
    // top band is a whale effect, not a product effect — the readout
    // that keeps events_ab_lift honest. One scan for the per-user
    // pre/post rollup, one banded conditional rollup.
    "events_hte_bands" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
      val mx = ev.agg(
        expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").as("mid"))
      val per = ev.crossJoin(broadcast(mx))
        .groupBy(col("user_id"))
        .agg(sum((unix_micros(col("ts")) < col("mid")).cast("long"))
            .as("pre_n"),
          sum(when(unix_micros(col("ts")) >= col("mid") &&
              col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L))
            .as("post_cents"))
        .where(col("pre_n") > 0)
      per
        .select(ilog2(col("pre_n")).as("band"),
          pmod(col("user_id"), lit(2L)).as("arm"),
          col("post_cents"))
        .groupBy(col("band"), col("arm"))
        .agg(count(lit(1)).as("n_users"), sum(col("post_cents")).as("cents"))
        .withColumn("mean_cents", idiv(col("cents"), col("n_users")))
        .orderBy(col("band"), col("arm"))
    }),

    // Embedding OOD bands: each vector's exact integer milli-L2² to its
    // NEAREST of the 8 IVF seed centroids, bucketed on the ⌊log2⌋
    // grid — the far-from-every-cell tail is the out-of-distribution /
    // drift signal an embedding pipeline alarms on (and the vectors an
    // IVF index serves worst). One broadcast-8 assignment pass, output
    // ≤ 64 bands forever.
    "sim_ood_bands" -> ((s, dir) => {
      val m = SimShared.miln(s, dir)
      val cb = m.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(8)
        .select(col("vec_id").as("cid"), col("mq").as("cmq"),
          col("nsq").as("cnsq"))
      m.crossJoin(broadcast(cb))
        .withColumn("d2", col("nsq") + col("cnsq") -
          lit(2L) * Similarity.dotMilli(col("mq"), col("cmq")))
        .groupBy(col("vec_id"))
        .agg(min(col("d2")).as("mind2"))
        .select(when(col("mind2") <= 0L, lit(0L))
          .otherwise(ilog2(col("mind2"))).as("band"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("band"))
    }),

    // Per-type daily load factor — the provisioning number: peak daily
    // volume over truncating mean daily volume (bp); a type at 30000 bp
    // needs 3× mean capacity. Bounded day-grain rollup per type.
    "events_load_factor" -> ((s, dir) => {
      Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_total"),
          max(col("n")).as("peak_day"))
        .withColumn("mean_day", idiv(col("n_total"), col("n_days")))
        .withColumn("load_factor_bp",
          idiv(col("peak_day") * 10000, col("mean_day")))
        .orderBy(col("event_type"))
    })
  )

  val oracle: Map[String, String] = Map(

    "events_hte_bands" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |per AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pre_n,
        |    CAST(sum(CASE WHEN us >= mid AND event_type = 'purchase'
        |             THEN cents ELSE 0 END) AS BIGINT) AS post_cents
        |  FROM ev, m GROUP BY user_id
        |  HAVING sum(CASE WHEN us < mid THEN 1 ELSE 0 END) > 0)
        |SELECT length(bin(pre_n)) - 1 AS band, user_id % 2 AS arm,
        |  count(*) AS n_users, CAST(sum(post_cents) AS BIGINT) AS cents,
        |  CAST(sum(post_cents) // count(*) AS BIGINT) AS mean_cents
        |FROM per GROUP BY 1, 2 ORDER BY band, arm""".stripMargin,

    "sim_ood_bands" ->
      s"""WITH ${SimMm.milliNormCte},
         |cb AS (
         |  SELECT vec_id AS cid, mq AS cmq, nsq AS cnsq FROM miln
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         |a AS (
         |  SELECT m.vec_id,
         |    min(m.nsq + c.cnsq - 2 * ${SimMm.dotmSql("m.mq", "c.cmq")})
         |      AS mind2
         |  FROM miln m CROSS JOIN cb c GROUP BY m.vec_id),
         |b AS (SELECT CASE WHEN mind2 <= 0 THEN 0
         |             ELSE length(bin(mind2)) - 1 END AS band FROM a)
         |SELECT CAST(band AS BIGINT) AS band, count(*) AS n_vecs
         |FROM b GROUP BY band ORDER BY band""".stripMargin,

    "events_load_factor" ->
      """WITH d AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS n_days,
        |    CAST(sum(n) AS BIGINT) AS n_total, CAST(max(n) AS BIGINT)
        |      AS peak_day
        |  FROM d GROUP BY event_type)
        |SELECT event_type, n_days, n_total, peak_day,
        |  CAST(n_total // n_days AS BIGINT) AS mean_day,
        |  CAST(peak_day * 10000 // (n_total // n_days) AS BIGINT)
        |    AS load_factor_bp
        |FROM g ORDER BY event_type""".stripMargin
  )
}
