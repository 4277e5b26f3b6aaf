package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-11 batch 7: CUPED variance-reduction ingredients (the A/B
  * platform's pre-period covariate adjustment, in the house
  * emit-ingredients convention) and an STL-lite seasonal decomposition
  * (trend = centered 7-day MA, seasonal = per-dow mean of detrended,
  * residual stats — all integer milli over the bounded day spine).
  */
object Round11f extends Module {

  val queries: Map[String, Q] = Map(

    // CUPED ingredients (Deng et al.): pre-period event count as the
    // covariate X, post-period count as the metric Y, arms by the
    // deterministic user_id parity. Per arm the EXACT integer sums
    // (n, ΣX, ΣY, ΣX², ΣXY) plus the assembled θ numerator/denominator
    // (n·ΣXY − ΣX·ΣY over n·ΣX² − (ΣX)²) — the client divides; the
    // engine never emits a float. One events scan (the 1-row time
    // midpoint broadcast is the events_did shape), one per-user rollup,
    // one per-arm rollup — both map-side combinable.
    "events_cuped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
      val mid = ev.agg(idiv(min(col("ts").cast("long")) +
        max(col("ts").cast("long")), lit(2L)).as("mid"))
      ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(max(col("mid")).as("mid"),
          sum(when(col("ts").cast("long") < col("mid"), 1L).otherwise(0L))
            .as("pre"),
          sum(when(col("ts").cast("long") >= col("mid"), 1L).otherwise(0L))
            .as("post"))
        .groupBy((col("user_id") % 2).as("arm"))
        .agg(count(lit(1)).as("n"), sum(col("pre")).as("s_pre"),
          sum(col("post")).as("s_post"),
          sum(col("pre") * col("pre")).as("s_pre2"),
          sum(col("pre") * col("post")).as("s_prepost"))
        .select(col("arm"), col("n"), col("s_pre"), col("s_post"),
          col("s_pre2"), col("s_prepost"),
          (col("n") * col("s_prepost") - col("s_pre") * col("s_post"))
            .as("theta_num"),
          (col("n") * col("s_pre2") - col("s_pre") * col("s_pre"))
            .as("theta_den"),
          idiv(col("s_post") * 1000, col("n")).as("mean_post_milli"))
        .orderBy(col("arm"))
    }),

    // STL-lite seasonal decomposition of the daily event series:
    // trend = centered 7-day moving average (milli), detrended =
    // 1000·n − trend on full windows only, seasonal = per-day-of-week
    // mean of the detrended series, residual = detrended − seasonal.
    // Day-of-week from the epoch-day number ((d+4) mod 7, 0 = Sunday —
    // 1970-01-01 was a Thursday), so no calendar/timezone arithmetic
    // can diverge between engines. Every window runs over the BOUNDED
    // day spine (one row per day); emitted are the 7 per-dow rows with
    // the seasonal component and residual dispersion.
    "events_stl_lite" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .where(col("ts").isNotNull)
        .groupBy(datediff(col("ts").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("d"))
        .agg(count(lit(1)).as("n"))
      val w7 = Window.orderBy(col("d")).rowsBetween(-3, 3)
      val tr = daily
        .withColumn("wn", count(lit(1)).over(w7))
        .withColumn("trend_milli", idiv(sum(col("n") * 1000).over(w7),
          col("wn")))
        .where(col("wn") === 7)
        .withColumn("detr", col("n") * 1000 - col("trend_milli"))
        .withColumn("dow", pmod(col("d") + 4, lit(7L)))
      val seas = tr.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("detr")).as("s_detr"),
          min(col("detr")).as("min_detr"), max(col("detr")).as("max_detr"))
        // truncation toward zero == floor only on non-negatives: shift
        // by the (bounded) magnitude before dividing, shift back after
        .withColumn("seasonal_milli",
          idiv(col("s_detr") + col("n_days") * 10000000L, col("n_days"))
            - 10000000L)
      tr.join(seas.select(col("dow"), col("seasonal_milli")), Seq("dow"))
        .withColumn("resid", col("detr") - col("seasonal_milli"))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"),
          max(col("seasonal_milli")).as("seasonal_milli"),
          min(col("resid")).as("min_resid"), max(col("resid")).as("max_resid"),
          sum(abs(col("resid"))).as("sum_abs_resid"))
        .orderBy(col("dow"))
    })
  )

  val oracle: Map[String, String] = Map(

    "events_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |m AS (SELECT (min(es) + max(es)) // 2 AS mid FROM ev),
        |per AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN es < mid THEN 1 ELSE 0 END) AS BIGINT) AS pre,
        |    CAST(sum(CASE WHEN es >= mid THEN 1 ELSE 0 END) AS BIGINT) AS post
        |  FROM ev CROSS JOIN m GROUP BY user_id),
        |a AS (
        |  SELECT user_id % 2 AS arm, count(*) AS n,
        |    CAST(sum(pre) AS BIGINT) AS s_pre,
        |    CAST(sum(post) AS BIGINT) AS s_post,
        |    CAST(sum(pre * pre) AS BIGINT) AS s_pre2,
        |    CAST(sum(pre * post) AS BIGINT) AS s_prepost
        |  FROM per GROUP BY arm)
        |SELECT arm, n, s_pre, s_post, s_pre2, s_prepost,
        |  n * s_prepost - s_pre * s_post AS theta_num,
        |  n * s_pre2 - s_pre * s_pre AS theta_den,
        |  s_post * 1000 // n AS mean_post_milli
        |FROM a ORDER BY arm""".stripMargin,

    "events_stl_lite" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |tr0 AS (
        |  SELECT d, n,
        |    count(*) OVER w AS wn,
        |    CAST(sum(n * 1000) OVER w AS BIGINT) AS ws
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |tr AS (
        |  SELECT d, (d + 4) % 7 AS dow,
        |    n * 1000 - ws // wn AS detr
        |  FROM tr0 WHERE wn = 7),
        |seas AS (
        |  SELECT dow, count(*) AS n_days,
        |    (CAST(sum(detr) AS BIGINT) + count(*) * 10000000) // count(*)
        |      - 10000000 AS seasonal_milli
        |  FROM tr GROUP BY dow)
        |SELECT tr.dow, count(*) AS n_days,
        |  CAST(max(seasonal_milli) AS BIGINT) AS seasonal_milli,
        |  CAST(min(detr - seasonal_milli) AS BIGINT) AS min_resid,
        |  CAST(max(detr - seasonal_milli) AS BIGINT) AS max_resid,
        |  CAST(sum(abs(detr - seasonal_milli)) AS BIGINT) AS sum_abs_resid
        |FROM tr JOIN seas ON tr.dow = seas.dow
        |GROUP BY tr.dow ORDER BY tr.dow""".stripMargin
  )
}
