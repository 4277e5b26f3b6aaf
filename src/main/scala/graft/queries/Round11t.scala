package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-11 batch 21: joint-distribution and concentration readouts —
  * the 2-D numeric histogram (quantity × discount joint density for
  * correlation eyeballing and 2-D zone design), per-state Markov
  * transition entropy (how predictable is each state's next step), and
  * the revenue Herfindahl index (concentration risk; corpus total as a
  * broadcast scalar, never a user-sized single-partition window).
  */
object Round11t extends Module {

  val queries: Map[String, Q] = Map(

    // 2-D numeric histogram: quantity (10-unit bins) × discount (2 pp
    // bins) joint counts with exact cents per cell — the numeric twin of
    // q_contingency's categorical grid, the input to correlation
    // eyeballing and 2-D zone-map design. One rollup; the grid is
    // ≤ 5 × 6 cells regardless of corpus size.
    "q_histogram_2d" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(idiv(col("l_quantity").cast("long"), lit(10L)).as("qty_bin"),
          idiv(round(col("l_discount") * 100).cast("long"), lit(2L))
            .as("disc_bin"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("qty_bin"), col("disc_bin"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("qty_bin"), col("disc_bin"))
    }),

    // Per-state Markov transition entropy on the integer-⌊log2⌋
    // convention (text_char_entropy's surrogate): for each from-type,
    // H' = Σ n_t·(ilog2 n − ilog2 n_t)/n in centibits — 0 means the next
    // event is fully determined (a funnel rail), high means the state
    // fans out. Transition counts are the events_markov rollup; the
    // entropy fold runs over ≤types rows per state.
    "events_markov_entropy" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("ft"), col("to_type").as("tt"))
        .agg(count(lit(1)).as("nt"))
      trans
        .withColumn("n", sum(col("nt")).over(Window.partitionBy(col("ft"))))
        .withColumn("bits", col("nt") * (ilog2(col("n")) - ilog2(col("nt"))))
        .groupBy(col("ft").as("from_type"))
        .agg(max(col("n")).as("n_trans"),
          count(lit(1)).as("n_targets"),
          sum(col("bits")).as("bits_sum"))
        .withColumn("ent_cb", idiv(col("bits_sum") * 100, col("n_trans")))
        .orderBy(col("from_type"))
    }),

    // Revenue Herfindahl–Hirschman index — the concentration-risk
    // number beside events_pareto's coverage curve: per-user purchase
    // cents shares (bp, truncating) squared and summed, HHI//10⁴ back
    // in bp (10000 = one user owns everything, →0 = atomized), with the
    // top user's share riding along. Two rollups; the share math is one
    // windowed total over the per-user frame.
    "events_revenue_hhi" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .where(col("event_type") === "purchase" && col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      // corpus total as a 1-row broadcast scalar (the events_rfm shape),
      // NOT an unpartitioned window — the per-user frame is user-sized
      // and must never collapse to one partition
      val tot = per.agg(sum(col("cents")).as("total"))
      per
        .crossJoin(broadcast(tot))
        .withColumn("share_bp", idiv(col("cents") * 10000, col("total")))
        .agg(count(lit(1)).as("n_users"),
          max(col("total")).as("cents_total"),
          max(col("share_bp")).as("top_share_bp"),
          sum(col("share_bp") * col("share_bp")).as("sq_sum"))
        .withColumn("hhi_bp", idiv(col("sq_sum"), lit(10000L)))
        .select(col("n_users"), col("cents_total"), col("top_share_bp"),
          col("hhi_bp"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_histogram_2d" ->
      """SELECT CAST(l_quantity AS BIGINT) // 10 AS qty_bin,
        |  CAST(round(l_discount * 100) AS BIGINT) // 2 AS disc_bin,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM lineitem GROUP BY 1, 2 ORDER BY qty_bin, disc_bin""".stripMargin,

    "events_markov_entropy" ->
      """WITH e AS (
        |  SELECT event_type AS ft,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS tt
        |  FROM events),
        |tr AS (SELECT ft, tt, count(*) AS nt FROM e WHERE tt IS NOT NULL
        |       GROUP BY ft, tt),
        |x AS (SELECT ft, nt, sum(nt) OVER (PARTITION BY ft) AS n FROM tr),
        |b AS (SELECT ft, n,
        |    nt * ((length(bin(n)) - 1) - (length(bin(nt)) - 1)) AS bits
        |  FROM x)
        |SELECT ft AS from_type, CAST(max(n) AS BIGINT) AS n_trans,
        |  count(*) AS n_targets,
        |  CAST(sum(bits) AS BIGINT) AS bits_sum,
        |  CAST(sum(bits) * 100 // max(n) AS BIGINT) AS ent_cb
        |FROM b GROUP BY ft ORDER BY from_type""".stripMargin,

    "events_revenue_hhi" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |  GROUP BY user_id),
        |s AS (SELECT cents, sum(cents) OVER () AS total FROM per),
        |sh AS (SELECT total, cents * 10000 // total AS share_bp FROM s)
        |SELECT count(*) AS n_users,
        |  CAST(max(total) AS BIGINT) AS cents_total,
        |  CAST(max(share_bp) AS BIGINT) AS top_share_bp,
        |  CAST(sum(share_bp * share_bp) // 10000 AS BIGINT) AS hhi_bp
        |FROM sh""".stripMargin
  )
}
