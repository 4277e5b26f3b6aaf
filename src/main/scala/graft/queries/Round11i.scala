package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-11 batch 10: storage-layout and feature-store audits — the
  * zone-map data-skipping readout (how many row blocks a min/max index
  * prunes per predicate, the number that says whether the table's
  * clustering serves its query set) and the PIT feature-staleness bands
  * (how old the point-in-time-correct feature is at label time).
  */
object Round11i extends Module {

  val queries: Map[String, Q] = Map(

    // Zone-map prune audit — the data-skipping effectiveness readout
    // (parquet row-group / Delta file stats semantics): blocks of 512
    // consecutive l_orderkeys (insertion-order layout) each carry
    // min/max zone stats for ship-day and quantity; a literal predicate
    // set is then judged purely against the zones — a block is skipped
    // when its [min,max] is disjoint from the predicate. Emits per
    // predicate the block/row skip counts and share. The point of the
    // audit at 100 TB: ship-date predicates prune ~nothing under
    // orderkey clustering (the q_zorder_key motivation) while quantity
    // fares no better — min/max stats only pay on clustered columns.
    // One corpus scan (the per-block rollup); the predicate sweep
    // explodes the tiny block-stats frame, never the table.
    "etl_zonemap_prune" -> ((s, dir) => {
      val zones = Tables.lineitem(s, dir)
        .select(idiv(col("l_orderkey"), lit(512L)).as("blk"),
          idiv(col("l_shipdate").cast("long"), lit(86400L)).as("sd"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("blk"))
        .agg(count(lit(1)).as("rows"),
          min(col("sd")).as("sd_min"), max(col("sd")).as("sd_max"),
          min(col("qty")).as("q_min"), max(col("qty")).as("q_max"))
      // literal predicate set: day 10227 = 1998-01-01, 9496 = 1996-01-01
      val preds = zones
        .select(col("blk"), col("rows"), explode(array(
          struct(lit("ship_ge_1998").as("pred"),
            (col("sd_max") < 10227L).as("skip")),
          struct(lit("ship_lt_1996").as("pred"),
            (col("sd_min") >= 9496L).as("skip")),
          struct(lit("qty_ge_45").as("pred"),
            (col("q_max") < 45L).as("skip")),
          struct(lit("qty_lt_5").as("pred"),
            (col("q_min") >= 5L).as("skip")))).as("p"))
      preds.groupBy(col("p.pred").as("pred"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("p.skip").cast("long")).as("n_skipped"),
          sum(col("rows")).as("rows_total"),
          sum(when(col("p.skip"), col("rows")).otherwise(lit(0L)))
            .as("rows_skipped"))
        .withColumn("skip_bp",
          idiv(col("rows_skipped") * 10000, col("rows_total")))
        .orderBy(col("pred"))
    }),

    // PIT feature-staleness bands — the age of the point-in-time-correct
    // feature at label time, the serving-freshness distribution a
    // feature store publishes beside etl_pit_leakage's correctness
    // number: per staleness band (≤1 m / ≤1 h / ≤1 d / older / missing)
    // the label count, share, and exact min/max staleness. The PIT pick
    // rides the NATIVE as-of merge over per-(user, second) deduped
    // feature times — whale-proof like etl_pit_leakage (no
    // deg_labels·deg_feats product anywhere; a hot user streams through
    // one partition's O(1)-state merge).
    "etl_feature_staleness" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
      val labels = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("label_id"),
          col("ts").cast("long").as("lt"))
      val featTimes = ev.where(col("event_type") === "click")
        .select(col("user_id").as("f_user"), col("ts").cast("long").as("ft"))
        .distinct()
      val st = graft.plans.AsOf.joinBackward(labels, featTimes,
          "user_id", "f_user", "lt", "ft")
        .select((col("lt") - col("ft")).as("stale_s"))
        .withColumn("band",
          when(col("stale_s").isNull, "4_missing")
            .when(col("stale_s") <= 60L, "0_1m")
            .when(col("stale_s") <= 3600L, "1_1h")
            .when(col("stale_s") <= 86400L, "2_1d")
            .otherwise("3_older"))
      // total via a window over the ≤5-row band frame (bounded by the
      // band vocabulary, never the corpus) — no scalar cross needed
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue)
      st.groupBy(col("band"))
        .agg(count(lit(1)).as("n_labels"),
          min(col("stale_s")).as("min_stale_s"),
          max(col("stale_s")).as("max_stale_s"))
        .withColumn("n_total", sum(col("n_labels")).over(wAll))
        .withColumn("share_bp", idiv(col("n_labels") * 10000, col("n_total")))
        .select(col("band"), col("n_labels"), col("min_stale_s"),
          col("max_stale_s"), col("share_bp"))
        .orderBy(col("band"))
    })
  )

  val oracle: Map[String, String] = Map(

    "etl_zonemap_prune" ->
      """WITH z AS (
        |  SELECT l_orderkey // 512 AS blk, count(*) AS nr,
        |    min(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) AS sd_min,
        |    max(CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) AS sd_max,
        |    min(CAST(l_quantity AS BIGINT)) AS q_min,
        |    max(CAST(l_quantity AS BIGINT)) AS q_max
        |  FROM lineitem GROUP BY 1),
        |p AS (
        |  SELECT blk, nr, 'ship_ge_1998' AS pred,
        |    sd_max < 10227 AS skip FROM z
        |  UNION ALL SELECT blk, nr, 'ship_lt_1996', sd_min >= 9496 FROM z
        |  UNION ALL SELECT blk, nr, 'qty_ge_45', q_max < 45 FROM z
        |  UNION ALL SELECT blk, nr, 'qty_lt_5', q_min >= 5 FROM z)
        |SELECT pred, count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        |  CAST(sum(nr) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN skip THEN nr ELSE 0 END) AS BIGINT)
        |    AS rows_skipped,
        |  CAST(sum(CASE WHEN skip THEN nr ELSE 0 END) * 10000
        |    // sum(nr) AS BIGINT) AS skip_bp
        |FROM p GROUP BY pred ORDER BY pred""".stripMargin,

    "etl_feature_staleness" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |lab AS (SELECT user_id, event_id AS label_id, es AS lt FROM ev
        |        WHERE event_type = 'purchase'),
        |ft AS (SELECT user_id, es AS ft FROM ev WHERE event_type = 'click'),
        |j AS (
        |  SELECT l.label_id, l.lt,
        |    max(CASE WHEN f.ft <= l.lt THEN f.ft END) AS pit_ft
        |  FROM lab l LEFT JOIN ft f ON f.user_id = l.user_id
        |  GROUP BY l.label_id, l.lt),
        |st AS (
        |  SELECT lt - pit_ft AS stale_s,
        |    CASE WHEN pit_ft IS NULL THEN '4_missing'
        |         WHEN lt - pit_ft <= 60 THEN '0_1m'
        |         WHEN lt - pit_ft <= 3600 THEN '1_1h'
        |         WHEN lt - pit_ft <= 86400 THEN '2_1d'
        |         ELSE '3_older' END AS band
        |  FROM j),
        |tot AS (SELECT count(*) AS n_total FROM st)
        |SELECT band, count(*) AS n_labels,
        |  min(stale_s) AS min_stale_s, max(stale_s) AS max_stale_s,
        |  CAST(count(*) * 10000 // n_total AS BIGINT) AS share_bp
        |FROM st CROSS JOIN tot
        |GROUP BY band, n_total ORDER BY band""".stripMargin
  )
}
