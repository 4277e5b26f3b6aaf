package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-11 batch 24: multi-resolution signal energy and referential
  * impact — the un-normalized Haar decomposition of each type's daily
  * series (which timescale carries the variance: day-to-day noise,
  * weekly structure, or slow drift) and the delete-cascade impact plan
  * (what a customer erasure takes with it downstream).
  */
object Round11w extends Module {

  val queries: Map[String, Q] = Map(

    // Haar energy decomposition (un-normalized integer transform, 3
    // levels) of each type's daily counts on a fixed 32-slot spine
    // (missing days are true zeros): level-k detail = difference of
    // adjacent level-(k−1) sums, energy = Σ detail² — day-pair noise
    // lands in level 1, ~week structure by level 3, and the surviving
    // approximation is the slow trend. The STL-lite sibling that needs
    // no season length guess. All integer; each level is one keyed
    // rollup over ≤32 rows per type.
    "events_haar_energy" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("ts").isNotNull)
      val mn = ev.agg(min(to_date(col("ts"))).as("d0"))
      val daily = ev.crossJoin(broadcast(mn))
        .select(col("event_type"),
          datediff(to_date(col("ts")), col("d0")).cast("long").as("i"))
        .where(col("i") < 32)
        .groupBy(col("event_type"), col("i"))
        .agg(count(lit(1)).as("v"))
        // ≤32 rows per type forever; every level and every energy rollup
        // re-references it, so ONE checkpoint stops the events scan from
        // replaying per branch (8 scans -> 0 in the final plan)
        .localCheckpoint(true)
      def level(prev: DataFrame, l: Int): (DataFrame, DataFrame) = {
        // project the pair index and signed value FIRST so the grouping
        // alias can never shadow the input's `i` inside the aggregates
        val s = prev
          .select(col("event_type"), idiv(col("i"), lit(2L)).as("i2"),
            col("v"),
            when(col("i") % 2 === 0, col("v")).otherwise(-col("v")).as("sv"))
          .groupBy(col("event_type"), col("i2"))
          .agg(sum(col("v")).as("v"), sum(col("sv")).as("det"))
        val energy = s.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_coeffs"),
            sum(col("det") * col("det")).as("energy"))
          .select(col("event_type"), lit(l.toLong).as("level"),
            col("n_coeffs"), col("energy"))
        (s.select(col("event_type"), col("i2").as("i"), col("v")), energy)
      }
      val (l1, e1) = level(daily, 1)
      val (l2, e2) = level(l1, 2)
      val (l3, e3) = level(l2, 3)
      val approx = l3.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_coeffs"),
          sum(col("v") * col("v")).as("energy"))
        .select(col("event_type"), lit(0L).as("level"), col("n_coeffs"),
          col("energy"))
      Seq(e1, e2, e3, approx).reduce(_ unionByName _)
        .orderBy(col("event_type"), col("level"))
    }),

    // Delete-cascade impact plan — the referential blast radius of a
    // customer erasure (c_custkey ≡ 0 mod 97, the deterministic
    // stand-in): per table the rows the cascade removes and their share
    // — the dry-run a DBA reads before running the FK-ordered deletes,
    // beside etl_erasure_audit's per-day event view. Two keyed joins
    // (orders on custkey, lineitem through the doomed orders).
    "etl_cascade_impact" -> ((s, dir) => {
      // each table pays EXACTLY ONE scan in the final plan: the doomed
      // key frames are built once behind eager checkpoints, and each
      // census rides its table's single scan as a left-join conditional
      // count (never a second scan for the total)
      val doomedC = Tables.customer(s, dir)
        .where(col("c_custkey") % 97 === 0)
        .select(col("c_custkey")).localCheckpoint(true)
      val doomedO = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(doomedC, col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey")).localCheckpoint(true)
      val cRow = Tables.customer(s, dir)
        .agg(count(lit(1)).as("n_total"),
          sum((col("c_custkey") % 97 === 0).cast("long")).as("n_deleted"))
        .select(lit("customer").as("table"), col("n_deleted"), col("n_total"))
      val oRow = Tables.orders(s, dir).select(col("o_custkey"))
        .join(broadcast(doomedC), col("o_custkey") === col("c_custkey"),
          "left")
        .agg(count(lit(1)).as("n_total"),
          count(col("c_custkey")).as("n_deleted"))
        .select(lit("orders").as("table"), col("n_deleted"), col("n_total"))
      val lRow = Tables.lineitem(s, dir).select(col("l_orderkey"))
        .join(broadcast(doomedO), col("l_orderkey") === col("o_orderkey"),
          "left")
        .agg(count(lit(1)).as("n_total"),
          count(col("o_orderkey")).as("n_deleted"))
        .select(lit("lineitem").as("table"), col("n_deleted"), col("n_total"))
      cRow.unionByName(oRow).unionByName(lRow)
        .withColumn("share_bp", idiv(col("n_deleted") * 10000, col("n_total")))
        .orderBy(col("table"))
    })
  )

  val oracle: Map[String, String] = Map(

    "events_haar_energy" ->
      """WITH mn AS (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0
        |            FROM events WHERE ts IS NOT NULL),
        |d AS (
        |  SELECT event_type,
        |    CAST(datediff('day', d0, CAST(CAST(ts AS TIMESTAMP) AS DATE))
        |      AS BIGINT) AS i,
        |    count(*) AS v
        |  FROM events, mn WHERE ts IS NOT NULL
        |    AND datediff('day', d0, CAST(CAST(ts AS TIMESTAMP) AS DATE)) < 32
        |  GROUP BY 1, 2),
        |l1 AS (SELECT event_type, i // 2 AS i, CAST(sum(v) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS det
        |  FROM d GROUP BY event_type, i // 2),
        |l2 AS (SELECT event_type, i // 2 AS i, CAST(sum(v) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS det
        |  FROM l1 GROUP BY event_type, i // 2),
        |l3 AS (SELECT event_type, i // 2 AS i, CAST(sum(v) AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS det
        |  FROM l2 GROUP BY event_type, i // 2),
        |u AS (
        |  SELECT event_type, 1 AS level, count(*) AS n_coeffs,
        |    CAST(sum(det * det) AS BIGINT) AS energy FROM l1 GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 2, count(*),
        |    CAST(sum(det * det) AS BIGINT) FROM l2 GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 3, count(*),
        |    CAST(sum(det * det) AS BIGINT) FROM l3 GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 0, count(*),
        |    CAST(sum(v * v) AS BIGINT) FROM l3 GROUP BY 1)
        |SELECT event_type, CAST(level AS BIGINT) AS level,
        |  n_coeffs, energy
        |FROM u ORDER BY event_type, level""".stripMargin,

    "etl_cascade_impact" ->
      """WITH dc AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |do_ AS (SELECT o_orderkey FROM orders
        |        WHERE o_custkey IN (SELECT c_custkey FROM dc)),
        |dl AS (SELECT 1 FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM do_)),
        |u AS (
        |  SELECT 'customer' AS "table", (SELECT count(*) FROM dc)
        |      AS n_deleted,
        |    (SELECT count(*) FROM customer) AS n_total
        |  UNION ALL
        |  SELECT 'lineitem', (SELECT count(*) FROM dl),
        |    (SELECT count(*) FROM lineitem)
        |  UNION ALL
        |  SELECT 'orders', (SELECT count(*) FROM do_),
        |    (SELECT count(*) FROM orders))
        |SELECT "table", CAST(n_deleted AS BIGINT) AS n_deleted,
        |  CAST(n_total AS BIGINT) AS n_total,
        |  CAST(n_deleted * 10000 // n_total AS BIGINT) AS share_bp
        |FROM u ORDER BY "table" """.stripMargin
  )
}
