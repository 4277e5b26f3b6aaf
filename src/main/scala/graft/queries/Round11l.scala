package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-11 batch 13: operational tuning curves — the watermark
  * lateness/completeness tradeoff (what each candidate watermark delay
  * would have dropped, measured on the real arrival order) and the
  * PageRank convergence residuals (L1/L∞ per iteration — run until a
  * threshold, don't guess an iteration count).
  */
object Round11l extends Module {

  val queries: Map[String, Q] = Map(

    // Watermark tradeoff sweep: for candidate delays {0 s, 60 s, 1 h,
    // 1 d}, how many events the watermark would have dropped — lateness
    // measured against the running event-time max in ARRIVAL order
    // (event_id per type, the etl_late_arrivals two-phase running max:
    // per-(type, id-block) max + broadcast prefix + in-block window, no
    // window ever spans a type's whole stream). The curve that picks
    // `withWatermark`'s delay: completeness gained per second of state
    // held. One scan; the sweep explodes per-event 4× only AFTER the
    // lateness rollup is reduced to a bounded (type, late-band) frame —
    // here exact per-delay drop counts need the raw lateness, so the
    // 4-way explode rides the same scan and collapses immediately.
    "etl_watermark_tradeoff" -> ((s, dir) => {
      val e = Tables.events(s, dir).where(col("ts").isNotNull)
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("blk", expr("event_id div 65536"))
      val grp = e.groupBy(col("event_type"), col("blk"))
        .agg(max(col("us")).as("bm"))
      val wB = Window.partitionBy(col("event_type")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = grp.withColumn("pm", max(col("bm")).over(wB))
        .select(col("event_type"), col("blk"), col("pm"))
      val wIn = Window.partitionBy(col("event_type"), col("blk"))
        .orderBy(col("event_id"), col("us"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.join(broadcast(offs), Seq("event_type", "blk"))
        .withColumn("prev", greatest(
          coalesce(col("pm"), lit(Long.MinValue)),
          coalesce(max(col("us")).over(wIn), lit(Long.MinValue))))
        .withColumn("late_s",
          when(col("prev") === Long.MinValue, 0L)
            .otherwise(greatest(idiv(col("prev") - col("us"), lit(1000000L)),
              lit(0L))))
        .select(col("late_s"),
          explode(typedLit(Seq(0L, 60L, 3600L, 86400L))).as("delay_s"))
        .groupBy(col("delay_s"))
        .agg(count(lit(1)).as("n_events"),
          sum((col("late_s") > col("delay_s")).cast("long")).as("n_dropped"),
          max(when(col("late_s") > col("delay_s"), col("late_s")))
            .as("max_dropped_late_s"))
        .withColumn("drop_bp", idiv(col("n_dropped") * 10000, col("n_events")))
        .orderBy(col("delay_s"))
    }),

    // PageRank convergence residuals on the supplier–part graph: per
    // iteration the exact integer L1 and L∞ movement of the rank vector
    // — the evidence behind graph_pagerank's "3 iterations" (residuals
    // must fall monotonically on the fixture; the contraction is the
    // 0.85 damping). Kernel shared verbatim with graph_pagerank; each
    // iteration adds one |V|-sized residual join.
    "graph_pagerank_residual" -> ((s, dir) =>
      // shared degree-annotated edge frame (GraphShared): one build
      // serves the whole pagerank family
      graft.ops.Graph.pagerankResidualsFrom(
          GraphShared.prDeg(s, dir), GraphShared.prEdges(s, dir),
          3, 1000000000L)
        .orderBy(col("iter")))
  )

  val oracle: Map[String, String] = Map(

    "etl_watermark_tradeoff" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |r AS (SELECT event_type, us,
        |  max(us) OVER (PARTITION BY event_type ORDER BY event_id, us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        |  FROM e),
        |b AS (SELECT
        |  CASE WHEN prev IS NULL OR prev <= us THEN 0
        |       ELSE (prev - us) // 1000000 END AS late_s
        |  FROM r),
        |d AS (SELECT late_s, unnest([0, 60, 3600, 86400]) AS delay_s FROM b)
        |SELECT CAST(delay_s AS BIGINT) AS delay_s, count(*) AS n_events,
        |  CAST(sum(CASE WHEN late_s > delay_s THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  CAST(max(CASE WHEN late_s > delay_s THEN late_s END) AS BIGINT)
        |    AS max_dropped_late_s,
        |  CAST(sum(CASE WHEN late_s > delay_s THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS drop_bp
        |FROM d GROUP BY delay_s ORDER BY delay_s""".stripMargin,

    // Chained-CTE replay of the residual trace: p0..p3 exactly as the
    // graph_pagerank oracle, residual i = Σ|p_i − p_{i−1}| joined on the
    // shared (undirected ⇒ identical) node set.
    "graph_pagerank_residual" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 's:' || l_suppkey AS a, 'p:' || l_partkey AS b
        |  FROM lineitem),
        |e AS (SELECT a AS src, b AS dst FROM e0
        |      UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM deg),
        |p0 AS (SELECT src AS node, 1000000000 // n AS pr FROM deg, nn),
        |c1 AS (SELECT e.dst AS node, sum(p.pr // d.od) AS c
        |       FROM e JOIN p0 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |p1 AS (SELECT node, (15 * (1000000000 // nn.n)) // 100 + (85 * c) // 100
        |         AS pr FROM c1, nn),
        |c2 AS (SELECT e.dst AS node, sum(p.pr // d.od) AS c
        |       FROM e JOIN p1 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |p2 AS (SELECT node, (15 * (1000000000 // nn.n)) // 100 + (85 * c) // 100
        |         AS pr FROM c2, nn),
        |c3 AS (SELECT e.dst AS node, sum(p.pr // d.od) AS c
        |       FROM e JOIN p2 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |p3 AS (SELECT node, (15 * (1000000000 // nn.n)) // 100 + (85 * c) // 100
        |         AS pr FROM c3, nn),
        |r1 AS (SELECT 1 AS iter, count(*) AS n_nodes,
        |    sum(abs(a.pr - b.pr)) AS l1, max(abs(a.pr - b.pr)) AS linf
        |  FROM p1 a JOIN p0 b USING (node)),
        |r2 AS (SELECT 2 AS iter, count(*) AS n_nodes,
        |    sum(abs(a.pr - b.pr)) AS l1, max(abs(a.pr - b.pr)) AS linf
        |  FROM p2 a JOIN p1 b USING (node)),
        |r3 AS (SELECT 3 AS iter, count(*) AS n_nodes,
        |    sum(abs(a.pr - b.pr)) AS l1, max(abs(a.pr - b.pr)) AS linf
        |  FROM p3 a JOIN p2 b USING (node)),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |      UNION ALL SELECT * FROM r3)
        |SELECT CAST(iter AS BIGINT) AS iter, CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(l1 AS BIGINT) AS l1_residual, CAST(linf AS BIGINT) AS linf_residual
        |FROM u ORDER BY iter""".stripMargin
  )
}
