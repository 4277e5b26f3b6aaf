package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Round-11 batch 18: index-tuning and finance-DQ — the IVF probe-sweep
  * recall curve (the nprobe dial every IVF deployment tunes), greedy
  * search over the mutual-kNN graph (the navigable-graph primitive
  * behind HNSW-style indexes, traced hop by hop), and the same-day
  * duplicate-order audit (the AP double-payment check).
  */
object Round11q extends Module {

  val queries: Map[String, Q] = Map(

    // IVF probe-sweep recall curve: recall@10 vs the exact cosine top-10
    // for nprobe ∈ {1, 2, 4, 8} over the 8-cell coarse quantizer — the
    // latency/recall dial an IVF deployment tunes (each probe adds one
    // cell's candidates; nprobe = 8 scans every cell, so its recall is
    // 10000 BY CONSTRUCTION — pinned in the spec as the curve's anchor).
    // One checkpointed exact reference; each sweep point is the
    // registered multiprobe kernel.
    "sim_ivf_probe_curve" -> ((s, dir) =>
      // ONE ranked-cells pass serves the exact reference and all four
      // sweep points (was topKBrute + 4 multiprobe searches = five
      // corpus passes) — see Similarity.ivfProbeCurveFixed
      Similarity.ivfProbeCurveFixed(Tables.embeddings(s, dir),
        "vec_id", "embedding", 0L, 10, 8, Seq(1, 2, 4, 8))),

    // Greedy navigable-graph search — the HNSW-style primitive, traced:
    // walk the mutual top-3 kNN graph from the lowest node toward the
    // query (vec 0), each hop moving to the neighbor with the best
    // exact cosine to the query (tie → lowest id), stopping early only
    // by hop budget (3). Emits the hop trace with each node's query
    // cosine — monotone improvement on the fixture is the navigability
    // evidence. Node scores computed in ONE scan and checkpointed; each
    // hop is a 1-row broadcast against the edge list.
    "sim_graph_search" -> ((s, dir) => {
      val edges = SimMm.mutualKnnEdges(s, dir)
      val und = edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
      val e = SimShared.miln(s, dir)
      val q = e.where(col("vec_id") === 0L)
        .select(col("mq").as("qmq"), col("nsq").as("qnsq"))
      val score = e.crossJoin(broadcast(q))
        .select(col("vec_id").as("node"),
          Similarity.cosBp(Similarity.dotMilli(col("mq"), col("qmq")),
            col("nsq"), col("qnsq")).as("qcos"))
        .localCheckpoint(true)
      // The hop chain stays LAZY (r18): each hop is a 1-row TakeOrdered
      // over broadcast joins of the two checkpointed frames, so the
      // whole trace materializes in ONE action instead of an eager
      // checkpoint + job per hop (24 → ~12 Spark jobs for a 4-row
      // output). Earlier hops re-evaluate inside later hops' lineage
      // (hop1 ×3, hop2 ×2) — each re-evaluation is a broadcast probe of
      // pinned blocks, bounded by the hop budget, never a corpus pass.
      val start = und.agg(min(col("src")).as("node"))
        .join(score, Seq("node"))
        .select(lit(0L).as("hop"), col("node"), col("qcos"))
      var cur = start
      val trace = Seq.newBuilder[DataFrame]
      trace += start
      for (h <- 1 to 3) {
        cur = und
          .join(broadcast(cur.select(col("node").as("src"))), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(score, Seq("node"))
          .orderBy(col("qcos").desc, col("node")).limit(1)
          .select(lit(h.toLong).as("hop"), col("node"), col("qcos"))
        trace += cur
      }
      trace.result().reduce(_ unionByName _).orderBy(col("hop"))
    }),

    // Same-day duplicate-order audit — the AP double-payment check: per
    // (customer, day) with ≥2 orders, the order count, exact cents
    // total/min/max, and the tight-amount flag ((max−min)·100 ≤ max:
    // the whole group within ~1% — the suspicious-near-duplicate
    // signature when n = 2, the common case). One rollup; output is
    // only the multi-order groups.
    "etl_double_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderkey"))
        .groupBy(col("o_custkey"), col("day"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents_total"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
          min(col("o_orderkey")).as("min_order"))
        .where(col("n_orders") >= 2)
        .select(col("o_custkey"), iso(col("day")).as("day"), col("n_orders"),
          col("cents_total"), col("min_cents"), col("max_cents"),
          col("min_order"),
          ((col("max_cents") - col("min_cents")) * 100 <= col("max_cents"))
            .cast("long").as("tight_amounts"))
        .orderBy(col("o_custkey"), col("day"))
    })
  )

  val oracle: Map[String, String] = Map(

    "sim_ivf_probe_curve" -> {
      def pt(np: Int) =
        s"""q$np AS (SELECT a.cell, m.mq AS qmq, m.nsq AS qnsq
           |  FROM ass a JOIN miln m USING (vec_id)
           |  WHERE a.vec_id = 0 AND a.rn <= $np),
           |a$np AS (SELECT vec_id FROM (
           |    SELECT m.vec_id,
           |      ${SimMm.cosBpSql(SimMm.dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
           |    FROM miln m JOIN cells c USING (vec_id)
           |    JOIN q$np q ON c.cell = q.cell
           |    WHERE m.vec_id <> 0)
           |  ORDER BY cos_bp DESC, vec_id LIMIT 10),
           |r$np AS (SELECT $np AS nprobe,
           |  (SELECT count(*) FROM ex) AS k_exact,
           |  (SELECT count(*) FROM a$np) AS n_ann,
           |  (SELECT count(*) FROM ex JOIN a$np USING (vec_id)) AS hits)""".stripMargin
      s"""WITH ${SimMm.milliNormCte},
         |${SimMm.ivfCte},
         |cells AS (SELECT vec_id, seed_id AS cell FROM ass WHERE rn = 1),
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM (
         |    SELECT m.vec_id,
         |      ${SimMm.cosBpSql(SimMm.dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |    FROM miln m, qv q WHERE m.vec_id <> 0)
         |  ORDER BY cos_bp DESC, vec_id LIMIT 10),
         |${Seq(1, 2, 4, 8).map(pt).mkString(",\n")},
         |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |      UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r8)
         |SELECT CAST(nprobe AS BIGINT) AS nprobe,
         |  CAST(k_exact AS BIGINT) AS k_exact, CAST(n_ann AS BIGINT) AS n_ann,
         |  CAST(hits AS BIGINT) AS hits,
         |  CASE WHEN k_exact = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(hits * 10000 // k_exact AS BIGINT) END AS recall_bp
         |FROM u ORDER BY nprobe""".stripMargin
    },

    "sim_graph_search" -> {
      def hop(h: Int) =
        s"""h$h AS (SELECT $h AS hop, node, qcos FROM (
           |    SELECT sc.node, sc.qcos FROM und u
           |    JOIN h${h - 1} p ON u.src = p.node
           |    JOIN score sc ON sc.node = u.dst
           |    GROUP BY sc.node, sc.qcos)
           |  ORDER BY qcos DESC, node LIMIT 1)""".stripMargin
      s"""WITH ${SimMm.milliNormCte},
         |${SimMm.knnPairsCte},
         |mut AS (SELECT src, dst FROM pairs WHERE n = 2),
         |und AS (SELECT src, dst FROM mut
         |        UNION ALL SELECT dst, src FROM mut),
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |score AS (
         |  SELECT m.vec_id AS node,
         |    ${SimMm.cosBpSql(SimMm.dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS qcos
         |  FROM miln m, qv q),
         |h0 AS (SELECT CAST(0 AS BIGINT) AS hop, s.node, s.qcos
         |       FROM (SELECT min(src) AS node FROM und) z
         |       JOIN score s ON s.node = z.node),
         |${Seq(1, 2, 3).map(hop).mkString(",\n")}
         |SELECT CAST(hop AS BIGINT) AS hop, node, CAST(qcos AS BIGINT) AS qcos
         |FROM (SELECT * FROM h0 UNION ALL SELECT * FROM h1
         |      UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
         |ORDER BY hop""".stripMargin
    },

    "etl_double_orders" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey, day, count(*) AS n_orders,
        |    CAST(sum(cents) AS BIGINT) AS cents_total,
        |    min(cents) AS min_cents, max(cents) AS max_cents,
        |    min(o_orderkey) AS min_order
        |  FROM o GROUP BY o_custkey, day HAVING count(*) >= 2)
        |SELECT o_custkey, strftime(day, '%Y-%m-%d') AS day, n_orders,
        |  cents_total, min_cents, max_cents, min_order,
        |  CAST(CASE WHEN (max_cents - min_cents) * 100 <= max_cents
        |       THEN 1 ELSE 0 END AS BIGINT) AS tight_amounts
        |FROM g ORDER BY o_custkey, day""".stripMargin
  )
}
