package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Round-11 batch 12: estimation-quality audits — the
  * Johnson–Lindenstrauss random-projection distortion histogram (does an
  * 8-dim sign sketch preserve pairwise distances well enough to route
  * candidates?) and the textbook join-cardinality estimate vs the exact
  * join size (the CBO statistics readout that decides plans at 100 TB).
  */
object Round11k extends Module {

  /** ±1 sign for (projection row j, dim d) from the first md5 hex digit
    * of "rp{j}_{d}" — digit ≥ 8 → +1 (the planeWeight derivation with a
    * two-way split). Plan-time constants: the projection is a pure
    * per-row expression fused into the scan, no explode, no shuffle. */
  private def rpSign(j: Int, d: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp${j}_${d}".getBytes("UTF-8"))
    if ((((h(0) >> 4) & 0xf)) >= 8) 1L else -1L
  }

  val queries: Map[String, Q] = Map(

    // JL distortion histogram: project the 64-dim milli vectors onto 8
    // deterministic ±1 sign rows (E[d²_proj] = 8·d²_orig), then for every
    // within-label pair the ratio d²_proj·10⁴/(8·d²_orig) — bucketed at
    // 0.25× width, clamped to 31 bins. Mass near bucket 4 (ratio ≈ 1)
    // means an 8-long integer sketch can pre-route candidate pairs at
    // 1/8th the dot-product cost; the tails are the JL failure rate at
    // k = 8. Label-blocked pair join (the sim_cos_hist bound); the
    // projection rides the scan as 8 codegen'd dot products.
    "sim_rand_proj" -> ((s, dir) => {
      import graft.functions.LongVectorFunctions.vecDotLong
      val signs = (0 until 8).map(j => (0 until 64).map(d => rpSign(j, d)))
      val m = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"),
          Similarity.milliQuant(col("embedding")).as("mq"))
        .withColumn("nsq", Similarity.normSqMilli(col("mq")))
        .withColumn("pvec", array(
          signs.map(sv => vecDotLong(col("mq"), typedLit(sv))): _*))
      val a = m.select(col("label"), col("vec_id").as("a"),
        col("mq").as("qa"), col("nsq").as("na"), col("pvec").as("pa"))
      val b = m.select(col("label"), col("vec_id").as("b"),
        col("mq").as("qb"), col("nsq").as("nb"), col("pvec").as("pb"))
      a.join(b, Seq("label")).where(col("a") < col("b"))
        .withColumn("d2o",
          col("na") + col("nb") - lit(2L) * vecDotLong(col("qa"), col("qb")))
        .where(col("d2o") > 0L)
        .withColumn("d2p", expr(
          "aggregate(zip_with(pa, pb, (x, y) -> x - y), 0L, " +
            "(acc, v) -> acc + v * v)"))
        .withColumn("ratio_bp", idiv(col("d2p") * 10000, col("d2o") * 8))
        .withColumn("bucket", least(idiv(col("ratio_bp"), lit(2500L)),
          lit(30L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"), min(col("ratio_bp")).as("lo_bp"),
          max(col("ratio_bp")).as("hi_bp"))
        .orderBy(col("bucket"))
    }),

    // Join-cardinality estimation audit — the CBO readout: the exact
    // size of clicks ⋈ purchases on user_id (Σ_u deg_c(u)·deg_p(u))
    // beside the textbook independence estimate |A|·|B|/max(ndv_a,
    // ndv_b) and its absolute error. The number that decides broadcast vs
    // shuffle vs skew handling at 100 TB — and the audit that says when
    // the uniformity assumption lies (correlated/skewed keys). Two
    // per-user rollups from one scan, one keyed join on the deduped
    // user frames.
    "q_join_card_est" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"))
      val deg = ev.groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "click", 1)).as("dc"),
          count(when(col("event_type") === "purchase", 1)).as("dp"))
      deg.agg(
          sum(col("dc")).as("n_a"), sum(col("dp")).as("n_b"),
          count(when(col("dc") > 0, 1)).as("ndv_a"),
          count(when(col("dp") > 0, 1)).as("ndv_b"),
          sum(col("dc") * col("dp")).as("exact_card"))
        .withColumn("est_card",
          idiv(col("n_a") * col("n_b"), greatest(col("ndv_a"), col("ndv_b"))))
        // |err|: signed error would hit the truncate-vs-floor divide
        // mismatch on negatives; the sign is derivable from est vs exact
        .withColumn("err_abs_bp",
          when(col("exact_card") === 0L, lit(0L))
            .otherwise(idiv(abs(col("est_card") - col("exact_card")) * 10000,
              col("exact_card"))))
    })
  )

  /** SQL twin of [[rpSign]]: first md5 hex digit of "rp{j}_{d}" ≥ 8. */
  private def rpSignSql(j: String, d: String): String =
    s"""(CASE WHEN strpos('0123456789abcdef', substring(
       |  md5('rp' || CAST($j AS VARCHAR) || '_' || CAST($d AS VARCHAR)),
       |  1, 1)) - 8 > 0 THEN 1 ELSE -1 END)""".stripMargin

  val oracle: Map[String, String] = Map(

    "sim_rand_proj" ->
      s"""WITH ${SimMm.milliNormCte},
         |pr AS (
         |  SELECT vec_id, CAST(j.range AS INTEGER) AS j,
         |    CAST(sum(${rpSignSql("j.range", "d.range")}
         |      * mq[CAST(d.range AS INTEGER) + 1]) AS BIGINT) AS pj
         |  FROM miln CROSS JOIN range(8) j CROSS JOIN range(64) d
         |  GROUP BY vec_id, j.range),
         |pv AS (SELECT vec_id, list(pj ORDER BY j) AS pvec
         |       FROM pr GROUP BY vec_id),
         |pairs AS (
         |  SELECT a.nsq + b.nsq - 2 * ${SimMm.dotmSql("a.mq", "b.mq")} AS d2o,
         |    CAST(list_sum(list_transform(range(1, 9),
         |      i -> (pa.pvec[CAST(i AS INTEGER)] - pb.pvec[CAST(i AS INTEGER)])
         |         * (pa.pvec[CAST(i AS INTEGER)] - pb.pvec[CAST(i AS INTEGER)])))
         |      AS BIGINT) AS d2p
         |  FROM miln a
         |  JOIN miln b ON a.label = b.label AND a.vec_id < b.vec_id
         |  JOIN pv pa ON pa.vec_id = a.vec_id
         |  JOIN pv pb ON pb.vec_id = b.vec_id),
         |r AS (SELECT d2p * 10000 // (d2o * 8) AS ratio_bp
         |      FROM pairs WHERE d2o > 0)
         |SELECT CAST(least(ratio_bp // 2500, 30) AS BIGINT) AS bucket,
         |  count(*) AS n_pairs,
         |  CAST(min(ratio_bp) AS BIGINT) AS lo_bp,
         |  CAST(max(ratio_bp) AS BIGINT) AS hi_bp
         |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_join_card_est" ->
      """WITH deg AS (
        |  SELECT user_id,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS dc,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS dp
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
        |  GROUP BY user_id),
        |g AS (SELECT
        |  CAST(sum(dc) AS BIGINT) AS n_a, CAST(sum(dp) AS BIGINT) AS n_b,
        |  CAST(count(CASE WHEN dc > 0 THEN 1 END) AS BIGINT) AS ndv_a,
        |  CAST(count(CASE WHEN dp > 0 THEN 1 END) AS BIGINT) AS ndv_b,
        |  CAST(sum(dc * dp) AS BIGINT) AS exact_card FROM deg)
        |SELECT n_a, n_b, ndv_a, ndv_b, exact_card,
        |  CAST(n_a * n_b // greatest(ndv_a, ndv_b) AS BIGINT) AS est_card,
        |  CASE WHEN exact_card = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(abs(n_a * n_b // greatest(ndv_a, ndv_b) - exact_card)
        |         * 10000 // exact_card AS BIGINT) END AS err_abs_bp
        |FROM g""".stripMargin
  )
}
