package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-11 batch 17: trust gates — the A/B sample-ratio-mismatch check
  * (the health gate every experiment readout must pass first), Jaccard
  * link prediction (completing the common-neighbors / resource-allocation
  * similarity triple), and the order-totals reconciliation audit (does
  * the header agree with its lines — the classic cross-table DQ gate).
  */
object Round11p extends Module {

  val queries: Map[String, Q] = Map(

    // Sample-ratio mismatch — the gate that invalidates an experiment
    // before any lift is read: users split by the parity convention
    // (events_ab_lift's arms) should land 50/50; emit both arm counts,
    // the signed delta, the exact chi-square statistic in milli
    // ((n_a−n_b)²·1000/(n_a+n_b), integer — squared numerator so no
    // truncation-sign hazard) and the verdict against the 3.841
    // critical value. One distinct-user projection, one rollup.
    "events_ab_srm" -> ((s, dir) => {
      Tables.events(s, dir)
        .where(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .select(pmod(col("user_id"), lit(2L)).as("arm"))
        .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
        .select(col("n_a"), col("n_b"),
          (col("n_a") - col("n_b")).as("delta"),
          idiv((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) * 1000,
            col("n_a") + col("n_b")).as("chi2_milli"))
        .withColumn("srm_flag", (col("chi2_milli") > 3841L).cast("long"))
    }),

    // Jaccard link prediction over the capped supplier–part projection —
    // the third of the neighborhood-similarity triple (common neighbors
    // = raw intersection, resource allocation = rarity-weighted, Jaccard
    // = intersection over union): per supplier pair inter·10⁴/(d1+d2−
    // inter), top 20. Same cappedVia-64 bound as the siblings, so pair
    // fan-out stays Σ df² over capped parts at any corpus size.
    "graph_jaccard_linkpred" -> ((s, dir) => {
      // the pair fan-out IS the shared projection-pair frame, and the
      // supplier degrees ARE the shared skDeg rollup — this entry
      // re-derived both per run before round 17
      val sd = GraphShared.skDeg(s, dir)
        .select(col("sk"), col("deg").as("d"))
      val pairs = GraphShared.projPairs(s, dir)
      pairs
        .join(sd.select(col("sk").as("s1"), col("d").as("d1")), Seq("s1"))
        .join(sd.select(col("sk").as("s2"), col("d").as("d2")), Seq("s2"))
        .select(col("s1"), col("s2"), col("inter"), col("d1"), col("d2"),
          idiv(col("inter") * 10000, col("d1") + col("d2") - col("inter"))
            .as("jaccard_bp"))
        .orderBy(col("jaccard_bp").desc, col("s1"), col("s2")).limit(20)
    }),

    // Order-totals reconciliation: per order the header total (cents)
    // vs the sum of its line extended prices, banded by relative
    // mismatch — exact / <1% / <10% / ≥10% / headless lines absent.
    // The cross-table DQ gate a finance pipeline runs nightly; one
    // keyed rollup per table, one join, integer cross-mult banding
    // (|diff|·100 vs cents — no division by a possibly-zero header).
    "etl_order_totals_audit" -> ((s, dir) => {
      val oc = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val lc = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("lsum"))
      oc.join(lc, col("l_orderkey") === col("o_orderkey"), "left")
        .select(col("cents"), coalesce(col("lsum"), lit(0L)).as("lsum"))
        .withColumn("ad", abs(col("lsum") - col("cents")))
        .withColumn("band",
          when(col("lsum") === 0L, "4_no_lines")
            .when(col("ad") === 0L, "0_exact")
            .when(col("ad") * 100 < col("cents"), "1_lt_1pct")
            .when(col("ad") * 10 < col("cents"), "2_lt_10pct")
            .otherwise("3_ge_10pct"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("ad")).as("abs_diff_cents"),
          max(col("ad")).as("max_diff_cents"))
        .orderBy(col("band"))
    })
  )

  val oracle: Map[String, String] = Map(

    "events_ab_srm" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |g AS (SELECT
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b
        |  FROM u)
        |SELECT n_a, n_b, n_a - n_b AS delta,
        |  CAST((n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) AS BIGINT)
        |    AS chi2_milli,
        |  CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b)
        |    > 3841 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        |FROM g""".stripMargin,

    "graph_jaccard_linkpred" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        |pd AS (SELECT pk, count(*) AS pdeg FROM sp GROUP BY pk),
        |spc AS (SELECT sp.sk, sp.pk FROM sp JOIN pd USING (pk)
        |        WHERE pd.pdeg <= 64),
        |sd AS (SELECT sk, count(*) AS d FROM spc GROUP BY sk),
        |pairs AS (
        |  SELECT a.sk AS s1, b.sk AS s2, count(*) AS inter
        |  FROM spc a JOIN spc b ON a.pk = b.pk AND a.sk < b.sk
        |  GROUP BY a.sk, b.sk)
        |SELECT p.s1, p.s2, CAST(p.inter AS BIGINT) AS inter,
        |  CAST(d1.d AS BIGINT) AS d1, CAST(d2.d AS BIGINT) AS d2,
        |  CAST(p.inter * 10000 // (d1.d + d2.d - p.inter) AS BIGINT)
        |    AS jaccard_bp
        |FROM pairs p
        |JOIN sd d1 ON d1.sk = p.s1
        |JOIN sd d2 ON d2.sk = p.s2
        |ORDER BY jaccard_bp DESC, p.s1, p.s2 LIMIT 20""".stripMargin,

    "etl_order_totals_audit" ->
      """WITH oc AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS cents FROM orders),
        |lc AS (SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS lsum
        |  FROM lineitem GROUP BY l_orderkey),
        |j AS (SELECT cents, coalesce(lsum, 0) AS lsum,
        |        abs(coalesce(lsum, 0) - cents) AS ad
        |      FROM oc LEFT JOIN lc ON lc.l_orderkey = oc.o_orderkey),
        |b AS (SELECT ad,
        |    CASE WHEN lsum = 0 THEN '4_no_lines'
        |         WHEN ad = 0 THEN '0_exact'
        |         WHEN ad * 100 < cents THEN '1_lt_1pct'
        |         WHEN ad * 10 < cents THEN '2_lt_10pct'
        |         ELSE '3_ge_10pct' END AS band
        |  FROM j)
        |SELECT band, count(*) AS n_orders,
        |  CAST(sum(ad) AS BIGINT) AS abs_diff_cents,
        |  CAST(max(ad) AS BIGINT) AS max_diff_cents
        |FROM b GROUP BY band ORDER BY band""".stripMargin
  )
}
