package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Round-14 batch: consumers of the round's two shared builds — the
  * GraphShared capped projection (link-prediction scores and the
  * overlap census are now one rollup away from the memoized frame) and
  * the SimIvf trained index (retrieval COST planning: what a probe
  * setting will scan before you run it, and where each query's batch
  * request will route) — plus the weekly-growth ops readout and an
  * integer BM25-style ranked search over the df-bounded postings.
  */
object Round14 extends Module {

  val queries: Map[String, Q] = Map(

    // Preferential-attachment link prediction on the shared capped
    // projection: candidate supplier pairs (sharing ≥1 part) scored
    // deg(s1)·deg(s2) — the degree-product baseline every link-pred
    // eval ranks against (Liben-Nowell & Kleinberg). Same capped-64
    // pair bound as the jaccard/adamic-adar siblings; top 20.
    "graph_pref_attachment" -> ((s, dir) => {
      val deg = GraphShared.skDeg(s, dir)
      GraphShared.projPairs(s, dir)
        .join(deg.select(col("sk").as("s1"), col("deg").as("d1")), Seq("s1"))
        .join(deg.select(col("sk").as("s2"), col("deg").as("d2")), Seq("s2"))
        .withColumn("pa_score", col("d1") * col("d2"))
        .select(col("s1"), col("s2"), col("inter"), col("d1"), col("d2"),
          col("pa_score"))
        .orderBy(col("pa_score").desc, col("s1"), col("s2")).limit(20)
    }),

    // Overlap census of the one-mode projection: how many supplier
    // pairs share exactly k parts — the degree-of-duplication readout
    // that prices any pairwise stage before running it (output bounded
    // by the 64-cap: k ≤ 64 distinct values at any corpus size).
    "graph_overlap_hist" -> ((s, dir) =>
      GraphShared.projPairs(s, dir)
        .groupBy(col("inter")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("inter"))),

    // Retrieval-cost plan over the shared trained IVF index: for each
    // nprobe ∈ 1..4 the WORST-CASE candidate row count (the nprobe
    // largest cells — the adversarial query that probes exactly the
    // hottest cells) and its share of the corpus in basis points — the
    // latency budget table a serving tier signs off before picking
    // nprobe. One rollup over the shared assignment + a window over
    // the ≤cells occupancy frame (bounded at 4096 rows by autoCells).
    "sim_ivf_scan_cost" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val occ = SimIvf.sharedAuto(s, dir).assigned
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val nv = occ.agg(sum(col("n")).as("n_vectors"))
      val byOcc = Window.orderBy(col("n").desc, col("cell"))
      occ.withColumn("rk", row_number().over(byOcc))
        .withColumn("cum", sum(col("n")).over(
          byOcc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("rk") <= 4)
        .crossJoin(broadcast(nv))
        .select(col("rk").cast("long").as("nprobe"),
          col("cum").as("worst_cands"),
          idiv(col("cum") * 10000L, col("n_vectors")).as("share_bp"),
          col("n_vectors"))
        .orderBy(col("nprobe"))
    }),

    // Query routing through the shared trained index: for each query in
    // the batch, its 2 probe cells in rank order WITH the candidate
    // rows each will scan (cell occupancy) — the per-request routing
    // table the batch search executes, surfaced as a plan. The probe
    // ranking is the same one-broadcast pass the search uses; the
    // occupancy join is cell-keyed against the ≤cells rollup.
    "sim_query_routing" -> ((s, dir) => {
      val t = SimIvf.sharedAuto(s, dir)
      val qcells = Similarity.lloydRankedArr(
          t.quant.where(col("vid").isin(0L, 1L, 2L)), t.centArr)
        .where(col("rn") <= 2)
        .select(col("vid").as("qid"), col("rn").cast("long").as("probe_rank"),
          col("cell"))
        .localCheckpoint(true) // hides the ≤3-row broadcast-centroid cross
      val occ = t.assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("cand_rows"))
      qcells.join(occ, Seq("cell"))
        .select(col("qid"), col("probe_rank"), col("cell"), col("cand_rows"))
        .orderBy(col("qid"), col("probe_rank"))
    }),

    // Week-over-week growth per event type: the last two whole weeks
    // (week k = days-before-max div 7) counted and the growth in basis
    // points — the ops readout behind every "is this type trending"
    // alert. One scan + a 1-row max-date scalar broadcast (the
    // events_cuped shape); integer day arithmetic.
    "events_wow_growth" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("event_type").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("d"))
      val m = e.agg(max(col("d")).as("md"))
      e.crossJoin(broadcast(m))
        .withColumn("wk", idiv(datediff(col("md"), col("d")).cast("long"),
          lit(7L)))
        .groupBy(col("event_type"))
        .agg(sum(when(col("wk") === 0L, 1L).otherwise(0L)).as("n_last"),
          sum(when(col("wk") === 1L, 1L).otherwise(0L)).as("n_prev"))
        .withColumn("growth_bp",
          when(col("n_prev") > 0L,
            idiv((col("n_last") - col("n_prev")) * 10000L, col("n_prev"))))
        .orderBy(col("event_type"))
    }),

    // Integer BM25-lite ranked search (OR semantics — the ranked twin
    // of text_keyword_search's AND gate): per matched term the classic
    // k=1 saturation tf/(tf+1) in basis points × the log-free rarity
    // weight N div df in milli, summed per doc. Rank-faithful to BM25's
    // shape while every step is exact integer (hash-checkable
    // cross-engine). Postings ∝ matched tokens only (the explode is
    // term-filtered before any shuffle); df and N are ≤3-row / 1-row
    // broadcasts; top-20 is a distributed TakeOrdered.
    "text_bm25_lite" -> ((s, dir) => {
      val terms = Seq("spark", "merge", "window")
      val docs = Tables.documents(s, dir)
      val tf = docs
        .select(col("doc_id"),
          explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
        .where(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true) // feeds df AND the per-doc scores
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("nd"))
      tf.join(broadcast(dfreq), Seq("tok"))
        .crossJoin(broadcast(nd))
        .withColumn("w_milli", idiv(
          idiv(col("nd") * 1000L, col("df")) *
            idiv(col("tf") * 10000L, col("tf") + 1L), lit(10000L)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("w_milli")).as("score_milli"))
        .orderBy(col("score_milli").desc, col("doc_id")).limit(20)
    })
  )

  // --- oracle SQL -------------------------------------------------------

  /** The capped supplier–part projection CTE chain (shared with the
    * jaccard/adamic-adar sibling oracles and Round14b's LHN score). */
  private[queries] val projCtes: String =
    """sp AS (
      |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
      |pd AS (SELECT pk, count(*) AS pdeg FROM sp GROUP BY pk),
      |spc AS (SELECT sp.sk, sp.pk FROM sp JOIN pd USING (pk)
      |        WHERE pd.pdeg <= 64),
      |pairs AS (
      |  SELECT a.sk AS s1, b.sk AS s2, count(*) AS inter
      |  FROM spc a JOIN spc b ON a.pk = b.pk AND a.sk < b.sk
      |  GROUP BY a.sk, b.sk)""".stripMargin

  val oracle: Map[String, String] = Map(

    "graph_pref_attachment" ->
      s"""WITH $projCtes,
         |sd AS (SELECT sk, count(*) AS d FROM spc GROUP BY sk)
         |SELECT p.s1, p.s2, CAST(p.inter AS BIGINT) AS inter,
         |  CAST(d1.d AS BIGINT) AS d1, CAST(d2.d AS BIGINT) AS d2,
         |  CAST(d1.d * d2.d AS BIGINT) AS pa_score
         |FROM pairs p
         |JOIN sd d1 ON d1.sk = p.s1
         |JOIN sd d2 ON d2.sk = p.s2
         |ORDER BY pa_score DESC, p.s1, p.s2 LIMIT 20""".stripMargin,

    "graph_overlap_hist" ->
      s"""WITH $projCtes
         |SELECT CAST(inter AS BIGINT) AS inter, count(*) AS n_pairs
         |FROM pairs GROUP BY 1 ORDER BY inter""".stripMargin,

    "sim_ivf_scan_cost" ->
      s"""WITH ${SimMm.milliNormCte},
         |${Round12.ivfAutoCtes},
         |occ AS (SELECT cell, count(*) AS n FROM af GROUP BY cell),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_vectors FROM occ),
         |r AS (SELECT n,
         |    row_number() OVER (ORDER BY n DESC, cell) AS rk,
         |    sum(n) OVER (ORDER BY n DESC, cell
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM occ)
         |SELECT CAST(rk AS BIGINT) AS nprobe,
         |  CAST(cum AS BIGINT) AS worst_cands,
         |  CAST(cum * 10000 // n_vectors AS BIGINT) AS share_bp,
         |  n_vectors
         |FROM r, tot WHERE rk <= 4 ORDER BY nprobe""".stripMargin,

    "sim_query_routing" ->
      s"""WITH ${SimMm.milliNormCte},
         |${Round12.ivfAutoCtes},
         |occ AS (SELECT cell, count(*) AS cand_rows FROM af GROUP BY cell),
         |qr AS (
         |  SELECT x.vec_id AS qid, x.cell, row_number() OVER (
         |    PARTITION BY x.vec_id
         |    ORDER BY ${SimMm.cosBpSql("x.dxc", "v.dxx", "k.dcc")} DESC,
         |      x.cell) AS qrn
         |  FROM dxc x JOIN dxx v USING (vec_id) JOIN dcc k USING (cell)
         |  WHERE x.vec_id IN (0, 1, 2))
         |SELECT q.qid, CAST(q.qrn AS BIGINT) AS probe_rank, q.cell,
         |  CAST(o.cand_rows AS BIGINT) AS cand_rows
         |FROM qr q JOIN occ o USING (cell)
         |WHERE q.qrn <= 2 ORDER BY q.qid, probe_rank""".stripMargin,

    "events_wow_growth" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT max(d) AS md FROM e),
        |g AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN (md - d) // 7 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_last,
        |    CAST(sum(CASE WHEN (md - d) // 7 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_prev
        |  FROM e, m GROUP BY event_type)
        |SELECT event_type, n_last, n_prev,
        |  CAST(CASE WHEN n_prev > 0
        |    THEN (n_last - n_prev) * 10000 // n_prev END AS BIGINT)
        |    AS growth_bp
        |FROM g ORDER BY event_type""".stripMargin,

    "text_bm25_lite" ->
      s"""WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
        |  WHERE tok IN ('spark', 'merge', 'window')
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |w AS (
        |  SELECT t.doc_id,
        |    ((nd.nd * 1000 // f.df) * (t.tf * 10000 // (t.tf + 1)))
        |      // 10000 AS w_milli
        |  FROM tf t JOIN df f USING (tok) CROSS JOIN nd)
        |SELECT doc_id, count(*) AS n_terms,
        |  CAST(sum(w_milli) AS BIGINT) AS score_milli
        |FROM w GROUP BY doc_id
        |ORDER BY score_milli DESC, doc_id LIMIT 20""".stripMargin
  )
}
