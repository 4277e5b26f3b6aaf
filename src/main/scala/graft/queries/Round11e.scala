package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}
import graft.sources.Tables

/** Round-11 batch 6: sketch set algebra (Theta/KMV union + intersection
  * between two overlapping user populations), the LSH candidate-quality
  * audit (precision/recall vs the exact-Jaccard truth pipeline), and the
  * IVF-PQ end-to-end recall audit — the three numbers a production
  * deployment of the dedup / ANN / sketch stacks watches.
  */
object Round11e extends Module {

  /** 32-bit md5-prefix hash — the q_kmv_distinct convention. */
  private def h32(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  val queries: Map[String, Q] = Map(

    // Theta/KMV sketch set algebra over two OVERLAPPING populations
    // (purchase users vs click users): per set the k = 64 smallest (64 saturates on the sf0.01 fixture, so the driver gate exercises the REAL estimator branch, not the exact fallback)
    // 32-bit hashes; θ = min of the two kth hashes (2³² when a set is
    // unsaturated, so the sketch degenerates to the exact set and the
    // estimators return exact counts); intersection estimate =
    // |matching retained hashes < θ| · 2³² div θ, union estimate from
    // the k smallest of the union. The whole point of Theta sketches at
    // 100 TB: set ops on 64-row summaries, never on the key sets —
    // the exact counts ride along as the audit.
    "q_kmv_set_ops" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
      // ONE events scan builds the (user, in-purchase, in-click) rollup
      // that feeds both sketches AND the exact audit (r18: was one scan
      // + checkpoint per population, 5 checkpoints, 6 scalar broadcast
      // aggregates — 27 jobs)
      val ub0 = ev.where(col("event_type").isin("purchase", "click"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
               .as("pa"),
             max(when(col("event_type") === "click", 1).otherwise(0))
               .as("pb"))
        .localCheckpoint(true)
      // distinct hash VALUES (the KMV convention — q_kmv_distinct):
      // unique values make the LIMIT cut tie-free, hence engine-stable
      def sketch(flag: String) = ub0.where(col(flag) === 1)
        .select(h32(col("user_id")).as("h")).distinct()
        .orderBy(col("h")).limit(64)
      val M = 4294967296L // 2^32
      def eff(k: org.apache.spark.sql.Column, th: org.apache.spark.sql.Column) =
        when(k < 64, lit(M)).otherwise(th)
      // all seven sketch scalars from ONE aggregate over the ≤128-row
      // tagged hash union: per-side count/max, the 64-smallest-of-union
      // cut via a row_number spine, and the retained-hash match count
      val ab = sketch("pa").select(col("h"), lit(1).as("ia"), lit(0).as("ib"))
        .unionAll(sketch("pb").select(col("h"), lit(0).as("ia"),
          lit(1).as("ib")))
      val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("h"))
      val sk = ab.groupBy(col("h"))
        .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
        .withColumn("rn", row_number().over(wAll))
        .agg(sum(col("ia")).cast("long").as("ka"),
             max(when(col("ia") === 1, col("h"))).as("tha"),
             sum(col("ib")).cast("long").as("kb"),
             max(when(col("ib") === 1, col("h"))).as("thb"),
             sum(when(col("rn") <= 64, 1L).otherwise(0L)).as("ku"),
             max(when(col("rn") <= 64, col("h"))).as("thu"),
             sum(when(col("ia") === 1 && col("ib") === 1, 1L)
               .otherwise(0L)).as("n_match"))
      // exact intersection + union in ONE aggregate over the user rollup
      val exact = ub0.agg(
        sum((col("pa") * col("pb")).cast("long")).as("exact_inter"),
        count(lit(1)).as("exact_union"))
      sk.crossJoin(broadcast(exact))
        .withColumn("theta",
          least(eff(col("ka"), col("tha")), eff(col("kb"), col("thb"))))
        // matching retained hashes below θ — n_match already counts only
        // retained ones; those ≥ θ can't match (both sketches keep
        // hashes ≤ their own kth, and θ is the smaller kth)
        .withColumn("est_inter",
          when(col("n_match") === 0, lit(0L))
            .otherwise(idiv(col("n_match") * lit(M), col("theta"))))
        .withColumn("est_union",
          when(col("ku") < 64, col("exact_union"))
            .otherwise(idiv(lit(63L) * lit(M), col("thu"))))
        .select(col("ka"), col("kb"), col("theta"), col("n_match"),
          col("est_inter"), col("exact_inter"), col("est_union"),
          col("exact_union"),
          idiv(col("est_inter") * 10000,
            greatest(col("est_union"), lit(1L))).as("jaccard_est_bp"),
          idiv(col("exact_inter") * 10000,
            col("exact_union")).as("jaccard_exact_bp"))
    }),

    // LSH candidate-quality audit: precision/recall of the minhash-band
    // candidate pairs against the exact-Jaccard (t = 0.5, df-capped)
    // truth pipeline — the eval that says whether 8 seeds × 4-row bands
    // is the right operating point BEFORE a 100 TB run commits to it.
    // FP = candidates the verifier will discard (expected — LSH is a
    // candidate generator); FN = true pairs the banding missed. Both
    // sides are the SHARED kernels (lshCandidatePairs / sharedPairs05),
    // so the audit measures the deployed pipelines, not replicas.
    "dedup_pr_audit" -> ((s, dir) => {
      // the shared pair frame is already materialized + distinct by
      // construction (first-matching-band emission); consumers reference
      // its pinned blocks directly — no per-entry re-checkpoint
      val cand = LshShared.pairs84(s, dir).select(col("a"), col("b"))
      val truth = TextDedup.sharedPairs05(s, dir).select(col("a"), col("b"))
      val tp = cand.join(truth, Seq("a", "b"), "left_semi")
        .agg(count(lit(1)).as("tp"))
      cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .crossJoin(broadcast(tp))
        .select(col("n_cand"), col("n_truth"), col("tp"),
          (col("n_cand") - col("tp")).as("fp"),
          (col("n_truth") - col("tp")).as("fn"),
          idiv(col("tp") * 10000, greatest(col("n_cand"), lit(1L)))
            .as("precision_bp"),
          idiv(col("tp") * 10000, greatest(col("n_truth"), lit(1L)))
            .as("recall_bp"))
    }),

    // IVF-PQ end-to-end recall, DECOMPOSED: the composed ANN path vs
    // (a) the global exact-L2 top-10 — total loss — and (b) the exact
    // top-10 WITHIN the query's cell — isolating what the 4-code PQ
    // quantization costs once the cell pruning has already paid. The
    // two numbers tell an operator whether to spend on more probes
    // (pruning-dominated) or more codes (quantization-dominated).
    // Both sides are the registered kernels (same ivfAssign the search
    // uses); every audit join is ≤10×10.
    "sim_ivfpq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the (id, cell) assignment is shared between the IVF-PQ search
      // under audit and the in-cell exact twin — one coarse quantizer pass
      val ass = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
        .select(col("vec_id"), col("cell")).localCheckpoint(true)
      val ann = Similarity.ivfPqSearchWith(emb, "vec_id", "embedding",
          0L, 10, 8, 64, 4, PqShared.seeds(s, dir), PqShared.codes(s, dir),
          Some(ass)).select(col("vec_id"))
        .localCheckpoint(true)
      // each exact top-10 is computed once and checkpointed (10 rows):
      // the final audit plan joins three tiny attribute frames, paying
      // zero further corpus scans
      val exact = Similarity.l2TopK(emb, "vec_id", "embedding", 0L, 10)
        .select(col("vec_id")).localCheckpoint(true)
      val qcell = ass.where(col("vec_id") === 0L).select(col("cell"))
      val inCell = emb.join(
        ass.join(broadcast(qcell), Seq("cell"), "left_semi")
          .select(col("vec_id")), Seq("vec_id"), "left_semi")
      val exactCell = Similarity.l2TopK(inCell, "vec_id", "embedding", 0L, 10)
        .select(col("vec_id")).localCheckpoint(true)
      ann.join(exact, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(ann.join(exactCell, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits_cell"))))
        .crossJoin(broadcast(ann.agg(count(lit(1)).as("n_ann"))))
        .select(col("n_ann"), col("n_hits"),
          (col("n_hits") * 1000).as("recall_bp"),
          col("n_hits_cell"), (col("n_hits_cell") * 1000).as("cell_recall_bp"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_kmv_set_ops" ->
      """WITH ua AS (SELECT DISTINCT user_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type = 'purchase'),
        |ub AS (SELECT DISTINCT user_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type = 'click'),
        |ha AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id
        |    AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM ua ORDER BY h LIMIT 64),
        |hb AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id
        |    AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM ub ORDER BY h LIMIT 64),
        |hu AS (SELECT DISTINCT h FROM (SELECT h FROM ha
        |       UNION ALL SELECT h FROM hb) z ORDER BY h LIMIT 64),
        |sa AS (SELECT count(*) AS ka, max(h) AS tha FROM ha),
        |sb AS (SELECT count(*) AS kb, max(h) AS thb FROM hb),
        |su AS (SELECT count(*) AS ku, max(h) AS thu FROM hu),
        |mm AS (SELECT count(*) AS n_match FROM ha JOIN hb USING (h)),
        |xi AS (SELECT count(*) AS exact_inter FROM ua
        |       WHERE user_id IN (SELECT user_id FROM ub)),
        |xu AS (SELECT count(*) AS exact_union FROM (
        |       SELECT user_id FROM ua UNION SELECT user_id FROM ub) z),
        |c AS (SELECT ka, kb, ku, n_match, exact_inter, exact_union,
        |    least(CASE WHEN ka < 64 THEN 4294967296 ELSE tha END,
        |          CASE WHEN kb < 64 THEN 4294967296 ELSE thb END) AS theta,
        |    CASE WHEN ku < 64 THEN exact_union
        |         ELSE 63 * 4294967296 // thu END AS est_union
        |  FROM sa, sb, su, mm, xi, xu),
        |e AS (SELECT *, CASE WHEN n_match = 0 THEN 0
        |    ELSE n_match * 4294967296 // theta END AS est_inter FROM c)
        |SELECT ka, kb, theta, n_match,
        |  CAST(est_inter AS BIGINT) AS est_inter, exact_inter,
        |  CAST(est_union AS BIGINT) AS est_union, exact_union,
        |  CAST(est_inter * 10000 // greatest(est_union, 1) AS BIGINT)
        |    AS jaccard_est_bp,
        |  CAST(exact_inter * 10000 // exact_union AS BIGINT)
        |    AS jaccard_exact_bp
        |FROM e""".stripMargin,

    "dedup_pr_audit" ->
      s"""WITH ${Round10b.pairsCte},
         |ltok AS (
         |  SELECT doc_id AS doc, unnest(list_distinct($toksSql)) AS tok
         |  FROM documents),
         |sigs AS (
         |  SELECT doc, s.range AS seed,
         |    min(md5(CAST(s.range AS VARCHAR) || ':' || tok)) AS mh
         |  FROM ltok CROSS JOIN range(8) s GROUP BY doc, s.range),
         |bands AS (
         |  SELECT doc, CAST(seed // 4 AS INTEGER) AS band,
         |    string_agg(mh, ',' ORDER BY seed) AS bandkey
         |  FROM sigs GROUP BY doc, CAST(seed // 4 AS INTEGER)),
         |occ AS (SELECT band, bandkey, count(*) AS m
         |        FROM bands GROUP BY band, bandkey),
         |keep AS (
         |  SELECT b.doc, b.band, b.bandkey FROM bands b
         |  JOIN occ USING (band, bandkey) WHERE occ.m <= 50),
         |cand AS (
         |  SELECT DISTINCT l.doc AS a, r.doc AS b
         |  FROM keep l JOIN keep r ON l.band = r.band AND l.bandkey = r.bandkey
         |  WHERE l.doc < r.doc),
         |c AS (SELECT count(*) AS n_cand FROM cand),
         |t2 AS (SELECT count(*) AS n_truth FROM pairs),
         |h AS (SELECT count(*) AS tp FROM cand JOIN pairs USING (a, b))
         |SELECT n_cand, n_truth, tp,
         |  n_cand - tp AS fp, n_truth - tp AS fn,
         |  CAST(tp * 10000 // greatest(n_cand, 1) AS BIGINT) AS precision_bp,
         |  CAST(tp * 10000 // greatest(n_truth, 1) AS BIGINT) AS recall_bp
         |FROM c, t2, h""".stripMargin,

    "sim_ivfpq_recall" ->
      s"""WITH ${SimMm.milliNormCte},
         |${SimMm.ivfCte},
         |${SimMm.pqCte},
         |cells AS (SELECT vec_id, seed_id AS cell FROM ass WHERE rn = 1),
         |qcell AS (SELECT cell FROM cells WHERE vec_id = 0),
         |qv AS (SELECT d, xq AS qx FROM comp WHERE vec_id = 0),
         |lut AS (
         |  SELECT w.code, CAST(w.d // 16 AS INTEGER) AS sub,
         |    CAST(sum((q.qx - w.cq) * (q.qx - w.cq)) AS BIGINT) AS qd
         |  FROM cw w JOIN qv q ON q.d = w.d
         |  GROUP BY w.code, CAST(w.d // 16 AS INTEGER)),
         |adc AS (
         |  SELECT e.vid, CAST(sum(l.qd) AS BIGINT) AS adist
         |  FROM enc e JOIN lut l ON e.code = l.code AND e.sub = l.sub
         |  JOIN cells c ON c.vec_id = e.vid
         |  JOIN qcell ON c.cell = qcell.cell
         |  WHERE e.rn = 1 AND e.vid <> 0 GROUP BY e.vid),
         |ann AS (SELECT vid FROM (SELECT vid, row_number() OVER (
         |    ORDER BY adist, vid) AS rn FROM adc) z WHERE rn <= 10),
         |lq AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |l2 AS (SELECT vec_id,
         |    CAST(miln.nsq + lq.qnsq - 2 * ${SimMm.dotmSql("mq", "qmq")}
         |      AS BIGINT) AS l2m_sq
         |  FROM miln, lq WHERE vec_id <> 0),
         |ex AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (
         |    ORDER BY l2m_sq, vec_id) AS rn FROM l2) z WHERE rn <= 10),
         |l2c AS (SELECT l2.vec_id, l2.l2m_sq FROM l2
         |  JOIN cells c ON c.vec_id = l2.vec_id
         |  JOIN qcell ON c.cell = qcell.cell),
         |exc AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (
         |    ORDER BY l2m_sq, vec_id) AS rn FROM l2c) z WHERE rn <= 10),
         |agg AS (SELECT
         |  (SELECT count(*) FROM ann) AS n_ann,
         |  (SELECT count(*) FROM ann WHERE vid IN (SELECT vec_id FROM ex))
         |    AS n_hits,
         |  (SELECT count(*) FROM ann WHERE vid IN (SELECT vec_id FROM exc))
         |    AS n_hits_cell)
         |SELECT n_ann, n_hits, n_hits * 1000 AS recall_bp,
         |  n_hits_cell, n_hits_cell * 1000 AS cell_recall_bp
         |FROM agg""".stripMargin
  )
}
