package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Multimodal => MM, Similarity}
import graft.sources.Tables

/** Round-13 batch: REAL container-header decode. The image-class slice
  * of the corpus (the mm_format_sniff dispatch rule) carries a genuine
  * BMP file prefix — synthesized in-query because the container ships
  * no media files, but byte-compatible with an actual .bmp, and the
  * decode reads ONLY the bytes: magic 'BM' → int32-LE width/height at
  * their public offsets (18/22); any other magic keeps the stub dims.
  * No codec library anywhere — the parse is codegen'd hex slicing.
  */
object Round13 extends Module {

  // synthesized geometry for image-class docs: derived from n_chars so
  // the oracle reproduces it without any hashing
  private def wSyn = lit(16L) + pmod(col("n_chars"), lit(640L))
  private def hSyn = lit(16L) + pmod(col("n_chars") * 7L, lit(480L))
  private def isImg = substring(col("text"), 1, 1).between("a", "f")

  /** Documents with an opaque BINARY payload: image-class docs hold a
    * real BMP header, the rest an unmagiced digest blob. */
  private def withPayload(docs: org.apache.spark.sql.DataFrame) =
    docs.withColumn("payload",
      unhex(when(isImg, MM.bmpHeaderHex(wSyn, hSyn))
        .otherwise(concat(lit("0000"), md5(col("text"))))))

  /** Magic-driven decode over the payload BYTES (never the synthesis
    * inputs): (w, h, parsed) with the stub as the opaque-format path. */
  private def decoded(docs: org.apache.spark.sql.DataFrame) = {
    val hx = MM.payloadHex(col("payload"))
    val stub = MM.fakeDims("text")
    withPayload(docs)
      .withColumn("w", when(MM.bmpParseable(hx), MM.bmpWidth(hx))
        .otherwise(stub._1.cast("long")))
      .withColumn("h", when(MM.bmpParseable(hx), MM.bmpHeight(hx))
        .otherwise(stub._2.cast("long")))
      .withColumn("parsed", MM.bmpParseable(hx).cast("long"))
  }

  val queries: Map[String, Q] = Map(

    // Resolution bands over PARSED dims: the mm_resolution_bands audit
    // where the image slice's geometry comes out of its real BMP header
    // bytes and opaque formats keep the stub — one scan, the decode is
    // a pure per-row codegen'd expression chain.
    "mm_resolution_bands_bmp" -> ((s, dir) =>
      decoded(Tables.documents(s, dir))
        .withColumn("band", idiv(col("w") * col("h"), lit(8192L)))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("parsed")).as("n_parsed"),
          sum((col("w") > col("h")).cast("long")).as("n_wide"),
          sum((col("w") < col("h")).cast("long")).as("n_tall"),
          min(col("w") * col("h")).as("area_min"),
          max(col("w") * col("h")).as("area_max"))
        .orderBy(col("band"))),

    // Aspect-ratio buckets over the same parsed geometry — the
    // resize-plan table (which target shapes cover the corpus), ratio
    // in integer basis points, landscape/portrait/square classes.
    "mm_ar_buckets_bmp" -> ((s, dir) =>
      decoded(Tables.documents(s, dir))
        .withColumn("ar_bp", idiv(col("w") * lit(10000L), col("h")))
        .withColumn("shape",
          when(col("ar_bp") > 10000L, "landscape")
            .when(col("ar_bp") < 10000L, "portrait")
            .otherwise("square"))
        .groupBy(col("shape"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("parsed")).as("n_parsed"),
          min(col("ar_bp")).as("ar_bp_min"),
          max(col("ar_bp")).as("ar_bp_max"),
          sum(col("w") * col("h")).as("px_total"))
        .orderBy(col("shape"))),

    // Hard-negative mining for contrastive training: per vector, its
    // most-similar CROSS-LABEL neighbor (the pair a trainer most wants
    // in the batch), blocked by the SHARED scale-adaptive IVF cells
    // (SimIvf.sharedAuto, cells ≈ √n) so the cross-label self-join is
    // bounded by Σ cell² = O(n·√n) — a fixed cell count would go
    // quadratic as occupancy grows with the corpus. Kernel =
    // Similarity.hardNegativesFrom.
    "sim_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegativesFrom(SimIvf.sharedAuto(s, dir),
          Tables.embeddings(s, dir)
            .select(col("vec_id").as("vid"), col("label")))
        .orderBy(col("vec_id"))),

    // Container integrity audit over the payload BYTES: class each doc
    // by its magic (complete-header BMP / magic-but-truncated / opaque)
    // and, for parseable BMPs, reconcile the header's CLAIMED file size
    // (int32-LE at byte 2) against the bytes actually stored — the
    // incomplete-download / corrupt-object scanner every ingest runs.
    // The synthesized corpus stores header-only prefixes, so the audit
    // honestly reports every BMP body as missing. Pure per-row hex
    // kernel + one bounded class rollup.
    "mm_bmp_integrity" -> ((s, dir) => {
      val hx = MM.payloadHex(col("payload"))
      withPayload(Tables.documents(s, dir))
        .withColumn("cls",
          when(MM.bmpParseable(hx), "bmp")
            .when(MM.bmpMagic(hx), "bmp_truncated")
            .otherwise("opaque"))
        .withColumn("actual", idiv(length(hx).cast("long"), lit(2L)))
        .withColumn("claimed",
          when(MM.bmpParseable(hx), MM.leU32(hx, 2)))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("claimed") <= col("actual"), 1L).otherwise(0L))
            .as("n_complete"),
          sum(coalesce(greatest(col("claimed") - col("actual"), lit(0L)),
            lit(0L))).as("bytes_missing"),
          sum(col("actual")).as("bytes_stored"))
        .orderBy(col("cls"))
    }),

    // BATCHED multi-query ANN search through the shared scale-adaptive
    // index — the production retrieval shape (one request carries Q
    // queries): all probe cells rank in ONE broadcast pass, candidates
    // are ONE scan of the shared assignment, per-query top-5 via a
    // window bounded by each query's candidate count. Batch cost
    // amortizes the scan across queries instead of paying it per query.
    "sim_ivf_batch_search" -> ((s, dir) =>
      Similarity.ivfAutoSearchBatchFrom(SimIvf.sharedAuto(s, dir),
        "vec_id", Seq(0L, 1L, 2L), 5, 2)),

    // Capacity plan for the asofStream idle-TTL policy (the batch twin
    // of the round-13 streaming flag): with the PIT watermark one hour
    // behind the newest event and a 1-day TTL, classify every user's
    // end-of-stream state — active (pending labels / in-horizon
    // features), dominant_only (compacted single feature row, inside
    // TTL), or evicted — the state-store sizing table. One user-keyed aggregate + a 1-row scalar
    // broadcast (the events_cuped shape); integer-second arithmetic.
    "etl_ttl_eviction_plan" -> ((s, dir) => {
      val ttl = 86400L; val horizon = 3600L
      val ev = Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").as("sec"),
          col("event_type"))
      val wm = ev.agg((max(col("sec")) - horizon).as("wm"))
      ev.crossJoin(broadcast(wm))
        .groupBy(col("user_id"))
        .agg(max(col("wm")).as("wm"), max(col("sec")).as("last_s"),
          sum(when(col("event_type") === "purchase" &&
            col("sec") >= col("wm"), 1L).otherwise(0L)).as("pending"),
          sum(when(col("event_type") === "click" &&
            col("sec") >= col("wm"), 1L).otherwise(0L)).as("tail"))
        .withColumn("st",
          when(col("pending") > 0 || col("tail") > 0, "active")
            .when(col("wm") - col("last_s") >= ttl, "evicted")
            .otherwise("dominant_only"))
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n_users"),
          min(col("last_s")).as("last_s_min"),
          max(col("last_s")).as("last_s_max"))
        .orderBy(col("st"))
    })
  )

  // --- oracle SQL -------------------------------------------------------

  /** DuckDB little-endian hex swap of an lpad'ed 8-char hex column. */
  private def le(x: String): String =
    s"substring($x,7,2)||substring($x,5,2)||substring($x,3,2)||substring($x,1,2)"

  /** DuckDB u32-LE at 0-based byte offset `off` of hex column hx. */
  private def leAt(off: Int): String = {
    val p = 2 * off + 1
    s"CAST(('0x' || (substring(hx,${p + 6},2)||substring(hx,${p + 4},2)||" +
      s"substring(hx,${p + 2},2)||substring(hx,$p,2))) AS BIGINT)"
  }

  /** DuckDB SIGNED i32-LE at byte offset `off` — the BITMAPINFOHEADER
    * geometry twin of [[graft.ops.Multimodal.leI32]] (sign-extend when
    * bit 31 is set; a top-down BMP stores a negative height). */
  private def leIAt(off: Int): String =
    s"CASE WHEN ${leAt(off)} >= 2147483648 THEN ${leAt(off)} - 4294967296" +
      s" ELSE ${leAt(off)} END"

  /** Container synthesis CTEs (documents → p(doc_id, text, hx)). */
  private val synthCtes: String =
    s"""d AS (
       |  SELECT doc_id, text,
       |    CASE WHEN substring(text,1,1) BETWEEN 'a' AND 'f'
       |      THEN 1 ELSE 0 END AS isb,
       |    16 + (n_chars % 640) AS ws,
       |    16 + ((n_chars * 7) % 480) AS hs
       |  FROM documents),
       |hx0 AS (
       |  SELECT doc_id, text, isb,
       |    lpad(lower(to_hex(54 + ws * hs * 3)), 8, '0') AS fa,
       |    lpad(lower(to_hex(54)), 8, '0') AS fb,
       |    lpad(lower(to_hex(40)), 8, '0') AS fc,
       |    lpad(lower(to_hex(ws)), 8, '0') AS fw,
       |    lpad(lower(to_hex(hs)), 8, '0') AS fh
       |  FROM d),
       |p AS (
       |  SELECT doc_id, text,
       |    CASE WHEN isb = 1 THEN '424d' || ${le("fa")} || '00000000' ||
       |      ${le("fb")} || ${le("fc")} || ${le("fw")} || ${le("fh")}
       |    ELSE '0000' || md5(text) END AS hx
       |  FROM hx0)""".stripMargin

  /** The synthesize-then-parse chain (documents → g(w, h, parsed)). */
  private val decodeCtes: String =
    s"""$synthCtes,
       |g AS (
       |  SELECT
       |    CASE WHEN substring(hx,1,4) = '424d' AND length(hx) >= 52 THEN ${leIAt(18)}
       |      ELSE CAST(strpos('0123456789abcdef', substring(md5(text),1,1))
       |        * 16 AS BIGINT) END AS w,
       |    CASE WHEN substring(hx,1,4) = '424d' AND length(hx) >= 52 THEN abs(${leIAt(22)})
       |      ELSE CAST(strpos('0123456789abcdef', substring(md5(text),2,1))
       |        * 16 AS BIGINT) END AS h,
       |    CASE WHEN substring(hx,1,4) = '424d' AND length(hx) >= 52
       |      THEN 1 ELSE 0 END AS parsed
       |  FROM p)""".stripMargin

  val oracle: Map[String, String] = Map(

    "mm_resolution_bands_bmp" ->
      s"""WITH $decodeCtes
         |SELECT CAST(w * h // 8192 AS BIGINT) AS band, count(*) AS n_docs,
         |  CAST(sum(parsed) AS BIGINT) AS n_parsed,
         |  CAST(sum(CASE WHEN w > h THEN 1 ELSE 0 END) AS BIGINT) AS n_wide,
         |  CAST(sum(CASE WHEN w < h THEN 1 ELSE 0 END) AS BIGINT) AS n_tall,
         |  min(w * h) AS area_min, max(w * h) AS area_max
         |FROM g GROUP BY 1 ORDER BY band""".stripMargin,

    "mm_ar_buckets_bmp" ->
      s"""WITH $decodeCtes,
         |a AS (SELECT w, h, parsed, w * 10000 // h AS ar_bp FROM g)
         |SELECT CASE WHEN ar_bp > 10000 THEN 'landscape'
         |    WHEN ar_bp < 10000 THEN 'portrait'
         |    ELSE 'square' END AS shape,
         |  count(*) AS n_docs, CAST(sum(parsed) AS BIGINT) AS n_parsed,
         |  min(ar_bp) AS ar_bp_min, max(ar_bp) AS ar_bp_max,
         |  CAST(sum(w * h) AS BIGINT) AS px_total
         |FROM a GROUP BY 1 ORDER BY shape""".stripMargin,

    "sim_hard_negatives" ->
      s"""WITH ${SimMm.milliNormCte},
         |${Round12.ivfAutoCtes},
         |cm AS (SELECT f.vec_id, f.cell, m.label, m.mq, m.nsq
         |       FROM af f JOIN miln m ON m.vec_id = f.vec_id),
         |p AS (
         |  SELECT x.vec_id, x.label, y.vec_id AS b_id,
         |    y.label AS neg_label,
         |    ${SimMm.cosBpSql(SimMm.dotmSql("x.mq", "y.mq"),
               "x.nsq", "y.nsq")} AS cos_bp
         |  FROM cm x JOIN cm y
         |    ON x.cell = y.cell AND x.label <> y.label),
         |r AS (SELECT vec_id, label, b_id AS hard_neg_id, neg_label,
         |    cos_bp, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_bp DESC, b_id) AS rn FROM p)
         |SELECT vec_id, label, hard_neg_id, neg_label, cos_bp
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "mm_bmp_integrity" ->
      s"""WITH $synthCtes,
         |c AS (
         |  SELECT
         |    CASE WHEN substring(hx,1,4) = '424d' AND length(hx) >= 52
         |        THEN 'bmp'
         |      WHEN substring(hx,1,4) = '424d' THEN 'bmp_truncated'
         |      ELSE 'opaque' END AS cls,
         |    length(hx) // 2 AS actual,
         |    CASE WHEN substring(hx,1,4) = '424d' AND length(hx) >= 52
         |      THEN ${leAt(2)} END AS claimed
         |  FROM p)
         |SELECT cls, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN claimed <= actual THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_complete,
         |  CAST(sum(coalesce(CASE WHEN claimed - actual > 0
         |    THEN claimed - actual ELSE 0 END, 0)) AS BIGINT)
         |    AS bytes_missing,
         |  CAST(sum(actual) AS BIGINT) AS bytes_stored
         |FROM c GROUP BY 1 ORDER BY cls""".stripMargin,

    "sim_ivf_batch_search" ->
      s"""WITH ${SimMm.milliNormCte},
         |${Round12.ivfAutoCtes},
         |qr AS (
         |  SELECT x.vec_id AS qid, x.cell, row_number() OVER (
         |    PARTITION BY x.vec_id
         |    ORDER BY ${SimMm.cosBpSql("x.dxc", "v.dxx", "k.dcc")} DESC,
         |      x.cell) AS qrn
         |  FROM dxc x JOIN dxx v USING (vec_id) JOIN dcc k USING (cell)
         |  WHERE x.vec_id IN (0, 1, 2)),
         |qcells AS (SELECT qid, cell FROM qr WHERE qrn <= 2),
         |cand AS (SELECT q.qid, f.vec_id FROM af f JOIN qcells q
         |         USING (cell) WHERE f.vec_id <> q.qid),
         |scored AS (
         |  SELECT c.qid, c.vec_id,
         |    ${SimMm.cosBpSql(SimMm.dotmSql("m.mq", "qm.mq"),
               "m.nsq", "qm.nsq")} AS cos_bp
         |  FROM cand c JOIN miln m ON m.vec_id = c.vec_id
         |    JOIN miln qm ON qm.vec_id = c.qid),
         |r AS (SELECT qid, vec_id, cos_bp, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos_bp DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT qid, vec_id, cos_bp, CAST(rk AS BIGINT) AS rank
         |FROM r WHERE rk <= 5 ORDER BY qid, rank""".stripMargin,

    "etl_ttl_eviction_plan" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec, event_type
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IN ('click', 'purchase')),
        |w AS (SELECT max(sec) - 3600 AS wm FROM e),
        |u AS (
        |  SELECT user_id, max(w.wm) AS wm, max(sec) AS last_s,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND sec >= w.wm
        |      THEN 1 ELSE 0 END) AS BIGINT) AS pending,
        |    CAST(sum(CASE WHEN event_type = 'click' AND sec >= w.wm
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tail
        |  FROM e, w GROUP BY user_id),
        |c AS (
        |  SELECT CASE WHEN pending > 0 OR tail > 0 THEN 'active'
        |    WHEN wm - last_s >= 86400 THEN 'evicted'
        |    ELSE 'dominant_only' END AS st, last_s
        |  FROM u)
        |SELECT st, count(*) AS n_users, min(last_s) AS last_s_min,
        |  max(last_s) AS last_s_max
        |FROM c GROUP BY 1 ORDER BY st""".stripMargin
  )
}
