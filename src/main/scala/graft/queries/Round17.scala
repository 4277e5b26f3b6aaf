package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{IvfIndex, Similarity, Multimodal => MM}
import graft.sources.Tables

/** Round-17 registry: the PQ-coded PERSISTED ANN store inside the
  * oracle gate.
  *
  * The in-query IVF-PQ composition (`sim_ivf_pq_search`) has been
  * oracle-green since round 8, but the persisted [[IvfIndex]] artifact
  * stored raw milli vectors — at 100 TB the memory side of an ANN index
  * must hold PQ codes (~32× smaller) with ADC scoring on read, or the
  * store IS the corpus. This entry proves the stored path end-to-end:
  * the index is built into a scratch store from the SAME frames the
  * inline kernels use (the cells=8 coarse assignment + the shared
  * PqShared codebook/codes), then the query is answered entirely FROM
  * the store — cell located by a column-pruned scan, query vector and
  * candidates point-read from that cell's buckets, ADC-scored through
  * the stored codebook. The DuckDB oracle is the `sim_ivf_pq_search`
  * text verbatim, so a store that dropped, re-keyed or mis-encoded a
  * single code row hash-mismatches against the inline semantics.
  */
object Round17 extends Module {

  // container-synthesis inputs shared with the Round13 BMP trio: the
  // image-class slice (text starting a-f) gets a REAL header for the
  // entry's format, everything else an unmagiced digest blob
  private def wSyn = lit(16L) + pmod(col("n_chars"), lit(640L))
  private def hSyn = lit(16L) + pmod(col("n_chars") * 7L, lit(480L))
  private def isImg = substring(col("text"), 1, 1).between("a", "f")

  /** Band rollup over magic-parsed dims — the mm_resolution_bands_bmp
    * shape, parameterized by the format's (parseable, width, height)
    * expression triple over the payload hex. */
  private def bandsOver(docs: org.apache.spark.sql.DataFrame,
                        headerHex: org.apache.spark.sql.Column,
                        parseable: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                        width: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                        height: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    val stub = MM.fakeDims("text")
    val withP = docs.withColumn("payload",
      unhex(when(isImg, headerHex)
        .otherwise(concat(lit("0000"), md5(col("text"))))))
    val hx = MM.payloadHex(col("payload"))
    withP
      .withColumn("w", when(parseable(hx), width(hx))
        .otherwise(stub._1.cast("long")))
      .withColumn("h", when(parseable(hx), height(hx))
        .otherwise(stub._2.cast("long")))
      .withColumn("parsed", parseable(hx).cast("long"))
      .withColumn("band", idiv(col("w") * col("h"), lit(8192L)))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("parsed")).as("n_parsed"),
        sum((col("w") > col("h")).cast("long")).as("n_wide"),
        sum((col("w") < col("h")).cast("long")).as("n_tall"),
        min(col("w") * col("h")).as("area_min"),
        max(col("w") * col("h")).as("area_max"))
      .orderBy(col("band"))
  }

  val queries: Map[String, Q] = Map(

    // Resolution bands where the image slice's geometry comes out of a
    // real PNG IHDR (u32 big-endian at offsets 16/20 behind the 8-byte
    // signature) — the Round13 BMP audit extended to the second major
    // container; opaque formats keep the deterministic stub. Pure
    // per-row codegen'd hex slicing, one bounded rollup.
    "mm_resolution_bands_png" -> ((s, dir) =>
      bandsOver(Tables.documents(s, dir), MM.pngHeaderHex(wSyn, hSyn),
        MM.pngParseable, MM.pngWidth, MM.pngHeight)),

    // Same audit over the GIF logical screen descriptor (u16
    // little-endian at offsets 6/8 behind 'GIF89a') — the third
    // container magic, completing the BMP/PNG/GIF dispatch family.
    "mm_resolution_bands_gif" -> ((s, dir) =>
      bandsOver(Tables.documents(s, dir), MM.gifHeaderHex(wSyn, hSyn),
        MM.gifParseable, MM.gifWidth, MM.gifHeight)),

    // PQ-coded persisted ANN store: build (quantized corpus keyed by
    // cell + codebook + per-vector codes keyed by cell), then serve the
    // member-query ADC top-10 from the artifact alone. Bit-equal to the
    // inline sim_ivf_pq_search by construction — same assignment, same
    // codes, same exact-integer ADC chain, (adist asc, vid) order.
    "sim_ivf_pq_store" -> ((s, dir) => {
      // ONE stable scratch root per session, wiped up front (the
      // etl_run_history convention): re-runs see a fresh initial build,
      // and a bench loop reuses the directory instead of accumulating
      // temp dirs.
      val root = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_pqstore_${s.sparkContext.applicationId}")
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      val path = root.toString + "/pqidx"
      val emb = Tables.embeddings(s, dir)
      // Bucket count tracks the CORPUS SIZE (≥ ~1 MiB of source bytes per
      // bucket, floor 4, cap 16): a keyed layout wants buckets of real
      // bytes, and 16 near-empty directories per tier cost 3×16 write
      // tasks + commits of a few-KB store at gate scale for nothing
      // (r18, Verify-budget item). Derived from the input's file size —
      // never from a core count or a hardcoded SF.
      val embBytes = {
        val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
        try p.getFileSystem(s.sessionState.newHadoopConf())
          .getContentSummary(p).getLength
        catch { case _: Throwable => Long.MaxValue }
      }
      val nb = math.max(4L, math.min(16L, embBytes >> 20)).toInt
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
        .select(col("vec_id").as("vid"), col("cell"))
        .localCheckpoint(true) // feeds both tier writes
      val (seeds, codes) = PqShared.seedsCodes(s, dir)
      val quant = emb.select(col("vec_id").as("vid"),
        Similarity.milliQuant(col("embedding")).as("xq"))
      IvfIndex.buildPqStore(s, quant, assigned, seeds,
        codes.select(col("vec_id").as("vid"), col("sub"), col("code")),
        path, subs = PqShared.Subs, dim = PqShared.Dim, numBuckets = nb)
      IvfIndex.searchPqById(s, path, 0L, 10, nb, idCol = "vec_id")
    }),

    // Two-tier IVFADC + refine IN the hash gate: the query's IVF cell
    // bounds candidates, ADC over codes shortlists 40, and ONLY those
    // 40 ids' full-precision vectors are re-scored by the exact
    // integer cosine — the two-tier serving composition in its
    // stateless oracle-checkable form.
    // Raw-vector reads after the coarse+code tiers: O(shortlist).
    "sim_ivf_pq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (seeds, codes) = PqShared.seedsCodes(s, dir)
      val short = Similarity.ivfPqSearchWith(emb, "vec_id", "embedding",
          0L, 40, 8, PqShared.Dim, PqShared.Subs, seeds, codes)
        .select(col("vec_id"))
        .localCheckpoint(true) // 40-row shortlist; feeds the refine semi-join
      val m = SimShared.miln(s, dir)
      val q = m.where(col("vec_id") === 0L)
        .select(col("mq").as("qmq"), col("nsq").as("qnsq"))
        .localCheckpoint(true) // 1-row quantized query
      m.join(broadcast(short), Seq("vec_id"), "left_semi")
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.cosBp(
            graft.functions.LongVectorFunctions.vecDotLong(
              col("mq"), col("qmq")),
            col("nsq"), col("qnsq")).as("cos_bp"))
        .orderBy(col("cos_bp").desc, col("vec_id"))
        .limit(10)
    }),

    // FORWARD as-of, NATIVE (plans.AsOfJoin mode=Forward): for each
    // purchase, the user's next error at-or-after it — one shuffle+sort
    // per side and a single O(1)-state merge pass, no union
    // materialization, no window over the merged stream (the
    // q_asof_join_native pattern applied to the flipped frame). The
    // right side is pre-aggregated to unique (user, ts) so the forward
    // pick is unambiguous in every engine; the composed q_asof_forward
    // stays as the union+window cross-check.
    "q_asof_forward_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("ts").isNotNull)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
      val errors = ev.where(col("event_type") === "error")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("e_us"))
        .agg(min(col("event_id")).as("next_err_id"))
        .select(col("user_id").as("e_user"), col("e_us"),
          col("next_err_id"))
      graft.plans.AsOf.joinForward(purchases, errors,
          "user_id", "e_user", "us", "e_us")
        .select(col("event_id"), col("user_id"), col("next_err_id"),
          idiv(col("e_us") - col("us"), lit(1000000L)).as("latency_s"))
        .orderBy(col("event_id"))
    }),

    // NEAREST as-of, NATIVE (mode=Nearest): each error matched to its
    // closest purchase in either direction, equal gaps → backward (the
    // market-data convention). The merge keeps exactly two candidate
    // rows of state (best backward + frontier) per partition; the
    // nearest of the two is the global nearest because the gap is
    // unimodal around the probe time. Right side pre-aggregated to
    // unique (user, ts); composed q_asof_nearest stays as cross-check.
    "q_asof_nearest_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("ts").isNotNull)
      val errors = ev.where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"))
      val purchases = ev
        .where(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .agg(min(col("event_id")).as("near_id"))
        .select(col("user_id").as("p_user"), col("p_us"), col("near_id"))
      graft.plans.AsOf.joinNearest(errors, purchases,
          "user_id", "p_user", "us", "p_us")
        .select(col("event_id"), col("user_id"), col("near_id"),
          idiv(abs(col("p_us") - col("us")), lit(1000000L)).as("gap_s"),
          when(col("p_us").isNull, lit(null).cast("string"))
            .when(col("p_us") <= col("us"), lit("prev"))
            .otherwise(lit("next")).as("dir"))
        .orderBy(col("event_id"))
    }),
  )

  // DuckDB synthesis/parse CTE builders for the PNG/GIF band oracles —
  // the Round13 decodeCtes pattern with the format swapped out
  private def bandSelect =
    """SELECT CAST(w * h // 8192 AS BIGINT) AS band, count(*) AS n_docs,
      |  CAST(sum(parsed) AS BIGINT) AS n_parsed,
      |  CAST(sum(CASE WHEN w > h THEN 1 ELSE 0 END) AS BIGINT) AS n_wide,
      |  CAST(sum(CASE WHEN w < h THEN 1 ELSE 0 END) AS BIGINT) AS n_tall,
      |  min(w * h) AS area_min, max(w * h) AS area_max
      |FROM g GROUP BY 1 ORDER BY band""".stripMargin

  private def synthCte(headerSql: String) =
    s"""d AS (
       |  SELECT doc_id, text,
       |    CASE WHEN substring(text,1,1) BETWEEN 'a' AND 'f'
       |      THEN 1 ELSE 0 END AS isb,
       |    16 + (n_chars % 640) AS ws,
       |    16 + ((n_chars * 7) % 480) AS hs
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, text,
       |    CASE WHEN isb = 1 THEN $headerSql
       |    ELSE '0000' || md5(text) END AS hx
       |  FROM d)""".stripMargin

  private def parseCte(okSql: String, wSql: String, hSql: String) =
    s"""g AS (
       |  SELECT
       |    CASE WHEN $okSql THEN $wSql
       |      ELSE CAST(strpos('0123456789abcdef', substring(md5(text),1,1))
       |        * 16 AS BIGINT) END AS w,
       |    CASE WHEN $okSql THEN $hSql
       |      ELSE CAST(strpos('0123456789abcdef', substring(md5(text),2,1))
       |        * 16 AS BIGINT) END AS h,
       |    CASE WHEN $okSql THEN 1 ELSE 0 END AS parsed
       |  FROM p)""".stripMargin

  private val pngOk =
    "substring(hx,1,16) = '89504e470d0a1a0a' AND length(hx) >= 48 " +
      "AND substring(hx,25,8) = '49484452'"
  private val gifOk =
    "substring(hx,1,8) = '47494638' AND substring(hx,9,4) IN " +
      "('3761','3961') AND length(hx) >= 26"

  val oracle: Map[String, String] = Map(

    "mm_resolution_bands_png" ->
      s"""WITH ${synthCte(
            "'89504e470d0a1a0a' || '0000000d' || '49484452' || " +
              "lpad(lower(to_hex(ws)), 8, '0') || " +
              "lpad(lower(to_hex(hs)), 8, '0') || '0802000000'")},
         |${parseCte(pngOk,
            "CAST(('0x' || substring(hx,33,8)) AS BIGINT)",
            "CAST(('0x' || substring(hx,41,8)) AS BIGINT)")}
         |$bandSelect""".stripMargin,

    "mm_resolution_bands_gif" ->
      s"""WITH ${synthCte(
            "'474946383961' || " +
              "substring(lpad(lower(to_hex(ws)),4,'0'),3,2) || " +
              "substring(lpad(lower(to_hex(ws)),4,'0'),1,2) || " +
              "substring(lpad(lower(to_hex(hs)),4,'0'),3,2) || " +
              "substring(lpad(lower(to_hex(hs)),4,'0'),1,2) || 'f70000'")},
         |${parseCte(gifOk,
            "CAST(('0x' || substring(hx,15,2) || substring(hx,13,2)) AS BIGINT)",
            "CAST(('0x' || substring(hx,19,2) || substring(hx,17,2)) AS BIGINT)")}
         |$bandSelect""".stripMargin,
    // the stored search must equal the inline composition EXACTLY, so
    // the oracle is the sim_ivf_pq_search text itself — one source of
    // truth, zero drift between the twins
    "sim_ivf_pq_store" -> SimMm.oracle("sim_ivf_pq_search"),

    // composed two-tier oracle: the sim_ivf_pq_search ADC chain LIMITed
    // to the 40-row shortlist, then the exact milli-cosine re-rank —
    // the same CTE fragments as the standalone twins, so the refine
    // cannot drift from its parts
    "sim_ivf_pq_rerank" ->
      s"""WITH ${SimMm.milliNormCte},
         |${SimMm.ivfCte},
         |${SimMm.pqCte},
         |cells AS (SELECT vec_id, seed_id AS cell FROM ass WHERE rn = 1),
         |qc AS (SELECT cell FROM cells WHERE vec_id = 0),
         |q AS (SELECT d, xq AS qx FROM comp WHERE vec_id = 0),
         |lut AS (
         |  SELECT w.code, CAST(w.d // 16 AS INTEGER) AS sub,
         |    CAST(sum((q.qx - w.cq) * (q.qx - w.cq)) AS BIGINT) AS qd
         |  FROM cw w JOIN q ON q.d = w.d
         |  GROUP BY w.code, CAST(w.d // 16 AS INTEGER)),
         |adc AS (
         |  SELECT e.vid, CAST(sum(l.qd) AS BIGINT) AS adist
         |  FROM enc e JOIN lut l ON e.code = l.code AND e.sub = l.sub
         |  JOIN cells c ON c.vec_id = e.vid
         |  JOIN qc ON c.cell = qc.cell
         |  WHERE e.rn = 1 AND e.vid <> 0 GROUP BY e.vid),
         |short AS (SELECT vid FROM adc ORDER BY adist, vid LIMIT 40),
         |qm AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0)
         |SELECT m.vec_id,
         |  ${SimMm.cosBpSql(SimMm.dotmSql("m.mq", "qmq"), "m.nsq", "qnsq")}
         |    AS cos_bp
         |FROM miln m JOIN short s ON s.vid = m.vec_id CROSS JOIN qm
         |ORDER BY cos_bp DESC, m.vec_id LIMIT 10""".stripMargin,

    // the oracles state the as-of semantics DIRECTLY as a pair join +
    // per-left argmin (no window tricks): candidate fan-out is per-user
    // errors×purchases — fine at oracle scale, and exactly the explosion
    // the native single-pass merge avoids
    "q_asof_forward_native" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'),
        |e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS e_us,
        |    min(event_id) AS next_err_id
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'error'
        |  GROUP BY user_id, epoch_us(CAST(ts AS TIMESTAMP))),
        |j AS (
        |  SELECT p.event_id, p.user_id, e.next_err_id, e.e_us, p.us,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY e.e_us) AS rn
        |  FROM p LEFT JOIN e
        |    ON e.user_id = p.user_id AND e.e_us >= p.us)
        |SELECT event_id, user_id, next_err_id,
        |  CAST((e_us - us) // 1000000 AS BIGINT) AS latency_s
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q_asof_nearest_native" ->
      """WITH er AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'error'),
        |p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us,
        |    min(event_id) AS near_id
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
        |    AND value IS NOT NULL
        |  GROUP BY user_id, epoch_us(CAST(ts AS TIMESTAMP))),
        |j AS (
        |  SELECT er.event_id, er.user_id, p.near_id, p.p_us, er.us,
        |    row_number() OVER (PARTITION BY er.event_id
        |      ORDER BY abs(p.p_us - er.us),
        |        CASE WHEN p.p_us <= er.us THEN 0 ELSE 1 END) AS rn
        |  FROM er LEFT JOIN p ON p.user_id = er.user_id)
        |SELECT event_id, user_id, near_id,
        |  CAST(abs(p_us - us) // 1000000 AS BIGINT) AS gap_s,
        |  CASE WHEN p_us IS NULL THEN NULL
        |       WHEN p_us <= us THEN 'prev' ELSE 'next' END AS dir
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
  )
}
