package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Sketch, TextAnalysis => TA}
import graft.sources.Tables

/** Round-11 batch 3: the band join (time-only proximity turned into an
  * equi-join via bucket expansion — the shape that keeps a no-equi-key
  * join off the BroadcastNestedLoop path at 100 TB), the hashed-feature
  * linear quality scorer (the fastText-style filter APPLY step), the
  * privacy pair l-diversity + DP contribution clipping beside the
  * round-10 k-anonymity, a Bloom-filter fill/FPR audit on the md5-nibble
  * sketch kernel, aspect-ratio bucketing for image-batch packing, and
  * α=0.5 temperature-mix corpus weighting. House conventions throughout:
  * integer-exact emitted columns, positive idiv operands, a DuckDB
  * oracle twin per query.
  */
object Round11b extends Module {

  private def h3Sql(e: String): String = Sketch.h3Sql(e)

  /** 16-weight hashed-feature linear model (literal "trained" weights,
    * one per md5-h3 mod 16 bucket) — shared between the Spark query and
    * the oracle so the two apply the SAME model. Range [-180, 280]
    * keeps the +200-shifted per-token mean positive for idiv. */
  private val wSql = "[-180, -120, -60, -20, 0, 10, 25, 40, 60, 85, " +
    "110, 140, 170, 200, 240, 280]"
  private val wArr = "array(-180L, -120L, -60L, -20L, 0L, 10L, 25L, " +
    "40L, 60L, 85L, 110L, 140L, 170L, 200L, 240L, 280L)"

  val queries: Map[String, Q] = Map(

    // Band join on TIME ALONE (no shared key): rare error probes vs all
    // purchases within ±600 s. Without an equi key Spark's only native
    // plan is a broadcast-nested-loop filter — at 100 TB that is
    // |A|·|B| work. The bucket-expansion rewrite replicates each probe
    // to its 600 s bucket and both neighbors (3 rows, bounded fan-out)
    // and joins purchases on the SINGLE bucket equi-key, so the plan is
    // a plain shuffle-hash join whose per-task work is proportional to
    // true temporal co-occurrence; each qualifying pair matches exactly
    // once because the probe's three replica buckets are distinct and
    // the purchase's bucket is fixed. The mod-97 probe thinning is the
    // house deterministic stand-in for a rare alert condition.
    "q_band_join" -> ((s, dir) => {
      val W = 600L
      val ev = Tables.events(s, dir).where(col("ts").isNotNull)
      val a = ev
        .where(col("event_type") === "error" && col("event_id") % 97 === 0)
        .select(col("event_id").as("a_id"), col("ts").cast("long").as("ea"))
        .withColumn("bk0", idiv(col("ea"), lit(W)))
      val b = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("ts").cast("long").as("eb"))
        .withColumn("bk", idiv(col("eb"), lit(W)))
      a.select(col("a_id"), col("ea"),
          explode(array(col("bk0") - 1, col("bk0"), col("bk0") + 1)).as("bk"))
        .join(b, Seq("bk"))
        .where(abs(col("eb") - col("ea")) <= W)
        .groupBy(idiv(col("ea"), lit(3600L)).as("hr"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("b_user")).as("n_b_users"),
          sum(abs(col("eb") - col("ea"))).as("sum_abs_lag"))
        .orderBy(col("hr"))
    }),

    // Hashed-feature linear quality scorer — the APPLY step of a
    // fastText-style corpus filter: each token hashes into one of 16
    // weight buckets (md5-h3 kernel, the house engine-portable hash),
    // the doc score is the mean token weight in milli-ish integer units
    // (+200 shift keeps the idiv numerator positive, shifted back
    // after), banded into a per-source histogram. ONE corpus pass, one
    // map-side-combinable rollup; the 16-weight model is a literal both
    // engines share — no join, the lookup codegens as an array index.
    "text_linear_score" -> ((s, dir) => {
      // per-occurrence weighted sums = Σ(w·tf) off the shared frame;
      // the frame's nonblank flag IS the original doc-level guard
      TokShared.tf(s, dir)
        .where(col("nonblank"))
        .select(col("source"), col("doc_id"), col("tf"),
          element_at(expr(wArr),
            (pmod(Sketch.h3(col("tok")), lit(16L)) + 1).cast("int")).as("w"))
        .groupBy(col("source"), col("doc_id"))
        .agg(sum(col("tf")).as("n"), sum(col("w") * col("tf")).as("sw"))
        .withColumn("spt",
          idiv(col("sw") + lit(200L) * col("n"), col("n")) - 200L)
        .groupBy(col("source"), idiv(col("spt") + 1000L, lit(100L)).as("band"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("spt")).as("min_spt"), max(col("spt")).as("max_spt"))
        .orderBy(col("source"), col("band"))
    }),

    // l-diversity audit — the sensitive-attribute companion of
    // etl_k_anonymity: same quasi-identifier classes (nation, segment)
    // but the risk is a class whose members share too FEW distinct
    // sensitive values ($1000 balance band, the k-anon band expr), so
    // an attacker who locates the class learns the sensitive value.
    // Per l ∈ {2,3,5}: low-diversity classes, rows at risk, share bp.
    // The sweep explodes the one-row-per-class frame, not the table.
    "etl_l_diversity" -> ((s, dir) => {
      val cls = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          idiv(round(col("c_acctbal") * 100).cast("long") + lit(100000L),
            lit(100000L)).as("bal_band"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("cls_n"),
          count_distinct(col("bal_band")).as("div_n"))
      cls.select(col("cls_n"), col("div_n"),
          explode(array(lit(2L), lit(3L), lit(5L))).as("l"))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_classes"),
          count(when(col("div_n") < col("l"), 1)).as("low_div_classes"),
          coalesce(sum(when(col("div_n") < col("l"), col("cls_n"))
            .otherwise(lit(0L))), lit(0L)).as("risk_rows"),
          sum(col("cls_n")).as("n_rows"))
        .select(col("l"), col("n_classes"), col("low_div_classes"),
          col("risk_rows"),
          idiv(col("risk_rows") * 10000, col("n_rows")).as("risk_bp"))
        .orderBy(col("l"))
    }),

    // DP bounded-contribution clipping plan — the data-prep step before
    // any user-level differentially-private release: per event type,
    // how many rows does clipping each user to C = 32 contributions
    // drop, and what sensitivity (max per-user contribution) remains
    // unclipped. Two keyed rollups, both map-side combinable; the
    // per-(type, user) frame is the only shuffle.
    "etl_dp_clip_plan" -> ((s, dir) => {
      val C = 32L
      Tables.events(s, dir)
        .where(col("user_id").isNotNull)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("nu"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("nu")).as("n_rows"),
          max(col("nu")).as("max_contrib"),
          sum(greatest(col("nu") - C, lit(0L))).as("clipped_rows"))
        .withColumn("retained_bp",
          idiv((col("n_rows") - col("clipped_rows")) * 10000, col("n_rows")))
        .orderBy(col("event_type"))
    }),

    // Bloom-filter audit on the md5-nibble sketch kernel: the order
    // custkey set builds an m = 4096-bit, k = 3 Bloom filter (bit i =
    // the CMS salted hash — Sketch.cmsBucket — so the filter reuses the
    // audited kernel), then the customers with NO orders probe it. The
    // filter is OR-mergeable across executors like the bitmap sketch;
    // emitted are fill, the textbook (fill/m)³ predicted FPR and the
    // OBSERVED false-positive rate on the disjoint probe set — the
    // filter-sizing evidence a q_bloom_prune deployment reads. The key
    // set is checkpointed once; probes anti-join IT, not a re-scan.
    "q_bloom_fpr_audit" -> ((s, dir) => {
      val M = 4096L
      val keys = Tables.orders(s, dir)
        .select(col("o_custkey").as("k")).distinct()
        .localCheckpoint(true)
      def bits3(df: DataFrame) = df.select(col("k"),
        explode(array((0 until 3).map(i =>
          Sketch.cmsBucket(col("k"), lit(i.toLong), M)): _*)).as("bit"))
      val bits = bits3(keys).select(col("bit")).distinct()
        .localCheckpoint(true)
      val probes = Tables.customer(s, dir)
        .select(col("c_custkey").as("k")).join(keys, Seq("k"), "left_anti")
        .localCheckpoint(true)
      val miss = bits3(probes).distinct()
        .join(bits, Seq("bit"), "left_anti")
        .select(col("k")).distinct()
      keys.agg(count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
        .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
        .crossJoin(broadcast(miss.agg(count(lit(1)).as("n_miss"))))
        .select(col("n_keys"), col("bits_set"),
          idiv(col("bits_set") * col("bits_set") * col("bits_set") * 10000L,
            lit(M * M * M)).as("pred_fpr_bp"),
          col("n_probes"), (col("n_probes") - col("n_miss")).as("n_fp"),
          idiv((col("n_probes") - col("n_miss")) * 10000,
            col("n_probes")).as("obs_fpr_bp"))
    }),

    // Aspect-ratio bucketing — the image-training batch-packing plan
    // (WDS/AR-bucket style): images batch with SAME-shaped peers so a
    // batch pads to its largest member, and the pad waste within an AR
    // band is the number that says whether the banding is fine enough.
    // Dims come from the declared decode stub (Multimodal.fakeDims);
    // per 0.5-wide AR band: image count, total pixels, 64-image shard
    // count, and pad-to-band-max waste in bp. One scan, one rollup.
    "mm_ar_buckets" -> ((s, dir) => {
      val (w, h) = Multimodal.fakeDims("text")
      Tables.documents(s, dir)
        .select(col("doc_id"), w.cast("long").as("w"), h.cast("long").as("h"))
        .withColumn("band", idiv(col("w") * 100, col("h") * 50))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_imgs"),
          sum(col("w") * col("h")).as("total_px"),
          max(col("w") * col("h")).as("max_px"))
        .select(col("band"), col("n_imgs"), col("total_px"),
          idiv(col("n_imgs") + 63L, lit(64L)).as("n_shards"),
          idiv((col("max_px") * col("n_imgs") - col("total_px")) * 10000,
            col("max_px") * col("n_imgs")).as("pad_waste_bp"))
        .orderBy(col("band"))
    }),

    // Temperature-weighted corpus mix (α = 0.5): sampling weight ∝
    // √tokens — the standard low-resource-upweighting mix rule.
    // w = isqrt(T) is made EXACT in both engines by correcting the
    // float floor(sqrt) with two integer comparisons (w² ≤ T <
    // (w+1)²), so the emitted shares are bit-stable. Per source:
    // natural share, temperature share, and the boost ratio — all bp.
    // One rollup; everything after runs on the ≤|sources|-row frame.
    "corpus_temperature_mix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val src = Tables.documents(s, dir)
        .groupBy(col("source")).agg(sum(col("n_chars")).as("t"))
      val w0 = floor(sqrt(col("t").cast("double"))).cast("long")
      val src2 = src.withColumn("w",
        w0 + when((w0 + 1) * (w0 + 1) <= col("t"), 1L).otherwise(0L)
           - when(w0 * w0 > col("t"), 1L).otherwise(0L))
      // bounded frame: one row per source
      val all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      src2
        .withColumn("tt", sum(col("t")).over(all))
        .withColumn("tw", sum(col("w")).over(all))
        .select(col("source"), col("t").as("t_chars"), col("w"),
          idiv(col("t") * 10000, col("tt")).as("natural_bp"),
          idiv(col("w") * 10000, col("tw")).as("temp_bp"))
        .withColumn("boost_bp",
          idiv(col("temp_bp") * 10000, greatest(col("natural_bp"), lit(1L))))
        .orderBy(col("source"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q_band_join" ->
      """WITH a AS (
        |  SELECT event_id AS a_id, CAST(floor(epoch(ts)) AS BIGINT) AS ea
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type = 'error' AND event_id % 97 = 0),
        |b AS (
        |  SELECT user_id AS b_user, CAST(floor(epoch(ts)) AS BIGINT) AS eb
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase')
        |SELECT ea // 3600 AS hr, count(*) AS n_pairs,
        |  count(DISTINCT b_user) AS n_b_users,
        |  CAST(sum(abs(eb - ea)) AS BIGINT) AS sum_abs_lag
        |FROM a JOIN b ON abs(eb - ea) <= 600
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_linear_score" -> {
      val h = h3Sql("tok")
      s"""WITH tok AS (
         |  SELECT source, doc_id, unnest($toksSql) AS tok
         |  FROM documents WHERE length(trim(text)) > 0),
         |tw AS (
         |  SELECT source, doc_id,
         |    list_extract($wSql, CAST($h % 16 AS INTEGER) + 1) AS w
         |  FROM tok),
         |d AS (
         |  SELECT source, doc_id, count(*) AS n,
         |    CAST(sum(w) AS BIGINT) AS sw
         |  FROM tw GROUP BY source, doc_id),
         |sc AS (SELECT source, (sw + 200 * n) // n - 200 AS spt FROM d)
         |SELECT source, (spt + 1000) // 100 AS band, count(*) AS n_docs,
         |  CAST(min(spt) AS BIGINT) AS min_spt,
         |  CAST(max(spt) AS BIGINT) AS max_spt
         |FROM sc GROUP BY source, band ORDER BY source, band""".stripMargin
    },

    "etl_l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    count(*) AS cls_n,
        |    count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT) + 100000)
        |      // 100000) AS div_n
        |  FROM customer GROUP BY c_nationkey, c_mktsegment),
        |sw AS (
        |  SELECT cls_n, div_n, CAST(ls.l AS BIGINT) AS l
        |  FROM cls CROSS JOIN (VALUES (2), (3), (5)) ls(l))
        |SELECT l, count(*) AS n_classes,
        |  CAST(count(*) FILTER (WHERE div_n < l) AS BIGINT)
        |    AS low_div_classes,
        |  CAST(coalesce(sum(CASE WHEN div_n < l THEN cls_n ELSE 0 END), 0)
        |    AS BIGINT) AS risk_rows,
        |  CAST(coalesce(sum(CASE WHEN div_n < l THEN cls_n ELSE 0 END), 0)
        |    * 10000 // sum(cls_n) AS BIGINT) AS risk_bp
        |FROM sw GROUP BY l ORDER BY l""".stripMargin,

    "etl_dp_clip_plan" ->
      """WITH per AS (
        |  SELECT event_type, user_id, count(*) AS nu
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY event_type, user_id)
        |SELECT event_type, count(*) AS n_users,
        |  CAST(sum(nu) AS BIGINT) AS n_rows,
        |  CAST(max(nu) AS BIGINT) AS max_contrib,
        |  CAST(sum(greatest(nu - 32, 0)) AS BIGINT) AS clipped_rows,
        |  CAST((sum(nu) - sum(greatest(nu - 32, 0))) * 10000 // sum(nu)
        |    AS BIGINT) AS retained_bp
        |FROM per GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_bloom_fpr_audit" -> {
      def bit(k: String, i: String) =
        s"${h3Sql(s"CAST($i AS VARCHAR) || ':' || CAST($k AS VARCHAR)")} % 4096"
      s"""WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
         |r AS (SELECT CAST(range AS BIGINT) AS i FROM range(3)),
         |bits AS (
         |  SELECT DISTINCT ${bit("k", "i")} AS bit FROM keys CROSS JOIN r),
         |probes AS (
         |  SELECT c_custkey AS k FROM customer
         |  WHERE c_custkey NOT IN (SELECT k FROM keys)),
         |pb AS (
         |  SELECT DISTINCT k, ${bit("k", "i")} AS bit
         |  FROM probes CROSS JOIN r),
         |miss AS (
         |  SELECT DISTINCT k FROM pb
         |  WHERE bit NOT IN (SELECT bit FROM bits)),
         |c AS (SELECT
         |  (SELECT count(*) FROM keys) AS n_keys,
         |  (SELECT count(*) FROM bits) AS bits_set,
         |  (SELECT count(*) FROM probes) AS n_probes,
         |  (SELECT count(*) FROM miss) AS n_miss)
         |SELECT n_keys, bits_set,
         |  CAST(bits_set * bits_set * bits_set * 10000
         |    // (CAST(4096 AS BIGINT) * 4096 * 4096) AS BIGINT)
         |    AS pred_fpr_bp,
         |  n_probes, n_probes - n_miss AS n_fp,
         |  CAST((n_probes - n_miss) * 10000 // n_probes AS BIGINT)
         |    AS obs_fpr_bp
         |FROM c""".stripMargin
    },

    "mm_ar_buckets" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(strpos('0123456789abcdef', substring(md5(text), 1, 1)) * 16
        |      AS BIGINT) AS w,
        |    CAST(strpos('0123456789abcdef', substring(md5(text), 2, 1)) * 16
        |      AS BIGINT) AS h
        |  FROM documents),
        |g AS (
        |  SELECT (w * 100) // (h * 50) AS band, count(*) AS n_imgs,
        |    CAST(sum(w * h) AS BIGINT) AS total_px,
        |    CAST(max(w * h) AS BIGINT) AS max_px
        |  FROM d GROUP BY 1)
        |SELECT band, n_imgs, total_px,
        |  (n_imgs + 63) // 64 AS n_shards,
        |  CAST((max_px * n_imgs - total_px) * 10000
        |    // (max_px * n_imgs) AS BIGINT) AS pad_waste_bp
        |FROM g ORDER BY band""".stripMargin,

    "corpus_temperature_mix" ->
      """WITH src AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS t
        |  FROM documents GROUP BY source),
        |w0 AS (SELECT source, t,
        |    CAST(floor(sqrt(CAST(t AS DOUBLE))) AS BIGINT) AS w0 FROM src),
        |wx AS (SELECT source, t,
        |    w0 + CASE WHEN (w0 + 1) * (w0 + 1) <= t THEN 1 ELSE 0 END
        |       - CASE WHEN w0 * w0 > t THEN 1 ELSE 0 END AS w
        |  FROM w0),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tt,
        |               CAST(sum(w) AS BIGINT) AS tw FROM wx)
        |SELECT source, t AS t_chars, w,
        |  t * 10000 // tt AS natural_bp,
        |  w * 10000 // tw AS temp_bp,
        |  (w * 10000 // tw) * 10000 // greatest(t * 10000 // tt, 1)
        |    AS boost_bp
        |FROM wx CROSS JOIN tot ORDER BY source""".stripMargin
  )
}
