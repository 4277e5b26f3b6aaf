package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Sketch, TextAnalysis => TA}
import graft.sources.Tables

/** Round-11 batch 8: the train and calibrate steps around the
  * hashed-feature scorer — count-based closed-form weight training
  * (naive-Bayes-style log-odds on the integer ⌊log2⌋ convention) and
  * the reliability-diagram ingredients that say whether a score band
  * means what it claims. Together with text_linear_score the family is
  * the full filter lifecycle: train → apply → calibrate.
  */
object Round11g extends Module {

  val queries: Map[String, Q] = Map(

    // Closed-form hashed-feature training: per md5-h3 mod 16 bucket the
    // token counts inside English vs non-English docs (the deterministic
    // proxy label) and the class-normalized ODDS RATIO in exact integer
    // basis points — (pos/Npos)/(neg/Nneg), add-one smoothed — with the
    // centered evidence weight w = odds_bp − 10000 the apply step loads
    // (positive = English evidence). The count-ratio training a
    // fastText-style filter runs, float-free and in one pass: two
    // map-side-combinable rollups, a 16-row artifact.
    "text_nb_train" -> ((s, dir) => {
      // per-occurrence label counts = Σ(y·tf) off the shared frame; the
      // frame's nonblank flag IS the original doc-level guard
      val tok = TokShared.tf(s, dir)
        .where(col("nonblank"))
        .select((col("lang") === "en").cast("long").as("y"), col("tf"),
          pmod(Sketch.h3(col("tok")), lit(16L)).as("bucket"))
      val tot = tok.groupBy(col("y")).agg(sum(col("tf")).as("n"))
      val nPos = tot.where(col("y") === 1).select(col("n").as("n_pos"))
      val nNeg = tot.where(col("y") === 0).select(col("n").as("n_neg"))
      tok.groupBy(col("bucket"))
        .agg(sum(col("y") * col("tf")).as("pos"),
          sum((lit(1L) - col("y")) * col("tf")).as("neg"))
        .crossJoin(broadcast(nPos))
        .crossJoin(broadcast(nNeg))
        .withColumn("odds_bp",
          idiv((col("pos") + 1) * col("n_neg") * 10000,
            (col("neg") + 1) * col("n_pos")))
        .select(col("bucket"), col("pos"), col("neg"), col("odds_bp"),
          (col("odds_bp") - 10000L).as("w"))
        .orderBy(col("bucket"))
    }),

    // Score-band calibration (reliability-diagram ingredients): per
    // text_linear_score band, the doc count, proxy-positive count
    // (lang = 'en') and the observed positive rate — the audit that
    // says whether "band 12" actually separates; monotone drift across
    // bands = a usable score, flat = a dead model. One corpus pass
    // (the score rollup), then a band-level conditional rollup.
    "text_score_calibration" -> ((s, dir) => {
      val wArr = "array(-180L, -120L, -60L, -20L, 0L, 10L, 25L, 40L, " +
        "60L, 85L, 110L, 140L, 170L, 200L, 240L, 280L)"
      TokShared.tf(s, dir)
        .where(col("nonblank"))
        .select(col("doc_id"), (col("lang") === "en").cast("long").as("y"),
          col("tf"),
          element_at(expr(wArr),
            (pmod(Sketch.h3(col("tok")), lit(16L)) + 1).cast("int")).as("w"))
        .groupBy(col("doc_id"))
        .agg(max(col("y")).as("y"), sum(col("tf")).as("n"),
          sum(col("w") * col("tf")).as("sw"))
        .select(col("y"),
          idiv(idiv(col("sw") + lit(200L) * col("n"), col("n")) - 200L
            + 1000L, lit(100L)).as("band"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
        .withColumn("pos_rate_bp", idiv(col("n_pos") * 10000, col("n_docs")))
        .orderBy(col("band"))
    })
  )

  val oracle: Map[String, String] = Map(

    "text_nb_train" -> {
      val h = Sketch.h3Sql("tok")
      s"""WITH tok AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    $h % 16 AS bucket
         |  FROM (SELECT lang, unnest($toksSql) AS tok
         |        FROM documents WHERE length(trim(text)) > 0) z),
         |tot AS (SELECT
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(sum(1 - y) AS BIGINT) AS n_neg FROM tok),
         |b AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS pos,
         |    CAST(sum(1 - y) AS BIGINT) AS neg
         |  FROM tok GROUP BY bucket),
         |o AS (SELECT bucket, pos, neg,
         |    CAST((pos + 1) * n_neg * 10000
         |      // ((neg + 1) * n_pos) AS BIGINT) AS odds_bp
         |  FROM b CROSS JOIN tot)
         |SELECT bucket, pos, neg, odds_bp, odds_bp - 10000 AS w
         |FROM o ORDER BY bucket""".stripMargin
    },

    "text_score_calibration" -> {
      val h = Sketch.h3Sql("tok")
      val wSql = "[-180, -120, -60, -20, 0, 10, 25, 40, 60, 85, " +
        "110, 140, 170, 200, 240, 280]"
      s"""WITH tok AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    unnest($toksSql) AS tok
         |  FROM documents WHERE length(trim(text)) > 0),
         |tw AS (
         |  SELECT doc_id, y,
         |    list_extract($wSql, CAST($h % 16 AS INTEGER) + 1) AS w
         |  FROM tok),
         |d AS (
         |  SELECT doc_id, max(y) AS y, count(*) AS n,
         |    CAST(sum(w) AS BIGINT) AS sw
         |  FROM tw GROUP BY doc_id),
         |sc AS (SELECT y,
         |    ((sw + 200 * n) // n - 200 + 1000) // 100 AS band FROM d)
         |SELECT band, count(*) AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(y) * 10000 // count(*) AS BIGINT) AS pos_rate_bp
         |FROM sc GROUP BY band ORDER BY band""".stripMargin
    }
  )
}
