package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Round-11 batch 11: position-aware retrieval-quality metrics — NDCG@10
  * of the LSH ANN ranking against the exact cosine ranking (graded truth,
  * log-position discount) and batch MRR@10 (where the true nearest
  * neighbor lands in each query's ANN candidate list). Together with
  * sim_recall_audit / sim_recall_curve / sim_rank_corr the eval family
  * now covers set overlap, rank correlation, and position-weighted gain.
  *
  * Both stay float-free: the 1/log2(rank+1) discount is a literal
  * milli-unit lookup table (floor(1000/log2(i+1)) for i = 1..10), and
  * reciprocal ranks are truncating 1000/rank — identical literals on
  * both engines, no runtime transcendentals.
  */
object Round11j extends Module {

  /** floor(1000 / log2(i+1)) for ranks 1..10 — the DCG discount. */
  private val discMilli =
    "array(1000L, 630L, 500L, 430L, 386L, 356L, 333L, 315L, 301L, 289L)"
  private val discMilliSql =
    "[1000, 630, 500, 430, 386, 356, 333, 315, 301, 289]"

  val queries: Map[String, Q] = Map(

    // NDCG@10 of single-bucket LSH ANN vs the exact cosine top-10
    // (query = vec 0): relevance of the exact rank-i document is 11-i,
    // ANN's DCG credits it at the discount of the position ANN actually
    // gives it — recall says "how many of the right docs", NDCG says
    // "and in how good an order". One full-outer join of two ≤10-row
    // checkpointed frames; the ideal DCG comes from the same pass.
    "sim_ndcg_audit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), SimMm.TargetBucket)
      // unpartitioned windows here order ≤10-row result frames (k-bounded)
      val wTop = Window.orderBy(col("cos_bp").desc, col("vec_id"))
      val exact = Similarity.topKBrute(emb, "vec_id", "embedding", 0L, 10)
        .withColumn("re", row_number().over(wTop).cast("long"))
        .select(col("vec_id"), col("re")).localCheckpoint(true)
      val ann = Similarity.annSearch(emb, "vec_id", "embedding", 0L, 10,
          planes, 64)
        .withColumn("ra", row_number().over(wTop).cast("long"))
        .select(col("vec_id").as("aid"), col("ra")).localCheckpoint(true)
      exact.join(ann, col("vec_id") === col("aid"), "full_outer")
        .select(col("re"), col("ra"),
          coalesce(lit(11L) - col("re"), lit(0L)).as("rel"))
        .withColumn("ideal_c",
          when(col("re").isNotNull, (lit(11L) - col("re")) *
            element_at(expr(discMilli), col("re").cast("int")))
            .otherwise(lit(0L)))
        .withColumn("dcg_c",
          when(col("ra").isNotNull, col("rel") *
            element_at(expr(discMilli), col("ra").cast("int")))
            .otherwise(lit(0L)))
        .agg(count(col("re")).as("k_exact"), count(col("ra")).as("n_ann"),
          sum(col("dcg_c")).as("dcg_milli"),
          sum(col("ideal_c")).as("ideal_dcg_milli"))
        .withColumn("ndcg_bp",
          when(col("ideal_dcg_milli") === 0L, lit(0L))
            .otherwise(idiv(col("dcg_milli") * 10000,
              col("ideal_dcg_milli"))))
    }),

    // Batch MRR@10: for each of the 8 query vectors (vec_id < 8, the
    // sim_batch_topk convention) the exact nearest corpus neighbor
    // (vec_id ≥ 8) and the position that neighbor holds in the query's
    // own LSH-bucket candidate ranking — reciprocal rank 1000/rank
    // (truncating), 0 on a miss past rank 10 or a bucket miss. The
    // "does ANN put the right answer first" readout per query; the
    // corpus frame is checkpointed once and feeds both the exact pass
    // (8-row broadcast query set) and the bucket-keyed candidate join.
    "sim_mrr_batch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), SimMm.TargetBucket)
      val withB = Similarity.withBuckets(emb, "embedding", planes, 64)
        .withColumn("nsq", Similarity.normSqMilli(col("mq")))
        .select(col("vec_id"), col("bucket"), col("mq"), col("nsq"))
      val corpus = withB.where(col("vec_id") >= 8L).localCheckpoint(true)
      val qs = withB.where(col("vec_id") < 8L)
        .select(col("vec_id").as("qid"), col("bucket").as("qbucket"),
          col("mq").as("qmq"), col("nsq").as("qnsq"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("cos_bp").desc, col("vec_id"))
      val truth = corpus.crossJoin(broadcast(qs.drop("qbucket")))
        .withColumn("cos_bp", Similarity.cosBp(
          Similarity.dotMilli(col("mq"), col("qmq")),
          col("nsq"), col("qnsq")))
        .withColumn("rk", row_number().over(wq))
        .where(col("rk") === 1)
        .select(col("qid"), col("vec_id").as("true_id"))
      val annRank = corpus
        .join(broadcast(qs), col("bucket") === col("qbucket"))
        .withColumn("cos_bp", Similarity.cosBp(
          Similarity.dotMilli(col("mq"), col("qmq")),
          col("nsq"), col("qnsq")))
        .withColumn("ra", row_number().over(wq).cast("long"))
        .where(col("ra") <= 10)
        .select(col("qid").as("aqid"), col("vec_id").as("aid"), col("ra"))
      truth.join(annRank,
          col("qid") === col("aqid") && col("true_id") === col("aid"),
          "left")
        .select(col("qid"), col("true_id"),
          col("ra").isNotNull.cast("long").as("found"),
          col("ra").as("ann_rank"),
          coalesce(idiv(lit(1000L), col("ra")), lit(0L)).as("rr_milli"))
        .orderBy(col("qid"))
    })
  )

  val oracle: Map[String, String] = Map(

    "sim_ndcg_audit" ->
      s"""WITH ${SimMm.milliNormCte},
         |${SimMm.bucketsCte},
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |exr AS (SELECT vec_id,
         |    row_number() OVER (ORDER BY cos_bp DESC, vec_id) AS re
         |  FROM (SELECT m.vec_id,
         |      ${SimMm.cosBpSql(SimMm.dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |    FROM miln m, qv q WHERE m.vec_id <> 0)
         |  ORDER BY cos_bp DESC, vec_id LIMIT 10),
         |qb AS (SELECT b.bucket, m.mq AS qmq, m.nsq AS qnsq
         |       FROM buckets b JOIN miln m USING (vec_id) WHERE b.vec_id = 0),
         |annr AS (SELECT vec_id,
         |    row_number() OVER (ORDER BY cos_bp DESC, vec_id) AS ra
         |  FROM (SELECT m.vec_id,
         |      ${SimMm.cosBpSql(SimMm.dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |    FROM miln m JOIN buckets b USING (vec_id)
         |    JOIN qb q ON b.bucket = q.bucket
         |    WHERE m.vec_id <> 0)
         |  ORDER BY cos_bp DESC, vec_id LIMIT 10),
         |j AS (SELECT e.re, a.ra,
         |    CASE WHEN e.re IS NOT NULL THEN 11 - e.re ELSE 0 END AS rel
         |  FROM exr e FULL OUTER JOIN annr a ON a.vec_id = e.vec_id),
         |g AS (SELECT
         |  CAST(count(re) AS BIGINT) AS k_exact,
         |  CAST(count(ra) AS BIGINT) AS n_ann,
         |  CAST(sum(CASE WHEN ra IS NOT NULL THEN rel *
         |    list_extract($discMilliSql, CAST(ra AS INTEGER)) ELSE 0 END)
         |    AS BIGINT) AS dcg_milli,
         |  CAST(sum(CASE WHEN re IS NOT NULL THEN (11 - re) *
         |    list_extract($discMilliSql, CAST(re AS INTEGER)) ELSE 0 END)
         |    AS BIGINT) AS ideal_dcg_milli
         |  FROM j)
         |SELECT k_exact, n_ann, dcg_milli, ideal_dcg_milli,
         |  CASE WHEN ideal_dcg_milli = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(dcg_milli * 10000 // ideal_dcg_milli AS BIGINT)
         |  END AS ndcg_bp
         |FROM g""".stripMargin,

    "sim_mrr_batch" ->
      s"""WITH ${SimMm.milliNormCte},
         |${SimMm.bucketsCte},
         |corpus AS (SELECT m.vec_id, b.bucket, m.mq, m.nsq
         |           FROM miln m JOIN buckets b USING (vec_id)
         |           WHERE m.vec_id >= 8),
         |qs AS (SELECT m.vec_id AS qid, b.bucket AS qbucket,
         |         m.mq AS qmq, m.nsq AS qnsq
         |       FROM miln m JOIN buckets b USING (vec_id)
         |       WHERE m.vec_id < 8),
         |ex AS (SELECT qid, vec_id AS true_id FROM (
         |    SELECT q.qid, c.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${SimMm.cosBpSql(SimMm.dotmSql("c.mq", "q.qmq"), "c.nsq", "q.qnsq")} DESC,
         |        c.vec_id) AS rk
         |    FROM corpus c CROSS JOIN qs q) z WHERE rk = 1),
         |ar AS (SELECT qid AS aqid, vec_id AS aid, ra FROM (
         |    SELECT q.qid, c.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${SimMm.cosBpSql(SimMm.dotmSql("c.mq", "q.qmq"), "c.nsq", "q.qnsq")} DESC,
         |        c.vec_id) AS ra
         |    FROM corpus c JOIN qs q ON c.bucket = q.qbucket) z
         |  WHERE ra <= 10)
         |SELECT e.qid, e.true_id,
         |  CAST(CASE WHEN a.ra IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         |    AS found,
         |  CAST(a.ra AS BIGINT) AS ann_rank,
         |  CAST(coalesce(1000 // a.ra, 0) AS BIGINT) AS rr_milli
         |FROM ex e LEFT JOIN ar a ON a.aqid = e.qid AND a.aid = e.true_id
         |ORDER BY e.qid""".stripMargin
  )
}
