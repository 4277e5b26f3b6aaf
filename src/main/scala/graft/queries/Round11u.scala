package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Round-11 batch 22: residual vector quantization and tail heaviness —
  * the 2-stage RVQ encode/distortion audit (the additive-codebook
  * scheme beside PQ's subspace split and SQ8's scalar grid) and the
  * doubling-threshold value survival curve (the integer tail-index
  * ingredients).
  */
object Round11u extends Module {

  val queries: Map[String, Q] = Map(

    // Residual vector quantization (RVQ, 2 stages): stage 1 assigns each
    // vector to the nearest of 8 hash-sampled full-dim codewords (exact
    // integer milli L2²); stage 2 quantizes the RESIDUAL against 8
    // hash-sampled residual codewords PLUS the explicit zero codeword
    // (code −1) — argmin over a set containing 0 guarantees stage-2
    // distortion ≤ stage-1 per vector, the additive-refinement property
    // the spec pins. Emits per stage-1 cell the population and both
    // distortion totals. Both codebooks are tiny broadcasts; residuals
    // are a per-row zip, never a shuffle.
    "sim_rq_encode" -> ((s, dir) => {
      val m = SimShared.miln(s, dir)
      // stage-1 codebook: 8 hash-sampled vectors (the pqSeeds
      // convention) — ≤8 rows, collected to the DRIVER so the encode
      // compiles them into the scan as literal codewords.
      val cb1 = m.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(8).select(col("vec_id"), col("mq"), col("nsq")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
      // stage-2 codebook: residuals of 8 differently-salted sampled ids
      // (sampled over the SAME id universe — the salt orders ids, not
      // residuals) plus the explicit zero codeword. The 8 residuals are
      // RE-DERIVED driver-side (8 × 8 exact-integer dot products) —
      // no corpus-sized residual checkpoint just to sample 8 rows.
      val cb2samples = m
        .orderBy(md5(concat(lit("rq2_"), col("vec_id").cast("string"))),
          col("vec_id"))
        .limit(8).select(col("vec_id"), col("mq"), col("nsq")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
      def assign1(mq: Seq[Long], nsq: Long): (Long, Seq[Long]) =
        cb1.map { case (c1, cmq, cnsq) =>
          val d2 = nsq + cnsq -
            2L * mq.iterator.zip(cmq.iterator).map(p => p._1 * p._2).sum
          ((d2, c1), cmq)
        }.minBy(_._1) match { case ((_, c1), cmq) => (c1, cmq) }
      val cb2: Seq[(Long, Seq[Long])] = cb2samples.map { case (vid, mq, nsq) =>
        val (_, cmq) = assign1(mq, nsq)
        (vid, mq.iterator.zip(cmq.iterator).map(p => p._1 - p._2).toSeq)
      } :+ (-1L, Seq.fill(64)(0L))
      // ONE whole-stage-codegen pass over the shared corpus: stage-1
      // argmin (8 literal (d2, c1, codeword) structs, ties → lowest
      // c1), per-row residual zip, stage-2 argmin (9 literal L2²
      // structs, ties → lowest c2 so the zero codeword −1 wins them),
      // then the 8-group map-side-combinable rollup. Zero joins, zero
      // corpus shuffles, zero checkpoints beyond the shared frame.
      val pick1 = array_min(array(cb1.map { case (c1, cmq, cnsq) =>
        struct((col("nsq") + lit(cnsq) -
          lit(2L) * Similarity.dotMilli(col("mq"), typedLit(cmq))).as("d2"),
          lit(c1).as("c1"), typedLit(cmq).as("cw"))
      }: _*))
      val withR = m
        .select(col("vec_id"), pick1.getField("c1").as("c1"),
          pick1.getField("d2").as("d1"),
          zip_with(col("mq"), pick1.getField("cw"), (x, c) => x - c).as("r"))
      val pick2 = array_min(array(cb2.map { case (c2, cr) =>
        struct(graft.functions.LongVectorFunctions
          .vecL2SqSlice(col("r"), typedLit(cr), 0, 64).as("d2"),
          lit(c2).as("c2"))
      }: _*))
      withR.select(col("c1"), col("d1"), pick2.getField("d2").as("d2"))
        .groupBy(col("c1"))
        .agg(count(lit(1)).as("n"), sum(col("d1")).as("d1_total"),
          sum(col("d2")).as("d2_total"))
        .orderBy(col("c1"))
    }),

    // Doubling-threshold value survival curve — the integer tail-index
    // ingredients (a straight line on this log-log grid is a power-law
    // tail; fast decay is thin-tailed): for each threshold 2^k cents the
    // events at or above it, k up to the observed maximum. One
    // conditional rollup; the k sweep explodes each row ⌊log2(max)⌋+1 ≤
    // 64 ways AFTER the per-event cents projection, and the output is
    // one row per k forever.
    "events_value_tail" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .where(col("value").isNotNull)
        .select(round(col("value") * 100).cast("long").as("cents"))
        .where(col("cents") > 0)
      val kmax = ev.agg((length(bin(max(col("cents")))) - 1)
        .cast("long").as("kmax"))
      ev.crossJoin(broadcast(kmax))
        .select(col("cents"), explode(sequence(lit(0L), col("kmax"))).as("k"))
        .withColumn("thr", expr("shiftleft(cast(1 as bigint), cast(k as int))"))
        .where(col("cents") >= col("thr"))
        .groupBy(col("k"), col("thr"))
        .agg(count(lit(1)).as("n_exceed"), sum(col("cents")).as("cents_tail"))
        .orderBy(col("k"))
    })
  )

  val oracle: Map[String, String] = Map(

    "sim_rq_encode" ->
      s"""WITH ${SimMm.milliNormCte},
         |cb1 AS (
         |  SELECT vec_id AS c1, mq AS cmq, nsq AS cnsq FROM miln
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         |a1 AS (
         |  SELECT vec_id, c1, d2 AS d1, cmq FROM (
         |    SELECT m.vec_id, c.c1, c.cmq,
         |      m.nsq + c.cnsq - 2 * ${SimMm.dotmSql("m.mq", "c.cmq")} AS d2,
         |      row_number() OVER (PARTITION BY m.vec_id
         |        ORDER BY m.nsq + c.cnsq - 2 * ${SimMm.dotmSql("m.mq", "c.cmq")},
         |          c.c1) AS rn
         |    FROM miln m CROSS JOIN cb1 c) z
         |  WHERE rn = 1),
         |res AS (
         |  SELECT a.vec_id, a.c1, a.d1,
         |    list_transform(range(1, 65),
         |      i -> m.mq[CAST(i AS INTEGER)] - a.cmq[CAST(i AS INTEGER)]) AS r
         |  FROM a1 a JOIN miln m ON m.vec_id = a.vec_id),
         |cb2 AS (
         |  (SELECT vec_id AS c2, r AS cr FROM res
         |   ORDER BY md5('rq2_' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)
         |  UNION ALL
         |  SELECT -1, list_transform(range(1, 65), i -> CAST(0 AS BIGINT))),
         |a2 AS (
         |  SELECT vec_id, c1, d1, d2 FROM (
         |    SELECT v.vec_id, v.c1, v.d1,
         |      CAST(list_sum(list_transform(range(1, 65),
         |        i -> (v.r[CAST(i AS INTEGER)] - c.cr[CAST(i AS INTEGER)])
         |           * (v.r[CAST(i AS INTEGER)] - c.cr[CAST(i AS INTEGER)])))
         |        AS BIGINT) AS d2,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY CAST(list_sum(list_transform(range(1, 65),
         |          i -> (v.r[CAST(i AS INTEGER)] - c.cr[CAST(i AS INTEGER)])
         |             * (v.r[CAST(i AS INTEGER)] - c.cr[CAST(i AS INTEGER)])))
         |          AS BIGINT), c.c2) AS rn
         |    FROM res v CROSS JOIN cb2 c) z
         |  WHERE rn = 1)
         |SELECT c1, count(*) AS n, CAST(sum(d1) AS BIGINT) AS d1_total,
         |  CAST(sum(d2) AS BIGINT) AS d2_total
         |FROM a2 GROUP BY c1 ORDER BY c1""".stripMargin,

    "events_value_tail" ->
      """WITH ev AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE value IS NOT NULL AND CAST(round(value * 100) AS BIGINT) > 0),
        |km AS (SELECT length(bin(max(cents))) - 1 AS kmax FROM ev),
        |g AS (SELECT cents, CAST(k.range AS BIGINT) AS k,
        |        CAST(1 AS BIGINT) << CAST(k.range AS INTEGER) AS thr
        |      FROM ev, km CROSS JOIN range(64) k
        |      WHERE CAST(k.range AS BIGINT) <= km.kmax)
        |SELECT k, thr, count(*) AS n_exceed,
        |  CAST(sum(cents) AS BIGINT) AS cents_tail
        |FROM g WHERE cents >= thr GROUP BY k, thr ORDER BY k""".stripMargin
  )
}
