package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-11 batch 16: governance and sampling plans — the DSAR
  * subject-access inventory (GDPR Art. 15: everything held about a
  * requested key list, with exact totals), the stratified-sample
  * allocation plan (proportional vs equal vs √-allocation per source),
  * and the power-iteration convergence angle (has the PCA axis
  * settled?).
  */
object Round11o extends Module {

  val queries: Map[String, Q] = Map(

    // Subject-access inventory — the GDPR Article 15 export companion of
    // etl_erasure_audit/etl_pseudonymize: for the deterministic request
    // list (c_custkey ≡ 7 mod 500) everything the store holds — order
    // count, line count, exact cents total, first/last order date —
    // including all-zero rows for requested customers with no data (the
    // "we hold nothing" answer is part of the response). Request list
    // rides the customer scan; orders/lineitem pay one keyed join each.
    "etl_subject_access" -> ((s, dir) => {
      val subj = Tables.customer(s, dir)
        .where(col("c_custkey") % 500 === 7)
        .select(col("c_custkey"), col("c_name"))
      val ord = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          to_date(col("o_orderdate")).as("od"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
      val perOrder = ord.join(li, col("l_orderkey") === col("o_orderkey"),
          "left")
        .groupBy(col("o_custkey"), col("o_orderkey"), col("cents"), col("od"))
        .agg(count(col("l_orderkey")).as("n_lines"))
      subj.join(perOrder, col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("n_lines")), lit(0L)).as("n_lines"),
          coalesce(sum(col("cents")), lit(0L)).as("cents_total"),
          min(col("od")).as("first_order"), max(col("od")).as("last_order"))
        .select(col("c_custkey"), col("c_name"), col("n_orders"),
          col("n_lines"), col("cents_total"),
          iso(col("first_order")).as("first_order"),
          iso(col("last_order")).as("last_order"))
        .orderBy(col("c_custkey"))
    }),

    // Stratified-sample allocation plan: for a 1000-doc budget, the
    // per-source allocation under the three textbook schemes —
    // proportional (n·wₖ/W), equal (n/K), and √-allocation (the
    // skew-softening middle ground; integer isqrt = floor(sqrt), exact
    // in both engines below 2⁵³) — each truncating, with the remainder
    // the largest-remainder step would distribute. The plan that
    // decides what a balanced eval set samples from each source; one
    // per-source rollup, the scheme math on the K-row frame.
    "corpus_strata_alloc" -> ((s, dir) => {
      val src = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue)
      src
        .withColumn("total", sum(col("n_docs")).over(w))
        .withColumn("k", count(lit(1)).over(w))
        .withColumn("sq", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
        .withColumn("sq_total", sum(col("sq")).over(w))
        .select(col("source"), col("n_docs"),
          idiv(col("n_docs") * 1000, col("total")).as("alloc_prop"),
          idiv(lit(1000L), col("k")).as("alloc_equal"),
          idiv(col("sq") * 1000, col("sq_total")).as("alloc_sqrt"))
        .withColumn("cap_hit",
          (col("alloc_sqrt") > col("n_docs") ||
            col("alloc_equal") > col("n_docs")).cast("long"))
        .orderBy(col("source"))
    }),

    // Power-iteration convergence angle: cos² between the v1 and v2
    // axes (both ±1000-scaled integer vectors from sim_power_iteration's
    // trace) in basis points, plus the sign-agreement count — cos² near
    // 10000 says the axis has settled and a third iteration buys
    // nothing. Cross-multiplied entirely in integers; all operands are
    // bounded by the FIXED ±1000 scale, so the arithmetic never grows
    // with the corpus.
    "sim_power_convergence" -> ((s, dir) => {
      // the shared pinned 64-row power-step frame — NOT a re-run of the
      // sim_power_iteration plan (that rebuild was the round-15 bench's
      // worst row, 18.8x anchor)
      val both = GramShared.powerVecs(s, dir)
      both.agg(
          count(lit(1)).as("d"),
          sum(col("v1_milli") * col("v2_milli")).as("dot"),
          sum(col("v1_milli") * col("v1_milli")).as("n1"),
          sum(col("v2_milli") * col("v2_milli")).as("n2"),
          sum((signum(col("v1_milli")) === signum(col("v2_milli")))
            .cast("long")).as("sign_agree"))
        .select(col("d"), col("dot"), col("sign_agree"),
          when(col("n1") === 0L || col("n2") === 0L, lit(0L))
            // abs before the /10 downscale: truncate-vs-floor parity on
            // a possibly negative dot, and the square ignores the sign
            .otherwise(idiv(
              idiv(abs(col("dot")), lit(10L)) *
                idiv(abs(col("dot")), lit(10L)) * 10000,
              idiv(col("n1"), lit(10L)) * idiv(col("n2"), lit(10L))))
            .as("cos2_bp"))
    })
  )

  val oracle: Map[String, String] = Map(

    "etl_subject_access" ->
      """WITH subj AS (
        |  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 500 = 7),
        |po AS (
        |  SELECT o.o_custkey, o.o_orderkey,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(o.o_orderdate AS DATE) AS od,
        |    count(l.l_orderkey) AS n_lines
        |  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY o.o_custkey, o.o_orderkey, o.o_totalprice, o.o_orderdate)
        |SELECT s.c_custkey, s.c_name,
        |  count(po.o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(po.n_lines), 0) AS BIGINT) AS n_lines,
        |  CAST(coalesce(sum(po.cents), 0) AS BIGINT) AS cents_total,
        |  strftime(min(po.od), '%Y-%m-%d') AS first_order,
        |  strftime(max(po.od), '%Y-%m-%d') AS last_order
        |FROM subj s LEFT JOIN po ON po.o_custkey = s.c_custkey
        |GROUP BY s.c_custkey, s.c_name ORDER BY s.c_custkey""".stripMargin,

    "corpus_strata_alloc" ->
      """WITH src AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |t AS (SELECT sum(n_docs) AS total, count(*) AS k,
        |        sum(CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT))
        |          AS sq_total
        |      FROM src)
        |SELECT source, n_docs,
        |  CAST(n_docs * 1000 // total AS BIGINT) AS alloc_prop,
        |  CAST(1000 // k AS BIGINT) AS alloc_equal,
        |  CAST(CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) * 1000
        |    // sq_total AS BIGINT) AS alloc_sqrt,
        |  CAST(CASE WHEN CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)
        |      * 1000 // sq_total > n_docs OR 1000 // k > n_docs
        |    THEN 1 ELSE 0 END AS BIGINT) AS cap_hit
        |FROM src, t ORDER BY source""".stripMargin,

    "sim_power_convergence" -> {
      // replay the registered sim_power_iteration trace, then the fixed
      // ±1000-scale cross-multiplied cosine
      val inner = Round10c.oracle("sim_power_iteration")
      s"""WITH pi AS ($inner)
         |SELECT count(*) AS d,
         |  CAST(sum(v1_milli * v2_milli) AS BIGINT) AS dot,
         |  CAST(sum(CASE WHEN sign(v1_milli) = sign(v2_milli)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS sign_agree,
         |  CASE WHEN sum(v1_milli * v1_milli) = 0
         |         OR sum(v2_milli * v2_milli) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST((abs(sum(v1_milli * v2_milli)) // 10)
         |         * (abs(sum(v1_milli * v2_milli)) // 10) * 10000
         |         // ((sum(v1_milli * v1_milli) // 10)
         |            * (sum(v2_milli * v2_milli) // 10)) AS BIGINT)
         |  END AS cos2_bp
         |FROM pi""".stripMargin
    }
  )
}
