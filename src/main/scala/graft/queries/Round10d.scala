package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-10 fourth batch: privacy re-identification audit (k-anonymity
  * equivalence classes), data profiling (functional-dependency
  * discovery), robust trend estimation (Theil–Sen median-of-slopes),
  * and sequential hypothesis testing (SPRT log-likelihood ledger).
  * House conventions throughout: integer-exact emitted columns
  * (basis-point / milli-nat scales with truncating `div`, matching
  * DuckDB `//`), capped pair fan-out, bounded window frames, and a
  * DuckDB oracle twin per query.
  */
object Round10d extends Module {

  val queries: Map[String, Q] = Map(

    // k-anonymity audit over customer quasi-identifiers (nation,
    // market segment, $1000 account-balance band): every row in an
    // equivalence class of size < k is re-identifiable by an attacker
    // who knows the QI triple. One keyed rollup builds the classes;
    // the k ∈ {2,5,10} sweep explodes the TINY class frame (one row
    // per class, not per customer), so the sweep costs nothing extra
    // at any corpus size. Balance cents are offset +100000 before the
    // band `div` so the quotient is computed on positives (trunc ==
    // floor) on both engines.
    "etl_k_anonymity" -> ((s, dir) => {
      val cls = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          idiv(round(col("c_acctbal") * 100).cast("long") + lit(100000L),
            lit(100000L)).as("bal_band"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("cls_n"))
      cls.select(col("cls_n"),
          explode(array(lit(2L), lit(5L), lit(10L))).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_classes"),
          count(when(col("cls_n") < col("k"), 1)).as("risk_classes"),
          coalesce(sum(when(col("cls_n") < col("k"), col("cls_n"))
            .otherwise(lit(0L))), lit(0L)).as("risk_rows"),
          sum(col("cls_n")).as("n_rows"))
        .select(col("k"), col("n_classes"), col("risk_classes"),
          col("risk_rows"),
          idiv(col("risk_rows") * 10000, col("n_rows")).as("risk_bp"))
        .orderBy(col("k"))
    }),

    // Functional-dependency discovery over a literal candidate list:
    // for each det → dep pair, the number of determinant values, how
    // many map to >1 dependent value (violations), the surplus value
    // count, and the support share. One count-distinct rollup per
    // candidate — each is a single shuffle on the determinant, so the
    // profile scales with the table like any groupBy. The det-keyed
    // partial aggregation means per-key state is one small set.
    "etl_fd_discovery" -> ((s, dir) => {
      // r18 (§6 one scan per table): every candidate pair OF THE SAME
      // TABLE rides one scan — each row fans out to its (fd, det, dep)
      // candidates via a literal-array explode, and the partial
      // aggregation on (fd, det, dep) collapses the fan-out before the
      // exchange, so scan count halves on lineitem while shuffle bytes
      // stay the per-candidate distinct tuples they always were. `dep`
      // is cast to string so heterogeneous candidate pairs share one
      // frame — injective, so per-det distinct counts are unchanged.
      def fds(df: DataFrame, pairs: Seq[(String, String, String)]) = {
        // the fan-out rows carry a 1-byte candidate id, never the label
        // string — the label attaches on the bounded per-candidate rollup
        val label = pairs.zipWithIndex
          .map { case ((_, _, l), i) => (i, l) }
          .foldLeft(lit(null).cast("string")) { case (e, (i, l)) =>
            when(col("fdi") === i, lit(l)).otherwise(e)
          }
        df.select(explode(array(pairs.zipWithIndex.map { case ((det, dep, _), i) =>
            struct(lit(i).cast("byte").as("fdi"),
              col(det).cast("long").as("det"),
              col(dep).cast("string").as("dep"))
          }: _*)).as("x"))
          .select(col("x.fdi").as("fdi"), col("x.det").as("det"),
            col("x.dep").as("dep"))
          .groupBy(col("fdi"), col("det"))
          .agg(countDistinct(col("dep")).as("nd"))
          .groupBy(col("fdi"))
          .agg(count(lit(1)).as("n_det"),
            count(when(col("nd") > 1, 1)).as("n_violating"),
            coalesce(sum(col("nd") - 1), lit(0L)).as("extra_values"))
          .select(label.as("fd"), col("n_det"), col("n_violating"),
            col("extra_values"),
            idiv((col("n_det") - col("n_violating")) * 10000, col("n_det"))
              .as("support_bp"))
      }
      fds(Tables.lineitem(s, dir), Seq(
          ("l_orderkey", "l_returnflag", "lineitem: l_orderkey -> l_returnflag"),
          ("l_partkey", "l_suppkey", "lineitem: l_partkey -> l_suppkey")))
        .unionAll(fds(Tables.orders(s, dir), Seq(
          ("o_custkey", "o_orderpriority", "orders: o_custkey -> o_orderpriority"))))
        .unionAll(fds(Tables.customer(s, dir), Seq(
          ("c_nationkey", "c_mktsegment", "customer: c_nationkey -> c_mktsegment"))))
        .orderBy(col("fd"))
    }),

    // Theil–Sen robust trend per event type: the median of pairwise
    // slopes between daily counts — the estimator that shrugs off the
    // outlier days OLS chases. Slopes are milli-units via truncating
    // div; the median is the LOWER median (row (n+1) div 2 of the
    // (slope, d1, d2) order — deterministic under ties on both
    // engines). Scale rule: the pair fan-out is capped to the most
    // recent 40 days per type, so pairs per type are ≤ C(40,2) = 780
    // forever — the cap, not the corpus, bounds the self-join.
    "events_theil_sen" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
        .withColumn("d",
          datediff(col("day"), to_date(lit("2024-01-01"))).cast("long"))
      val recent = Window.partitionBy(col("event_type")).orderBy(col("d").desc)
      val capped = daily.withColumn("rk", row_number().over(recent))
        .where(col("rk") <= 40).select(col("event_type"), col("d"), col("n"))
      val slopes = capped.select(col("event_type"), col("d").as("d1"), col("n").as("n1"))
        .join(capped.select(col("event_type"), col("d").as("d2"), col("n").as("n2")),
          Seq("event_type"))
        .where(col("d1") < col("d2"))
        .select(col("event_type"), col("d1"), col("d2"),
          idiv((col("n2") - col("n1")) * 1000, col("d2") - col("d1"))
            .as("slope_milli"))
      val bySlope = Window.partitionBy(col("event_type"))
        .orderBy(col("slope_milli"), col("d1"), col("d2"))
      slopes.withColumn("rn", row_number().over(bySlope))
        .withColumn("n_pairs", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .where(col("rn") === idiv(col("n_pairs") + 1, lit(2L)))
        .select(col("event_type"), col("n_pairs"),
          col("slope_milli").as("ts_slope_milli"))
        .orderBy(col("event_type"))
    }),

    // SPRT conversion-rate ledger: Wald's sequential test of
    // H0: p = 0.18 vs H1: p = 0.22 on the daily purchase share,
    // as a running log-likelihood-ratio in milli-nats with LITERAL
    // per-event increments (ln(22/18) ≈ +201 m∇, ln(78/82) ≈ −50 m∇)
    // so parity never rides a log implementation. Decision thresholds
    // ±ln(0.95/0.05) ≈ ±2944 m∇ (α = β = 0.05). Day-grain ledger: the
    // global running window is over ≤ one row per day, so the single
    // partition it implies is bounded by the calendar, not the corpus.
    "events_sprt" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .where(col("ts").isNotNull)
        .select(to_date(col("ts")).as("day"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("c"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("n_conv"))
        .withColumn("llr_milli_day",
          col("n_conv") * 201L - (col("n") - col("n_conv")) * 50L)
      val cum = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_llr_milli", sum(col("llr_milli_day")).over(cum))
        .select(iso(col("day")).as("day"), col("n"), col("n_conv"),
          col("llr_milli_day"), col("cum_llr_milli"),
          when(col("cum_llr_milli") >= 2944L, lit("reject_h0"))
            .when(col("cum_llr_milli") <= -2944L, lit("accept_h0"))
            .otherwise(lit("continue")).as("decision"))
        .orderBy(col("day"))
    }),

    // Deterministic weighted priority sampling (Efraimidis–Spirakis
    // style with an integer surrogate key): priority = h32 * 1000 div w
    // for an md5-derived 32-bit hash — heavier docs draw smaller
    // priorities proportionally more often, and BOTH engines compute
    // the identical key, so the sample is reproducible across reruns
    // and engines (no RNG state to ship). Top-5 per source by
    // (priority, doc_id). Scale note: the rank window sorts only each
    // source's hash/weight pairs (3 longs/row, not text); at larger k
    // a coarse priority pre-filter (priority < quantile sketch bound)
    // would bound the sort input before the shuffle.
    "corpus_sample_weighted" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          greatest(lit(1L), least(col("n_chars"), lit(4096L))).as("w"))
        .withColumn("h",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long"))
        .withColumn("priority", idiv(col("h") * 1000, col("w")))
      val byPriority = Window.partitionBy(col("source"))
        .orderBy(col("priority"), col("doc_id"))
      d.withColumn("rank", row_number().over(byPriority).cast("long"))
        .where(col("rank") <= 5)
        .select(col("source"), col("rank"), col("doc_id"), col("w"),
          col("priority"))
        .orderBy(col("source"), col("rank"))
    }),

    // Fellegi–Sunter-lite record-linkage scoring: candidate pairs from
    // (lang, first-token) blocks (block cap 32 — the capped-postings
    // house rule, so per-block fan-out is ≤ C(32,2) at any corpus
    // size), scored by weighted field agreement in centi-units —
    // same source +220/−50, length within 10% +180/−30, same last
    // token +240/−40 — the additive evidence model behind every
    // production entity-resolution engine. Emits the score-band
    // histogram (band = (score+1000) div 100; the +1000 offset keeps
    // the banding on positives where trunc == floor).
    "dedup_linkage_fs" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          split(trim(col("text")), " ").as("toks"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          element_at(col("toks"), 1).as("tok1"),
          element_at(col("toks"), -1).as("tokn"))
      // shared blocking kernel (graft.ops.Dedup.blockedPairs — the
      // checkpointed block-capped self-join, also under the scale
      // probe): the final plan reads the blocked frame, never the
      // corpus scan twice
      val scored = graft.ops.Dedup
        .blockedPairs(d, Seq("lang", "tok1"), "doc_id", 32)
        .withColumn("score",
          when(col("source_a") === col("source_b"), 220L).otherwise(-50L) +
          when(abs(col("n_chars_a") - col("n_chars_b")) * 10 <=
            greatest(col("n_chars_a"), col("n_chars_b")), 180L).otherwise(-30L) +
          when(col("tokn_a") === col("tokn_b"), 240L).otherwise(-40L))
      scored.groupBy(idiv(col("score") + 1000, lit(100L)).as("band"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("band"))
    }),

    // Local clustering coefficient over the near-dup pair graph:
    // lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) in basis points, banded
    // to an 11-bucket histogram — per-node closure separates nodes
    // sitting in tight duplicate cliques (band 10) from bridge nodes
    // chaining unrelated clusters (band 0), the per-node refinement of
    // graph_triangles' global census. Triangle enumeration is the
    // edge-keyed x<y<y2 join (never node×node) on the build-once
    // shared t=0.5 pair index; each triangle credits its 3 vertices.
    "graph_local_clustering" -> ((s, dir) => {
      // shared kernel (graft.ops.Graph.localClustering — the edge-keyed
      // triangle enumeration)
      graft.ops.Graph.localClustering(
          TextDedup.sharedPairs05(s, dir).select(col("a"), col("b")))
        .withColumn("band", idiv(
          idiv(col("tri") * 2 * 10000, col("deg") * (col("deg") - 1)),
          lit(1000L)))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("tri")).as("tri_credits"))
        .orderBy(col("band"))
    }),

    // k-truss peeling (k = 3, 2 rounds) of the near-dup pair graph:
    // each round keeps only edges with ≥ k−2 triangle support — the
    // EDGE-grain analogue of k-core that strips bridge edges between
    // duplicate cliques while k-core (node grain) would keep them.
    // Kernel = graft.ops.Graph.ktrussPeel.
    "graph_ktruss" -> ((s, dir) =>
      graft.ops.Graph.ktrussPeel(
        TextDedup.sharedPairs05(s, dir).select(col("a"), col("b")), 3, 2)))

  val oracle: Map[String, String] = Map(

    "etl_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS bal_band,
        |    count(*) AS cls_n
        |  FROM customer GROUP BY 1, 2, 3),
        |x AS (SELECT CAST(ks.k AS BIGINT) AS k, cls_n
        |      FROM cls CROSS JOIN (VALUES (2), (5), (10)) ks(k))
        |SELECT k, count(*) AS n_classes,
        |  CAST(count(*) FILTER (WHERE cls_n < k) AS BIGINT) AS risk_classes,
        |  CAST(coalesce(sum(CASE WHEN cls_n < k THEN cls_n ELSE 0 END), 0)
        |    AS BIGINT) AS risk_rows,
        |  CAST(coalesce(sum(CASE WHEN cls_n < k THEN cls_n ELSE 0 END), 0)
        |    * 10000 // CAST(sum(cls_n) AS BIGINT) AS BIGINT) AS risk_bp
        |FROM x GROUP BY k ORDER BY k""".stripMargin,

    "etl_fd_discovery" -> {
      def fd(table: String, det: String, dep: String, label: String) =
        s"""SELECT '$label' AS fd,
           |  count(*) AS n_det,
           |  CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_violating,
           |  CAST(coalesce(sum(nd - 1), 0) AS BIGINT) AS extra_values,
           |  CAST((count(*) - count(*) FILTER (WHERE nd > 1)) * 10000
           |    // count(*) AS BIGINT) AS support_bp
           |FROM (SELECT $det, count(DISTINCT $dep) AS nd
           |      FROM $table GROUP BY $det) z""".stripMargin
      Seq(
        fd("lineitem", "l_orderkey", "l_returnflag", "lineitem: l_orderkey -> l_returnflag"),
        fd("lineitem", "l_partkey", "l_suppkey", "lineitem: l_partkey -> l_suppkey"),
        fd("orders", "o_custkey", "o_orderpriority", "orders: o_custkey -> o_orderpriority"),
        fd("customer", "c_nationkey", "c_mktsegment", "customer: c_nationkey -> c_mktsegment"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY fd")
    },

    "events_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS d, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rk
        |  FROM daily),
        |capped AS (SELECT event_type, d, n FROM idx WHERE rk <= 40),
        |slopes AS (
        |  SELECT l.event_type, l.d AS d1, r.d AS d2,
        |    (r.n - l.n) * 1000 // (r.d - l.d) AS slope_milli
        |  FROM capped l JOIN capped r
        |    ON l.event_type = r.event_type AND l.d < r.d),
        |ranked AS (
        |  SELECT event_type, slope_milli,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope_milli, d1, d2) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_pairs
        |  FROM slopes)
        |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(slope_milli AS BIGINT) AS ts_slope_milli
        |FROM ranked WHERE rn = (n_pairs + 1) // 2
        |ORDER BY event_type""".stripMargin,

    "events_sprt" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END), 0) AS BIGINT) AS n_conv
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |led AS (
        |  SELECT day, n, n_conv,
        |    n_conv * 201 - (n - n_conv) * 50 AS llr_milli_day
        |  FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n, n_conv,
        |  CAST(llr_milli_day AS BIGINT) AS llr_milli_day,
        |  CAST(sum(llr_milli_day) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_llr_milli,
        |  CASE WHEN sum(llr_milli_day) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) >= 2944
        |    THEN 'reject_h0'
        |  WHEN sum(llr_milli_day) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= -2944
        |    THEN 'accept_h0' ELSE 'continue' END AS decision
        |FROM led ORDER BY day""".stripMargin,

    "corpus_sample_weighted" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    greatest(1, least(n_chars, 4096)) AS w,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS h
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, CAST(w AS BIGINT) AS w,
        |    h * 1000 // CAST(w AS BIGINT) AS priority
        |  FROM d),
        |r AS (
        |  SELECT source, doc_id, w, priority,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY priority, doc_id) AS rank
        |  FROM p)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, w, priority
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "dedup_linkage_fs" ->
      s"""WITH t AS (SELECT doc_id, lang, source, n_chars,
         |    $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id, lang, source, n_chars,
         |    toks[1] AS tok1, toks[-1] AS tokn FROM t),
         |blk AS (SELECT lang, tok1 FROM (
         |  SELECT lang, tok1, count(*) AS bn FROM d GROUP BY 1, 2) z
         |  WHERE bn <= 32),
         |db AS (SELECT d.* FROM d JOIN blk USING (lang, tok1)),
         |scored AS (
         |  SELECT (CASE WHEN l.source = r.source THEN 220 ELSE -50 END +
         |    CASE WHEN abs(l.n_chars - r.n_chars) * 10 <=
         |      greatest(l.n_chars, r.n_chars) THEN 180 ELSE -30 END +
         |    CASE WHEN l.tokn = r.tokn THEN 240 ELSE -40 END) AS score
         |  FROM db l JOIN db r
         |    ON l.lang = r.lang AND l.tok1 = r.tok1 AND l.doc_id < r.doc_id)
         |SELECT CAST((score + 1000) // 100 AS BIGINT) AS band,
         |  count(*) AS n_pairs,
         |  CAST(min(score) AS BIGINT) AS min_score,
         |  CAST(max(score) AS BIGINT) AS max_score
         |FROM scored GROUP BY 1 ORDER BY band""".stripMargin,

    "graph_local_clustering" ->
      s"""WITH ${Round10b.pairsCte},
         |e0 AS (SELECT a, b FROM pairs),
         |deg AS (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) u
         |  GROUP BY node),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS y2
         |  FROM e0 e1 JOIN e0 e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b),
         |tn AS (SELECT node, count(*) AS tri FROM (
         |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT y2 FROM tri) u GROUP BY node),
         |v AS (SELECT deg.node, deg.deg, coalesce(tn.tri, 0) AS tri
         |  FROM deg LEFT JOIN tn USING (node) WHERE deg.deg >= 2)
         |SELECT (tri * 2 * 10000 // (deg * (deg - 1))) // 1000 AS band,
         |  count(*) AS n_nodes, CAST(sum(tri) AS BIGINT) AS tri_credits
         |FROM v GROUP BY 1 ORDER BY band""".stripMargin,

    "graph_ktruss" ->
      s"""WITH ${Round10b.pairsCte},
         |e0 AS (SELECT a, b FROM pairs),
         |s0 AS (SELECT a AS u, b AS w FROM e0
         |  UNION ALL SELECT b, a FROM e0),
         |p0 AS (SELECT e.a, e.b, count(*) AS sup FROM e0 e
         |  JOIN s0 x ON x.u = e.a JOIN s0 y ON y.u = e.b AND y.w = x.w
         |  GROUP BY e.a, e.b),
         |e1 AS (SELECT a, b FROM p0 WHERE sup >= 1),
         |s1 AS (SELECT a AS u, b AS w FROM e1
         |  UNION ALL SELECT b, a FROM e1),
         |p1 AS (SELECT e.a, e.b, count(*) AS sup FROM e1 e
         |  JOIN s1 x ON x.u = e.a JOIN s1 y ON y.u = e.b AND y.w = x.w
         |  GROUP BY e.a, e.b),
         |e2 AS (SELECT a, b FROM p1 WHERE sup >= 1)
         |SELECT CAST(1 AS BIGINT) AS round,
         |  (SELECT count(*) FROM e0) AS n_edges_in,
         |  (SELECT count(*) FROM e1) AS n_edges_kept,
         |  (SELECT count(*) FROM e0) - (SELECT count(*) FROM e1) AS n_dropped
         |UNION ALL SELECT 2, (SELECT count(*) FROM e1),
         |  (SELECT count(*) FROM e2),
         |  (SELECT count(*) FROM e1) - (SELECT count(*) FROM e2)
         |ORDER BY round""".stripMargin)
}
