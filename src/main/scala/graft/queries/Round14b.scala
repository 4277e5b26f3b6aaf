package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.sources.Tables

/** Round-14 second batch: consumers of the round's SHARED winnowing
  * frame (the postings-health histogram, exact clusters to convergence
  * over the winnow pair graph, and the containment estimate — three
  * entries away from one memoized fingerprint pass, the WinnowShared
  * dividend), the LHN-normalized link-prediction score on the shared
  * capped projection, the routing-margin confidence histogram over the
  * shared trained IVF index, and the CDC op-sequence anomaly audit
  * (the "is my changelog even well-formed" pre-flight every merge
  * consumer runs before trusting an upsert stream).
  */
object Round14b extends Module {

  val queries: Map[String, Q] = Map(

    // Winnow-fingerprint index health: the log2-banded document-
    // frequency histogram of the postings — how much of the index mass
    // sits in rare (match-signal) vs common (boilerplate) fingerprints,
    // with the postings volume the df≤50 pair cap excludes surfaced as
    // capped_postings (the no-silent-caps rule as a histogram). One
    // rollup over the shared postings; output bounded by log2(n_docs)
    // bands at any corpus size.
    "text_winnow_df_hist" -> ((s, dir) =>
      WinnowShared.fpPostings(s, dir)
        .groupBy(col("f")).agg(count(lit(1)).as("df"))
        .withColumn("band", length(bin(col("df"))).cast("long"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_fps"), sum(col("df")).as("n_postings"),
          min(col("df")).as("min_df"), max(col("df")).as("max_df"),
          sum(when(col("df") > 50L, col("df")).otherwise(0L))
            .as("capped_postings"))
        .orderBy(col("band"))),

    // Exact connected components of the winnow pair graph (shared ≥ 2
    // fingerprints), run TO CONVERGENCE — the winnowing twin of
    // dedup_cc: positional fingerprints catch shared SUBSTRINGS the
    // shingle-Jaccard pair graph underweights (a long quote inside an
    // otherwise-different doc), so the two cluster views diverge
    // exactly where containment ≠ resemblance. Min-label propagation
    // with a scalar sum-fixpoint probe; oracle = recursive-CTE
    // transitive closure.
    "dedup_winnow_cc" -> ((s, dir) =>
      graft.ops.Dedup.connectedComponents(WinnowShared.winnowPairs(s, dir))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("lo"),
          max(col("id")).as("hi"))
        .orderBy(col("label"))),

    // Winnow containment estimate: shared fingerprints over the SMALLER
    // doc's distinct-fingerprint count (basis points) — the asymmetric
    // "is A inside B" signal resemblance misses, estimated from the
    // already-materialized winnow postings instead of a second shingle
    // pass (dedup_containment's exact kernel). Pairs at ≥ 5000 bp (half
    // the smaller doc's fingerprints shared) — the near-dup containment
    // cut. Join back to the per-doc nf stats is pair-sized.
    "dedup_winnow_containment" -> ((s, dir) => {
      val nf = WinnowShared.docWinnow(s, dir)
        .select(col("doc_id"), col("nf"))
      WinnowShared.winnowPairs(s, dir)
        .join(nf.select(col("doc_id").as("a"), col("nf").as("nfa")), Seq("a"))
        .join(nf.select(col("doc_id").as("b"), col("nf").as("nfb")), Seq("b"))
        .withColumn("cont_bp",
          idiv(col("shared") * 10000L, least(col("nfa"), col("nfb"))))
        .where(col("cont_bp") >= 5000L)
        .select(col("a"), col("b"), col("shared"), col("nfa"), col("nfb"),
          col("cont_bp"))
        .orderBy(col("cont_bp").desc, col("a"), col("b"))
    }),

    // Leicht–Holme–Newman link-prediction score on the shared capped
    // projection: inter / (deg·deg) in ppm — the degree-NORMALIZED
    // sibling of graph_pref_attachment's degree-product score (PA
    // rewards hubs, LHN strips hub advantage: a pair sharing 3 of their
    // 3 parts outranks a hub pair sharing 30 of 900). Same capped-64
    // pair bound; integer-exact ppm; top 20.
    "graph_lhn_index" -> ((s, dir) => {
      val deg = GraphShared.skDeg(s, dir)
      GraphShared.projPairs(s, dir)
        .join(deg.select(col("sk").as("s1"), col("deg").as("d1")), Seq("s1"))
        .join(deg.select(col("sk").as("s2"), col("deg").as("d2")), Seq("s2"))
        .withColumn("lhn_ppm",
          idiv(col("inter") * 1000000L, col("d1") * col("d2")))
        .select(col("s1"), col("s2"), col("inter"), col("d1"), col("d2"),
          col("lhn_ppm"))
        .orderBy(col("lhn_ppm").desc, col("s1"), col("s2")).limit(20)
    }),

    // Routing-confidence histogram over the shared trained IVF index:
    // per vector the cosine margin (bp) between its best and
    // second-best centroid, banded by 250 bp — the population near a
    // cell boundary (low margin) is exactly the recall an nprobe=1
    // search loses and multi-probe recovers, so this histogram IS the
    // nprobe sizing evidence. One broadcast-centroid rank pass (the
    // probe-curve shape) + a per-vector pivot; output bounded by
    // 10000/250 bands.
    "sim_routing_margin" -> ((s, dir) => {
      val t = SimIvf.sharedAuto(s, dir)
      Similarity.lloydRankedArr(t.quant, t.centArr)
        .where(col("rn") <= 2)
        .groupBy(col("vid"))
        .agg(max(when(col("rn") === 1, col("cos_bp"))).as("cos1"),
          max(when(col("rn") === 2, col("cos_bp"))).as("cos2"))
        .withColumn("margin_bp", col("cos1") - col("cos2"))
        .withColumn("band", idiv(col("margin_bp"), lit(250L)))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("margin_bp")).as("min_margin"),
          max(col("margin_bp")).as("max_margin"))
        .orderBy(col("band"))
    }),

    // CDC op-sequence anomaly audit: model the event stream as a
    // changelog (signup = insert, purchase = update, error = delete per
    // key) and count the per-key op transitions a well-formed log never
    // produces — update/delete before any insert, insert on a live key,
    // update after delete, double delete. The "is my changelog even
    // well-formed" pre-flight a merge consumer runs before trusting an
    // upsert stream; one per-key ordered lag (partitioned window — scale
    // = keys × their op counts) + a ≤5-row rollup.
    "etl_cdc_anomalies" -> ((s, dir) => {
      val ops = Tables.events(s, dir)
        .where(col("ts").isNotNull &&
          col("event_type").isin("signup", "purchase", "error"))
        .select(col("user_id"), col("event_id"),
          when(col("event_type") === "signup", lit("i"))
            .when(col("event_type") === "purchase", lit("u"))
            .otherwise(lit("d")).as("op"),
          col("ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ops.withColumn("prev", lag(col("op"), 1).over(w))
        .withColumn("violation",
          when(col("op") === "i" && col("prev").isin("i", "u"),
            "insert_on_live")
            .when(col("op") === "u" && col("prev") === "d",
              "update_after_delete")
            .when(col("op") === "u" && col("prev").isNull,
              "update_before_insert")
            .when(col("op") === "d" && col("prev") === "d", "double_delete")
            .when(col("op") === "d" && col("prev").isNull,
              "delete_before_insert"))
        .where(col("violation").isNotNull)
        .groupBy(col("violation"))
        .agg(count(lit(1)).as("n_ops"),
          countDistinct(col("user_id")).as("n_keys"))
        .orderBy(col("violation"))
    })
  )

  // --- oracle SQL -------------------------------------------------------

  /** The per-doc winnow fingerprint CTE chain (tokens → 3-shingles →
    * md5 → w=4 window minima → distinct postings) — the SQL twin of
    * WinnowShared.docWinnow, shared by this file's three winnow oracles
    * and identical to the dedup_winnow_pairs / text_template_fps
    * chains. */
  private val winnowFpCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |s AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh FROM t),
       |h AS (SELECT doc_id, list_transform(sh, x -> md5(x)) AS h
       |      FROM s WHERE len(sh) >= 4),
       |w AS (SELECT doc_id, list_transform(range(1, len(h) - 2),
       |    i -> list_aggregate(h[i:i+3], 'min')) AS wins FROM h),
       |fp AS (SELECT doc_id, unnest(list_distinct(wins)) AS f FROM w)""".stripMargin

  /** The df≤50-capped winnow pair CTEs (REFERENCES `fp` — place
    * [[winnowFpCtes]] first): the SQL twin of WinnowShared.winnowPairs
    * including the shared ≥ 2 gate. */
  private val winnowPairCtes: String =
    """dfreq AS (SELECT f, count(*) AS df FROM fp GROUP BY f),
      |cap AS (SELECT doc_id, fp.f AS f FROM fp JOIN dfreq USING (f)
      |        WHERE df <= 50),
      |p AS (SELECT a, b, shared FROM (
      |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared
      |  FROM cap l JOIN cap r ON l.f = r.f AND l.doc_id < r.doc_id
      |  GROUP BY l.doc_id, r.doc_id) x WHERE shared >= 2)""".stripMargin

  import SimMm.{milliNormCte, cosBpSql}

  val oracle: Map[String, String] = Map(

    "text_winnow_df_hist" ->
      s"""WITH $winnowFpCtes,
         |dfreq AS (SELECT f, count(*) AS df FROM fp GROUP BY f)
         |SELECT CAST(length(bin(df)) AS BIGINT) AS band,
         |  count(*) AS n_fps, CAST(sum(df) AS BIGINT) AS n_postings,
         |  min(df) AS min_df, max(df) AS max_df,
         |  CAST(sum(CASE WHEN df > 50 THEN df ELSE 0 END) AS BIGINT)
         |    AS capped_postings
         |FROM dfreq GROUP BY 1 ORDER BY band""".stripMargin,

    "dedup_winnow_cc" ->
      s"""WITH RECURSIVE $winnowFpCtes,
         |$winnowPairCtes,
         |edges AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS id, least(a, min(b)) AS label
         |           FROM reach GROUP BY a)
         |SELECT label, count(*) AS n_members, min(id) AS lo, max(id) AS hi
         |FROM labels GROUP BY label ORDER BY label""".stripMargin,

    "dedup_winnow_containment" ->
      s"""WITH $winnowFpCtes,
         |$winnowPairCtes,
         |nf AS (SELECT doc_id, CAST(len(list_distinct(wins)) AS BIGINT)
         |         AS nf FROM w)
         |SELECT p.a, p.b, p.shared, na.nf AS nfa, nb.nf AS nfb,
         |  CAST(p.shared * 10000 // least(na.nf, nb.nf) AS BIGINT) AS cont_bp
         |FROM p JOIN nf na ON na.doc_id = p.a JOIN nf nb ON nb.doc_id = p.b
         |WHERE p.shared * 10000 // least(na.nf, nb.nf) >= 5000
         |ORDER BY cont_bp DESC, p.a, p.b""".stripMargin,

    "graph_lhn_index" ->
      s"""WITH ${Round14.projCtes},
         |sd AS (SELECT sk, count(*) AS d FROM spc GROUP BY sk)
         |SELECT p.s1, p.s2, CAST(p.inter AS BIGINT) AS inter,
         |  CAST(d1.d AS BIGINT) AS d1, CAST(d2.d AS BIGINT) AS d2,
         |  CAST(p.inter * 1000000 // (d1.d * d2.d) AS BIGINT) AS lhn_ppm
         |FROM pairs p
         |JOIN sd d1 ON d1.sk = p.s1
         |JOIN sd d2 ON d2.sk = p.s2
         |ORDER BY lhn_ppm DESC, p.s1, p.s2 LIMIT 20""".stripMargin,

    "sim_routing_margin" ->
      s"""WITH $milliNormCte,
         |${Round12.ivfAutoCtes},
         |rk AS (
         |  SELECT x.vec_id, ${cosBpSql("x.dxc", "v.dxx", "k.dcc")} AS cos_bp,
         |    row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY ${cosBpSql("x.dxc", "v.dxx", "k.dcc")} DESC,
         |        x.cell) AS rn
         |  FROM dxc x JOIN dxx v USING (vec_id) JOIN dcc k USING (cell)),
         |t2 AS (
         |  SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN cos_bp END) AS cos1,
         |    max(CASE WHEN rn = 2 THEN cos_bp END) AS cos2
         |  FROM rk WHERE rn <= 2 GROUP BY vec_id),
         |m AS (SELECT vec_id, cos1 - cos2 AS margin_bp FROM t2)
         |SELECT margin_bp // 250 AS band, count(*) AS n_vectors,
         |  min(margin_bp) AS min_margin, max(margin_bp) AS max_margin
         |FROM m GROUP BY 1 ORDER BY band""".stripMargin,

    "etl_cdc_anomalies" ->
      """WITH o AS (
        |  SELECT user_id, event_id,
        |    CASE event_type WHEN 'signup' THEN 'i'
        |      WHEN 'purchase' THEN 'u' ELSE 'd' END AS op,
        |    CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |  WHERE ts IS NOT NULL
        |    AND event_type IN ('signup', 'purchase', 'error')),
        |l AS (SELECT user_id, op, lag(op) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM o),
        |v AS (SELECT user_id,
        |    CASE WHEN op = 'i' AND prev IN ('i', 'u') THEN 'insert_on_live'
        |         WHEN op = 'u' AND prev = 'd' THEN 'update_after_delete'
        |         WHEN op = 'u' AND prev IS NULL THEN 'update_before_insert'
        |         WHEN op = 'd' AND prev = 'd' THEN 'double_delete'
        |         WHEN op = 'd' AND prev IS NULL THEN 'delete_before_insert'
        |    END AS violation
        |  FROM l)
        |SELECT violation, count(*) AS n_ops,
        |  count(DISTINCT user_id) AS n_keys
        |FROM v WHERE violation IS NOT NULL
        |GROUP BY violation ORDER BY violation""".stripMargin
  )
}
