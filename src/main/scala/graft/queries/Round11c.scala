package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Similarity, TextAnalysis => TA}
import graft.sources.Tables

/** Round-11 batch 4: the PQ symmetric-vs-asymmetric scoring comparison
  * (the last PQ mode the family lacked), the bounded-round full core
  * decomposition (per-node core numbers atop the k-core peel kernel),
  * and per-source bigram pseudo-entropy (the token-level sibling of
  * text_char_entropy's integer-⌊log2⌋ convention).
  */
object Round11c extends Module {

  val queries: Map[String, Q] = Map(

    // ADC vs SDC PQ scoring: asymmetric (full-precision query → LUT per
    // query) vs symmetric (query quantized too → query-INDEPENDENT
    // codeword×codeword LUT) top-10, side by side — the rank-agreement
    // readout that says what the second quantization error costs. One
    // seeds+codes build feeds both paths (checkpointed); each path is a
    // broadcast-LUT equi-join + keyed sum. Kernel:
    // Similarity.pqAdcSdcCompareWith; seeds + codes from the shared
    // PqShared build (encode once, serve every PQ entry).
    "sim_pq_adc_sdc" -> ((s, dir) =>
      Similarity.pqAdcSdcCompareWith(Tables.embeddings(s, dir), "vec_id",
        "embedding", 0L, 10, 64, 4,
        PqShared.seeds(s, dir), PqShared.codes(s, dir))),

    // Bounded-round core decomposition of the near-dup pair graph: per
    // node the highest k ∈ {1,2,3} whose 3-round k-core peel it
    // survives, emitted as the core-size histogram — the global
    // structure readout (how much of the dup graph is clique-like core
    // vs pendant fringe) that graph_kcore_peel's single-k summary can't
    // give. Each k is an independent bounded peel over the build-once
    // shared t=0.5 pair index; labels MAX-merge per node.
    "graph_core_number" -> ((s, dir) =>
      graft.ops.Graph.coreNumbers(
          TextDedup.sharedPairs05(s, dir).select(col("a"), col("b")), 3, 3)
        .groupBy(col("core"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"), max(col("node")).as("max_node"))
        .orderBy(col("core"))),

    // Per-source bigram pseudo-entropy (integer ⌊log2⌋ surrogate via
    // bin()-length, the text_char_entropy convention one level up):
    // H' = (N·ilog2 N − Σ c·ilog2 c)/N centibits over the bigram
    // distribution, with distinct-bigram count and top-bigram share —
    // low entropy + high top share = templated/repetitive source. One
    // corpus pass; the only shuffle is the map-side-combinable
    // (source, bigram) rollup.
    "text_bigram_entropy" -> ((s, dir) => {
      // the (source, bg, c) rollup IS the shared BigramShared frame
      // (a <2-token doc has no bigrams, so the old toks≥2 guard only
      // pruned rows the shingle explode already dropped)
      BigramShared.counts(s, dir)
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
          sum(col("c") * ilog2(col("c"))).as("sclog"),
          max(col("c")).as("cmax"))
        .select(col("source"), col("n"), col("n_distinct"),
          idiv((col("n") * ilog2(col("n")) - col("sclog")) * 100,
            col("n")).as("ent_cb"),
          idiv(col("cmax") * 10000, col("n")).as("top_share_bp"))
        .orderBy(col("source"))
    })
  )

  /** One bounded-round peel chain (k-core, `rounds` rounds) as CTE text
    * with prefixed names — the oracle twin of Graph.coreMembers; the
    * graph_kcore_peel oracle uses the identical unrolling. */
  private def peelChain(k: Int, p: String, rounds: Int): String =
    s"${p}e0 AS (SELECT a, b FROM pairs)" +
      (1 to rounds).map { r =>
        s""",
           |${p}d$r AS (SELECT node, count(*) AS deg FROM (
           |  SELECT a AS node FROM ${p}e${r - 1}
           |  UNION ALL SELECT b FROM ${p}e${r - 1}) u GROUP BY node),
           |${p}k$r AS (SELECT node FROM ${p}d$r WHERE deg >= $k),
           |${p}e$r AS (SELECT a, b FROM ${p}e${r - 1}
           |  WHERE a IN (SELECT node FROM ${p}k$r)
           |    AND b IN (SELECT node FROM ${p}k$r))""".stripMargin
      }.mkString

  val oracle: Map[String, String] = Map(

    "sim_pq_adc_sdc" ->
      s"""WITH ${SimMm.pqCte},
         |q AS (SELECT d, xq AS qx FROM comp WHERE vec_id = 0),
         |lut AS (
         |  SELECT w.code, CAST(w.d // 16 AS INTEGER) AS sub,
         |    CAST(sum((q.qx - w.cq) * (q.qx - w.cq)) AS BIGINT) AS qd
         |  FROM cw w JOIN q ON q.d = w.d
         |  GROUP BY w.code, CAST(w.d // 16 AS INTEGER)),
         |adc AS (
         |  SELECT e.vid, CAST(sum(l.qd) AS BIGINT) AS dist
         |  FROM enc e JOIN lut l ON e.code = l.code AND e.sub = l.sub
         |  WHERE e.rn = 1 AND e.vid <> 0 GROUP BY e.vid),
         |lutss AS (
         |  SELECT a.code AS ca, b.code AS cb,
         |    CAST(a.d // 16 AS INTEGER) AS sub,
         |    CAST(sum((a.cq - b.cq) * (a.cq - b.cq)) AS BIGINT) AS dd
         |  FROM cw a JOIN cw b ON a.d = b.d
         |  GROUP BY 1, 2, 3),
         |qc AS (SELECT sub, code AS ca FROM enc WHERE vid = 0 AND rn = 1),
         |sdc AS (
         |  SELECT e.vid, CAST(sum(l.dd) AS BIGINT) AS dist
         |  FROM enc e JOIN qc ON qc.sub = e.sub
         |  JOIN lutss l ON l.sub = e.sub AND l.ca = qc.ca AND l.cb = e.code
         |  WHERE e.rn = 1 AND e.vid <> 0 GROUP BY e.vid)
         |SELECT method, rank, vid AS vec_id, dist FROM (
         |  SELECT 'adc' AS method,
         |    CAST(row_number() OVER (ORDER BY dist, vid) AS BIGINT) AS rank,
         |    vid, dist FROM adc
         |  UNION ALL SELECT 'sdc',
         |    CAST(row_number() OVER (ORDER BY dist, vid) AS BIGINT),
         |    vid, dist FROM sdc) z
         |WHERE rank <= 10 ORDER BY method, rank""".stripMargin,

    "graph_core_number" ->
      s"""WITH ${Round10b.pairsCte},
         |${peelChain(2, "c2_", 3)},
         |${peelChain(3, "c3_", 3)},
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs) u),
         |m2 AS (SELECT DISTINCT node FROM (
         |  SELECT a AS node FROM c2_e3 UNION ALL SELECT b FROM c2_e3) u),
         |m3 AS (SELECT DISTINCT node FROM (
         |  SELECT a AS node FROM c3_e3 UNION ALL SELECT b FROM c3_e3) u),
         |lab AS (SELECT n.node,
         |    CASE WHEN n.node IN (SELECT node FROM m3) THEN 3
         |         WHEN n.node IN (SELECT node FROM m2) THEN 2
         |         ELSE 1 END AS core
         |  FROM nodes n)
         |SELECT CAST(core AS BIGINT) AS core, count(*) AS n_nodes,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM lab GROUP BY core ORDER BY core""".stripMargin,

    "text_bigram_entropy" ->
      s"""WITH t AS (SELECT source, $toksSql AS toksv FROM documents),
         |bg AS (
         |  SELECT source, unnest(list_transform(range(1, len(toksv)),
         |    i -> toksv[i] || ' ' || toksv[i+1])) AS bg
         |  FROM t WHERE len(toksv) >= 2),
         |c AS (SELECT source, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |    count(*) AS n_distinct,
         |    CAST(sum(c * (length(bin(c)) - 1)) AS BIGINT) AS sclog,
         |    CAST(max(c) AS BIGINT) AS cmax
         |  FROM c GROUP BY source)
         |SELECT source, n, n_distinct,
         |  (n * (length(bin(n)) - 1) - sclog) * 100 // n AS ent_cb,
         |  cmax * 10000 // n AS top_share_bp
         |FROM a ORDER BY source""".stripMargin
  )
}
