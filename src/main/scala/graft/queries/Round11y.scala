package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.sources.Tables

/** Round-11 batch 26: centrality and canonicalization policy — 2-hop
  * harmonic centrality over the capped supplier–part graph (who reaches
  * the most, discounted by distance) and the dedup keeper-strategy
  * comparison (what each canonicalization policy actually keeps).
  */
object Round11y extends Module {

  val queries: Map[String, Q] = Map(

    // 2-hop harmonic centrality (×2 integer scale: 2·|1-hop parts| +
    // |2-hop suppliers|, the truncated-horizon closeness every catalog
    // ranking uses when full BFS is unaffordable): top 20 suppliers.
    // Same cappedVia-64 projection bound as the bfs/link-prediction
    // siblings — per-part fan-out is capped, so the 2-hop expansion is
    // Σ capped-df², never |V|². Distinct per hop (BFS semantics, no
    // multiplicities).
    "graph_harmonic_2hop" -> ((s, dir) => {
      // both hops derive from shared frames: h1 IS skDeg, and the 2-hop
      // distinct reach falls out of the projection-pair frame (each
      // unordered co-occurrence pair contributes exactly one distinct
      // neighbor to each side) — the Σdeg² fan-out + distinct this
      // entry re-ran per run is already paid by GraphShared.projPairs
      val pp = GraphShared.projPairs(s, dir)
      val h1 = GraphShared.skDeg(s, dir)
        .select(col("sk"), col("deg").as("n_parts"))
      val h2 = pp.select(col("s1").as("sk"))
        .unionAll(pp.select(col("s2").as("sk")))
        .groupBy(col("sk")).agg(count(lit(1)).as("n_reach"))
      h1.join(h2, Seq("sk"), "left")
        .select(col("sk"), col("n_parts"),
          coalesce(col("n_reach"), lit(0L)).as("n_reach"))
        .withColumn("harmonic_x2",
          lit(2L) * col("n_parts") + col("n_reach"))
        .orderBy(col("harmonic_x2").desc, col("sk")).limit(20)
    }),

    // Dedup keeper-strategy comparison — what each canonicalization
    // policy actually keeps from the near-dup clusters: min-id (the
    // house default), longest (keep the most complete copy), and
    // en-first (prefer the pivot language, ties → min id). Per strategy
    // the clusters, mean kept length, and the share of English keepers —
    // the table that justifies a keeper rule before a corpus rewrite.
    // Clusters come from the build-once shared t = 0.5 pair index; the
    // strategy picks are three max-struct rollups over the same
    // member frame.
    "dedup_keeper_strategies" -> ((s, dir) => {
      val labels = Dedup.minLabelClusters(
        TextDedup.sharedPairs05(s, dir), 3)
      val members = labels
        .join(Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("lang"), col("n_chars")),
          Seq("id"))
        .localCheckpoint(true)
      def pick(tag: String, key: org.apache.spark.sql.Column) =
        members.groupBy(col("label"))
          .agg(max(struct(key.as("k"), col("id").as("kid"),
            col("lang").as("klang"), col("n_chars").as("kchars"))).as("p"))
          .select(lit(tag).as("strategy"), col("p.klang").as("lang"),
            col("p.kchars").as("n_chars"))
      val byMinId = pick("min_id", -col("id"))
      val byLongest = pick("longest", col("n_chars") * 10000000L - col("id"))
      val byEnFirst = pick("en_first",
        (col("lang") === "en").cast("long") * 10000000L - col("id"))
      byMinId.unionByName(byLongest).unionByName(byEnFirst)
        .groupBy(col("strategy"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n_chars")).as("chars_kept"),
          sum((col("lang") === "en").cast("long")).as("n_en"))
        .withColumn("mean_chars", idiv(col("chars_kept"), col("n_clusters")))
        .withColumn("en_share_bp", idiv(col("n_en") * 10000, col("n_clusters")))
        .orderBy(col("strategy"))
    })
  )

  val oracle: Map[String, String] = Map(

    "graph_harmonic_2hop" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        |pd AS (SELECT pk, count(*) AS pdeg FROM sp GROUP BY pk),
        |spc AS (SELECT sp.sk, sp.pk FROM sp JOIN pd USING (pk)
        |        WHERE pd.pdeg <= 64),
        |h1 AS (SELECT sk, count(*) AS n_parts FROM spc GROUP BY sk),
        |h2 AS (SELECT src AS sk, count(*) AS n_reach FROM (
        |    SELECT DISTINCT a.sk AS src, b.sk AS dst
        |    FROM spc a JOIN spc b ON a.pk = b.pk AND a.sk <> b.sk) z
        |  GROUP BY src)
        |SELECT h1.sk, CAST(h1.n_parts AS BIGINT) AS n_parts,
        |  CAST(coalesce(h2.n_reach, 0) AS BIGINT) AS n_reach,
        |  CAST(2 * h1.n_parts + coalesce(h2.n_reach, 0) AS BIGINT)
        |    AS harmonic_x2
        |FROM h1 LEFT JOIN h2 ON h2.sk = h1.sk
        |ORDER BY harmonic_x2 DESC, h1.sk LIMIT 20""".stripMargin,

    "dedup_keeper_strategies" -> {
      // the pair index + 3 min-label rounds replay dedup_clusters'
      // oracle verbatim (same shared t = 0.5 index), then the three
      // keeper policies pick over the same member frame
      val rounds = (1 to 3).map { i =>
        s"""l$i AS (
           |  SELECT n.id, least(n.label, coalesce(min(l.label), n.label)) AS label
           |  FROM l${i - 1} n
           |  LEFT JOIN edges e ON e.a = n.id
           |  LEFT JOIN l${i - 1} l ON l.id = e.b
           |  GROUP BY n.id, n.label)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh0 AS (
         |  SELECT doc_id AS doc, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |  FROM t),
         |dfreq AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
         |sh AS (SELECT doc, sh0.s AS s FROM sh0 JOIN dfreq USING (s) WHERE df <= 50),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |inter AS (
         |  SELECT l.doc AS a, r.doc AS b, count(*) AS inter
         |  FROM sh l JOIN sh r ON l.s = r.s WHERE l.doc < r.doc GROUP BY l.doc, r.doc),
         |pairs AS (
         |  SELECT a, b FROM inter
         |  JOIN sizes sa ON sa.doc = a JOIN sizes sb ON sb.doc = b
         |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |l0 AS (SELECT id, id AS label FROM nodes),
         |$rounds,
         |m AS (SELECT l3.id, l3.label, d.lang, d.n_chars
         |      FROM l3 JOIN documents d ON d.doc_id = l3.id),
         |k1 AS (SELECT 'en_first' AS strategy, lang, n_chars FROM (
         |    SELECT label, lang, n_chars, row_number() OVER (
         |      PARTITION BY label ORDER BY
         |        (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000000 - id
         |        DESC) AS rn
         |    FROM m) z WHERE rn = 1),
         |k2 AS (SELECT 'longest' AS strategy, lang, n_chars FROM (
         |    SELECT label, lang, n_chars, row_number() OVER (
         |      PARTITION BY label ORDER BY n_chars * 10000000 - id DESC) AS rn
         |    FROM m) z WHERE rn = 1),
         |k3 AS (SELECT 'min_id' AS strategy, lang, n_chars FROM (
         |    SELECT label, lang, n_chars, row_number() OVER (
         |      PARTITION BY label ORDER BY -id DESC) AS rn
         |    FROM m) z WHERE rn = 1),
         |u AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2
         |      UNION ALL SELECT * FROM k3)
         |SELECT strategy, count(*) AS n_clusters,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_kept,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_en,
         |  CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000
         |    // count(*) AS BIGINT) AS en_share_bp
         |FROM u GROUP BY strategy ORDER BY strategy""".stripMargin
    }
  )
}
