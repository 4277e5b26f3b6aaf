package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Round-10 additions: cross-source near-dup matrix (crawl-overlap
  * audit), tolerance-bounded as-of join (staleness-aware enrichment),
  * and the bipartite degree histogram (graph health readout). House
  * conventions as everywhere: integer-exact emitted columns, capped
  * pair machinery, oracle twins in DuckDB SQL.
  */
object Round10 extends Module {

  /** The shared BPE training loop: 3 rounds of (adjacent-pair rollup →
    * 1-row broadcast top pair → per-row fuse) over the word-frequency
    * table. Returns the fused table (w, freq, seq) and the per-round
    * winning (p, cnt, round) frames. Every round is checkpointed so the
    * two consumers (text_bpe_train / text_bpe_apply) never replay
    * earlier rounds. */
  private[queries] val bpeRounds = new graft.Caches.SessionMemo[
      String, (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame])]((s, dir) => {
    import graft.ops.{TextAnalysis => TA}
    // one per (session, dataset): THREE registry consumers
    // (text_bpe_train / text_bpe_apply / text_bpe_fertility) each
    // re-ran the word-freq build + all 3 fuse rounds before round 17.
    // Every frame is pinned (Caches.shared) — a bare localCheckpoint
    // would be swept between queries and later consumers would read
    // dead, non-recomputable blocks.
      // word frequencies = Σtf over the shared term-frequency frame
      var cur = graft.Caches.shared(TokShared.tokenCounts(s, dir)
        .select(col("tok").as("w"), col("n").as("freq"))
        .withColumn("seq", concat(lit(" "),
          concat_ws(" ", transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1)))), lit(" ")))
        .select(col("w"), col("freq"), col("seq")))
      val tops = (1 to 3).map { r =>
        val pairs = cur
          .select(col("freq"), split(trim(col("seq")), " ").as("a"))
          .select(col("freq"), explode(TA.shinglesOf(col("a"), 2)).as("p"))
          .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
        val top = graft.Caches.shared( // read by the fuse AND the output union
          pairs.orderBy(col("cnt").desc, col("p")).limit(1))
        cur = graft.Caches.shared( // each round builds on the fused table
          cur.crossJoin(broadcast(top.select(col("p").as("mp"))))
            .withColumn("seq", replace(col("seq"),
              concat(lit(" "), col("mp"), lit(" ")),
              concat(lit(" "), replace(col("mp"), lit(" "), lit("")), lit(" "))))
            .select(col("w"), col("freq"), col("seq")))
        top.withColumn("round", lit(r))
      }
      (cur, tops)
    })

  /** Materialize the shared BPE rounds (bench warmup). */
  def warmBpe(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    bpeRounds(s, dir); ()
  }

  val queries: Map[String, Q] = Map(

    // Cross-source near-dup matrix: for each unordered source pair, the
    // number of t=0.5 trigram-Jaccard near-dup pairs crossing them (the
    // diagonal = within-source duplication) — the "which crawls overlap"
    // dashboard behind mixture planning. Reuses the SHARED checkpointed
    // pair index (one build serves the whole cluster family); this
    // query adds only two keyed joins against the tiny pair frame and a
    // bounded sources² rollup.
    "dedup_source_matrix" -> ((s, dir) => {
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      TextDedup.sharedPairs05(s, dir)
        .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
        .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
        .select(least(col("src_a"), col("src_b")).as("sa"),
          greatest(col("src_a"), col("src_b")).as("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("sa"), col("sb"))
    }),

    // Tolerance-bounded as-of join: each error event gets the user's
    // most recent earlier purchase ONLY if it is at most 1 hour stale —
    // the staleness contract real enrichment joins carry (a quote from
    // last week must not price today's trade). Same single-shuffle
    // union+window shape as q_asof_join, plus the integer staleness
    // column; the match ts and value come from the same window row.
    "q_asof_tolerance" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .where(col("ts").isNotNull && (col("event_type") === "error" ||
          (col("event_type") === "purchase" && col("value").isNotNull)))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_val",
          last(when(col("event_type") === "purchase", col("value")),
            ignoreNulls = true).over(w))
        .withColumn("prev_us",
          last(when(col("event_type") === "purchase", col("us")),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "error")
        .withColumn("stale_s", idiv(col("us") - col("prev_us"), lit(1000000L)))
        .select(col("event_id"), col("user_id"),
          when(col("stale_s") <= 3600, col("prev_val")).as("prev_purchase"),
          col("stale_s"))
        .orderBy(col("event_id"))
    }),

    // BPE merge training — the actual tokenizer-training loop: 3 rounds
    // of (count adjacent symbol pairs weighted by word frequency → pick
    // the most frequent pair → fuse it everywhere). All work is bounded
    // by the WORD-FREQUENCY table (the classic BPE trick — a 100 TB
    // corpus still trains on its ~1M-row vocab): one corpus pass builds
    // (word, freq), then each round is a bounded pair rollup + a 1-row
    // broadcast top pair + a per-row fuse. Sequences are space-joined
    // symbols with sentinel spaces, fused via non-regex replace —
    // identical left-to-right non-overlapping semantics in both
    // engines, so the oracle's chained-CTE replay lands on the same
    // merges. Output: (round, pair, cnt) — the learned merge table.
    "text_bpe_train" -> ((s, dir) =>
      bpeRounds(s, dir)._2.reduce(_ unionByName _)
        .select(col("round"), col("p").as("pair"), col("cnt"))
        .orderBy(col("round"))),

    // Applying the learned merges corpus-wide: the compression readout
    // tokenizer training is FOR. Still entirely on the word-frequency
    // table — per word, symbols before (= chars) vs after the 3 fuses,
    // expanded to corpus totals by frequency. One 4-column summary row,
    // integer-exact (compression in basis points via integer div).
    "text_bpe_apply" -> ((s, dir) => {
      val (cur, _) = bpeRounds(s, dir)
      cur
        .select(col("freq"), length(col("w")).cast("long").as("nb"),
          size(split(trim(col("seq")), " ")).cast("long").as("na"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("freq") * col("nb")).as("chars_before"),
          sum(col("freq") * col("na")).as("syms_after"))
        .withColumn("compression_bp",
          idiv(col("syms_after") * 10000, col("chars_before")))
    }),

    // FORWARD as-of join — the direction the registry's asof family
    // lacked: for each purchase, the user's NEXT error event and the
    // integer latency to it (the "did this purchase precede a failure"
    // attribution). Same single-shuffle union+window shape, frame
    // flipped to (1 FOLLOWING, UNBOUNDED FOLLOWING); id and timestamp
    // come from the same first-following-error row.
    "q_asof_forward" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      Tables.events(s, dir)
        .where(col("ts").isNotNull &&
          col("event_type").isin("purchase", "error"))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("next_err_id",
          first(when(col("event_type") === "error", col("event_id")),
            ignoreNulls = true).over(w))
        .withColumn("next_err_us",
          first(when(col("event_type") === "error", col("us")),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("next_err_id"),
          idiv(col("next_err_us") - col("us"), lit(1000000L)).as("latency_s"))
        .orderBy(col("event_id"))
    }),

    // Survival curve over user lifespans: for each observed lifespan d
    // (days between a user's first and last event), how many users'
    // lifespans END there and how many users survive AT LEAST d days —
    // the churn readout. Per-user rollup (one shuffle), then a suffix
    // sum over the lifespan histogram; the unpartitioned window runs
    // over the day-bounded histogram (≤ observed day range rows at any
    // volume), the two-phase-exempt bounded-frame pattern.
    "events_survival" -> ((s, dir) => {
      val life = Tables.events(s, dir).where(col("ts").isNotNull)
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("user_id"))
        .agg((max(col("day")) - min(col("day"))).as("lifespan_d"))
      val hist = life.groupBy(col("lifespan_d")).agg(count(lit(1)).as("n_end"))
      val w = Window.orderBy(col("lifespan_d").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("n_surviving", sum(col("n_end")).over(w))
        .select(col("lifespan_d"), col("n_end"), col("n_surviving"))
        .orderBy(col("lifespan_d"))
    }),

    // Share-of-parent within the returnflag rollup: each (flag, status)
    // cell's line count as integer basis points of its flag subtotal —
    // the drill-down ratio every OLAP report renders next to the raw
    // rollup. Cells and parents come from one fact aggregation tree;
    // the ≤ flags-sized parent table broadcasts.
    "q_rollup_share" -> ((s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity")).cast("long")).as("qty"))
      val parents = cells.groupBy(col("l_returnflag"))
        .agg(sum(col("n")).as("parent_n"))
      cells.join(broadcast(parents), Seq("l_returnflag"))
        .withColumn("share_bp", idiv(col("n") * 10000, col("parent_n")))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          col("qty"), col("share_bp"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Personalized PageRank from a seed set: teleport mass only to
    // every-10th supplier node, so scores measure proximity to the
    // seeds — the related-item retrieval kernel. Same integer
    // fixed-point kernel as graph_pagerank (graft.ops.Graph), rank
    // frame kept SPARSE (seeds + reached nodes only); the oracle
    // replays the 3 iterations as chained CTEs with the seed rejoin as
    // a FULL OUTER per round.
    "graph_pagerank_seeded" -> ((s, dir) => {
      val seeds = Tables.supplier(s, dir)
        .where(col("s_suppkey") % 10 === 0)
        .select(concat(lit("s:"), col("s_suppkey").cast("string")).as("node"))
      // shared degree-annotated edge frame (GraphShared): one build
      // serves the whole pagerank family
      graft.ops.Graph.personalizedPagerankFrom(
          GraphShared.prEdges(s, dir), seeds, 3)
        .where(col("pr") > 0)
        .orderBy(col("pr").desc, col("node")).limit(30)
    }),

    // Degree histogram of the supplier–part bipartite graph (the
    // graph_pagerank edge list): per side, how many nodes have each
    // degree — the skew readout that predicts PageRank iteration
    // balance. Two keyed rollups; output bounded by distinct degrees.
    "graph_degree_hist" -> ((s, dir) => {
      // the per-node degree IS the shared pagerank build's deg frame
      // (GraphShared) — the histogram is one bounded rollup on top
      GraphShared.prDeg(s, dir)
        .select(col("src"), col("od").as("deg"))
        .withColumn("side", substring(col("src"), 1, 1))
        .groupBy(col("side"), col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("side"), col("deg"))
    }),
  )

  val oracle: Map[String, String] = Map(

    // Same capped pair CTE as the dedup_clusters oracle family, rolled
    // up by unordered source pair.
    "dedup_source_matrix" ->
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
         |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5)
         |SELECT least(da.source, db.source) AS sa,
         |  greatest(da.source, db.source) AS sb, count(*) AS n_pairs
         |FROM pairs
         |JOIN documents da ON da.doc_id = pairs.a
         |JOIN documents db ON db.doc_id = pairs.b
         |GROUP BY sa, sb ORDER BY sa, sb""".stripMargin,

    // Chained-CTE replay of the 3 merge rounds — replace() is non-regex
    // left-to-right in both engines, so the fused sequences (and
    // therefore every round's pair counts) are bit-identical.
    "text_bpe_apply" ->
      s"""WITH words AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS w FROM documents) t GROUP BY w),
         |s0 AS (SELECT w, freq,
         |  ' ' || array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> substring(w, CAST(i AS INTEGER), 1)), ' ') || ' ' AS seq
         |  FROM words),
         |p1 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s0) x) y
         |  GROUP BY p),
         |t1 AS (SELECT p FROM p1 ORDER BY cnt DESC, p LIMIT 1),
         |s1 AS (SELECT s0.w, s0.freq,
         |  replace(s0.seq, ' ' || t1.p || ' ',
         |    ' ' || replace(t1.p, ' ', '') || ' ') AS seq FROM s0, t1),
         |p2 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s1) x) y
         |  GROUP BY p),
         |t2 AS (SELECT p FROM p2 ORDER BY cnt DESC, p LIMIT 1),
         |s2 AS (SELECT s1.w, s1.freq,
         |  replace(s1.seq, ' ' || t2.p || ' ',
         |    ' ' || replace(t2.p, ' ', '') || ' ') AS seq FROM s1, t2),
         |p3 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s2) x) y
         |  GROUP BY p),
         |t3 AS (SELECT p FROM p3 ORDER BY cnt DESC, p LIMIT 1),
         |s3 AS (SELECT s2.w, s2.freq,
         |  replace(s2.seq, ' ' || t3.p || ' ',
         |    ' ' || replace(t3.p, ' ', '') || ' ') AS seq FROM s2, t3),
         |agg AS (
         |  SELECT count(*) AS n_words,
         |    CAST(sum(freq * length(w)) AS BIGINT) AS chars_before,
         |    CAST(sum(freq * len(string_split(trim(seq), ' '))) AS BIGINT)
         |      AS syms_after
         |  FROM s3)
         |SELECT n_words, chars_before, syms_after,
         |  CAST((syms_after * 10000) // chars_before AS BIGINT)
         |    AS compression_bp
         |FROM agg""".stripMargin,

    "text_bpe_train" ->
      s"""WITH words AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest($toksSql) AS w FROM documents) t GROUP BY w),
         |s0 AS (SELECT freq,
         |  ' ' || array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> substring(w, CAST(i AS INTEGER), 1)), ' ') || ' ' AS seq
         |  FROM words),
         |p1 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s0) x) y
         |  GROUP BY p),
         |t1 AS (SELECT p, cnt FROM p1 ORDER BY cnt DESC, p LIMIT 1),
         |s1 AS (SELECT s0.freq,
         |  replace(s0.seq, ' ' || t1.p || ' ',
         |    ' ' || replace(t1.p, ' ', '') || ' ') AS seq FROM s0, t1),
         |p2 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s1) x) y
         |  GROUP BY p),
         |t2 AS (SELECT p, cnt FROM p2 ORDER BY cnt DESC, p LIMIT 1),
         |s2 AS (SELECT s1.freq,
         |  replace(s1.seq, ' ' || t2.p || ' ',
         |    ' ' || replace(t2.p, ' ', '') || ' ') AS seq FROM s1, t2),
         |p3 AS (SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(list_transform(range(1, len(a)),
         |    i -> a[i] || ' ' || a[i + 1])) AS p
         |  FROM (SELECT freq, string_split(trim(seq), ' ') AS a FROM s2) x) y
         |  GROUP BY p),
         |t3 AS (SELECT p, cnt FROM p3 ORDER BY cnt DESC, p LIMIT 1)
         |SELECT 1 AS round, p AS pair, cnt FROM t1
         |UNION ALL SELECT 2, p, cnt FROM t2
         |UNION ALL SELECT 3, p, cnt FROM t3
         |ORDER BY round""".stripMargin,

    "q_asof_tolerance" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |  WHERE ts IS NOT NULL AND (event_type = 'error'
        |    OR (event_type = 'purchase' AND value IS NOT NULL))),
        |w AS (
        |  SELECT event_id, user_id, event_type, us,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |      OVER win AS prev_val,
        |    last_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
        |      OVER win AS prev_us
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id,
        |  CASE WHEN (us - prev_us) // 1000000 <= 3600 THEN prev_val END
        |    AS prev_purchase,
        |  CAST((us - prev_us) // 1000000 AS BIGINT) AS stale_s
        |FROM w WHERE event_type = 'error' ORDER BY event_id""".stripMargin,

    "q_asof_forward" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IN ('purchase', 'error')),
        |w AS (
        |  SELECT event_id, user_id, event_type, us,
        |    first_value(CASE WHEN event_type = 'error' THEN event_id END
        |      IGNORE NULLS) OVER win AS next_err_id,
        |    first_value(CASE WHEN event_type = 'error' THEN us END
        |      IGNORE NULLS) OVER win AS next_err_us
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, next_err_id,
        |  CAST((next_err_us - us) // 1000000 AS BIGINT) AS latency_s
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "events_survival" ->
      """WITH l AS (
        |  SELECT user_id,
        |    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
        |      - min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
        |      AS lifespan_d
        |  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
        |h AS (SELECT lifespan_d, count(*) AS n_end FROM l GROUP BY lifespan_d)
        |SELECT lifespan_d, n_end,
        |  CAST(sum(n_end) OVER (ORDER BY lifespan_d DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_surviving
        |FROM h ORDER BY lifespan_d""".stripMargin,

    "q_rollup_share" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |p AS (SELECT l_returnflag, CAST(sum(n) AS BIGINT) AS parent_n
        |      FROM cells GROUP BY l_returnflag)
        |SELECT c.l_returnflag, c.l_linestatus, c.n, c.qty,
        |  CAST((c.n * 10000) // p.parent_n AS BIGINT) AS share_bp
        |FROM cells c JOIN p USING (l_returnflag)
        |ORDER BY c.l_returnflag, c.l_linestatus""".stripMargin,

    "graph_pagerank_seeded" -> {
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS node, sum(p.pr // d.od) AS c
           |       FROM e JOIN p${i - 1} p ON p.node = e.src
           |       JOIN deg d ON d.src = e.src
           |       GROUP BY e.dst),
           |p$i AS (
           |  SELECT coalesce(c.node, sd.node) AS node,
           |    (CASE WHEN sd.node IS NOT NULL
           |          THEN (15 * (1000000000 // ns.ns)) // 100 ELSE 0 END)
           |    + (85 * coalesce(c.c, 0)) // 100 AS pr
           |  FROM c$i c FULL OUTER JOIN seeds sd ON sd.node = c.node, ns)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT 's:' || l_suppkey AS a, 'p:' || l_partkey AS b
         |  FROM lineitem),
         |e AS (SELECT a AS src, b AS dst FROM e0
         |      UNION ALL SELECT b, a FROM e0),
         |deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
         |seeds AS (SELECT DISTINCT 's:' || s_suppkey AS node FROM supplier
         |          WHERE s_suppkey % 10 = 0),
         |ns AS (SELECT count(*) AS ns FROM seeds),
         |p0 AS (SELECT node, 1000000000 // ns AS pr FROM seeds, ns),
         |$rounds
         |SELECT node, CAST(pr AS BIGINT) AS pr FROM p3 WHERE pr > 0
         |ORDER BY pr DESC, node LIMIT 30""".stripMargin
    },

    "graph_degree_hist" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 's:' || l_suppkey AS a, 'p:' || l_partkey AS b
        |  FROM lineitem),
        |e AS (SELECT a AS src, b AS dst FROM e0
        |      UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
        |SELECT substring(src, 1, 1) AS side, deg, count(*) AS n_nodes
        |FROM deg GROUP BY side, deg ORDER BY side, deg""".stripMargin,
  )
}
