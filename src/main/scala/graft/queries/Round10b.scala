package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{TextAnalysis => TA}

/** Round-10 continuation: graph census kernels (triangle closure,
  * bipartite-projection similarity), decorrelation shapes (EXISTS chain,
  * relational division), the two-phase sequence-gap audit, sorted-
  * neighborhood dedup (the classic ER alternative to LSH blocking),
  * lexical-diversity bands, and the multimodal QA sampler. House
  * conventions as everywhere: integer-exact emitted columns, capped /
  * blocked pair machinery, DuckDB oracle twins.
  */
object Round10b extends Module {

  val queries: Map[String, Q] = Map(

    // Triangle census of the near-dup pair graph: edges, wedges (open
    // two-paths), triangles, and the global clustering coefficient in
    // basis points (3·triangles / wedges). High closure means duplicate
    // clusters are tight cliques (safe to collapse to one canonical doc);
    // low closure means chained drift (A~B~C but A≁C), where transitive
    // collapse loses distinct content. Reuses the build-once shared
    // t=0.5 pair index; the triangle join is edge-keyed (never node×node)
    // and all scalar frames broadcast.
    "graph_triangles" -> ((s, dir) => {
      val e = TextDedup.sharedPairs05(s, dir).select(col("a"), col("b"))
      val edges = e.agg(count(lit(1)).as("n_edges"))
      val wedges = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .agg(coalesce(sum(idiv(col("deg") * (col("deg") - 1), lit(2L))), lit(0L))
          .as("n_wedges"))
      val e1 = e.select(col("a").as("x"), col("b").as("y"))
      val e2 = e.select(col("a").as("x2"), col("b").as("y2"))
      val e3 = e.select(col("a").as("x3"), col("b").as("y3"))
      val tri = e1.join(e2, col("x") === col("x2") && col("y") < col("y2"))
        .join(e3, col("x3") === col("y") && col("y3") === col("y2"))
        .agg(count(lit(1)).as("n_triangles"))
      edges.crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          when(col("n_wedges") === 0, lit(0L))
            .otherwise(expr("(n_triangles * 3 * 10000) div n_wedges"))
            .as("closure_bp"))
    }),

    // Supplier similarity by shared parts — the one-mode projection of
    // the supplier–part bipartite graph ("related sellers" retrieval).
    // Pair generation joins the edge list to itself ON PART, so fan-out
    // per part is C(deg, 2); hub parts above the 64-supplier cap are
    // dropped first (the capped-postings house rule — at 100 TB a few
    // universal parts would otherwise dominate the shuffle while adding
    // no ranking signal). Degrees are computed on the SAME capped graph
    // and broadcast (≤ supplier count rows).
    "graph_common_neighbors" -> ((s, dir) => {
      // the capped projection is the SHARED per-(session, dataset)
      // frame (GraphShared): built+checkpointed once for the whole
      // graph family. Kernel = graft.ops.Graph.{cappedVia,
      // projectionPairs}.
      val deg = GraphShared.skDeg(s, dir)
      val pairs = GraphShared.projPairs(s, dir)
      pairs
        .join(broadcast(deg.select(col("sk").as("s1"), col("deg").as("d1"))), Seq("s1"))
        .join(broadcast(deg.select(col("sk").as("s2"), col("deg").as("d2"))), Seq("s2"))
        .withColumn("jaccard_bp",
          idiv(col("inter") * 10000, col("d1") + col("d2") - col("inter")))
        .select(col("s1"), col("s2"), col("inter"), col("d1"), col("d2"),
          col("jaccard_bp"))
        .orderBy(col("jaccard_bp").desc, col("s1"), col("s2")).limit(20)
    }),

    // EXISTS + NOT EXISTS chain: customers active in 1995 who placed no
    // 1996 order — the churned-account report, and the decorrelation
    // shape (semi join then anti join against the same filtered fact)
    // optimizers most often get wrong. Both order sides reduce to
    // distinct custkeys BEFORE joining the dimension.
    "q_exists_chain" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      val c95 = o.where(col("yr") === 1995)
        .select(col("o_custkey").as("c_custkey")).distinct()
      val c96 = o.where(col("yr") === 1996)
        .select(col("o_custkey").as("c_custkey")).distinct()
      Tables.customer(s, dir)
        .join(c95, Seq("c_custkey"), "left_semi")
        .join(c96, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
        .orderBy(col("c_custkey"))
    }),

    // Relational division by day: for each user, how many active days
    // saw EVERY observed event type (the "complete engagement"
    // criterion). The divisor — the global distinct-type count — is a
    // 1-row scalar broadcast (the q_scalar_subquery shape); everything
    // else is two keyed rollups over the deduped (user, day, type) set.
    "q_rel_division" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("event_type").isNotNull)
      val ut = e.select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type")).distinct()
      val nt = e.select(col("event_type")).distinct()
        .agg(count(lit(1)).as("n_types"))
      ut.groupBy(col("user_id"), col("d")).agg(count(lit(1)).as("k"))
        .crossJoin(broadcast(nt))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("k") === col("n_types"), 1L).otherwise(0L))
            .as("n_full_days"))
        .orderBy(col("user_id"))
    }),

    // Sequence-gap audit over a keyed subset (here: urgent orders) — the
    // changelog-completeness check a replica consumer runs ("which ids
    // never arrived?"). TWO-PHASE so no window ever spans the key space:
    // gaps are found inside 4096-key blocks (partitioned window), then
    // the per-block (min, max) boundary frame — one row per block, never
    // key-sized — stitches the cross-block gaps. Output is the bounded
    // gap-length histogram.
    "etl_seq_gaps" -> ((s, dir) => {
      val k = Tables.orders(s, dir)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k")).distinct()
        .withColumn("blk", idiv(col("k"), lit(4096L)))
      val wl = Window.partitionBy(col("blk")).orderBy(col("k"))
      val local = k.withColumn("nk", lead(col("k"), 1).over(wl))
        .where(col("nk") > col("k") + 1)
        .select((col("nk") - col("k") - 1).as("glen"))
      val bounds = k.groupBy(col("blk"))
        .agg(min(col("k")).as("bmin"), max(col("k")).as("bmax"))
      // one row per 4096-key block: bounded at any scale
      val wb = Window.orderBy(col("blk"))
      val cross = bounds.withColumn("nmin", lead(col("bmin"), 1).over(wb))
        .where(col("nmin") > col("bmax") + 1)
        .select((col("nmin") - col("bmax") - 1).as("glen"))
      local.unionAll(cross).groupBy(col("glen"))
        .agg(count(lit(1)).as("n_gaps"))
        .withColumn("missing_ids", col("glen") * col("n_gaps"))
        .orderBy(col("glen"))
    }),

    // Sorted-neighborhood dedup — the classic entity-resolution
    // alternative to LSH blocking: sort docs by their winnowing
    // fingerprint (min shingle md5) and verify only each doc against its
    // next 2 neighbors in GLOBAL sort order, so candidates are O(n·w)
    // instead of O(n²). The sort is BLOCKED by the key's two leading hex
    // digits (256-way parallel; no task ever sorts the corpus) with a
    // bounded boundary-row carry recovering the cross-block pairs, so
    // the result is EXACTLY the unblocked w-neighbor semantics — the
    // oracle replays it with one flat window; verification is per-pair
    // trigram Jaccard ≥ 0.5 as integer cross-multiplication over the
    // already-carried shingle arrays — no second shuffle.
    // Kernel = graft.ops.Dedup.snmPairsDist.
    "dedup_sorted_neighborhood" -> ((s, dir) =>
      // the w=2 semantics read off the SHARED w=4 tagged build
      // (SnmShared): a pair's global-order offset is window-invariant
      SnmShared.pairs4(s, dir).where(col("dist") <= 2).drop("dist")
        .orderBy(col("a"), col("b"))),

    // Type-token-ratio bands per source: per-doc lexical diversity
    // (distinct tokens / tokens, basis points), banded into deciles —
    // the repetitiveness filter a curation pipeline applies before
    // training (low TTR = boilerplate / template spam). Pure per-row
    // projection + one keyed rollup; output bounded by sources × 11.
    "text_ttr_bands" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), TA.tokens(col("text")).as("toks"))
        .where(size(col("toks")) > 0)
        .withColumn("ttr_bp",
          idiv(size(array_distinct(col("toks"))).cast("long") * 10000,
            size(col("toks")).cast("long")))
        .withColumn("band", idiv(col("ttr_bp"), lit(1000L)))
        .groupBy(col("source"), col("band"))
        .agg(count(lit(1)).as("n_docs"), min(col("ttr_bp")).as("min_ttr_bp"),
          max(col("ttr_bp")).as("max_ttr_bp"))
        .orderBy(col("source"), col("band"))),

    // QA sampling over binary payloads: per (format, size band), the cell
    // population and one deterministic representative (largest blob,
    // doc_id tiebreak) — the "eyeball one per cell" review queue a
    // multimodal ingest pipeline feeds to human QA. Same format sniff +
    // log2 size band as mm_size_hist; one shuffle, both windows share it.
    "mm_qa_sample" -> ((s, dir) => {
      val magic = substring(col("text"), 1, 1)
      val d = Tables.documents(s, dir)
        .withColumn("format",
          when(magic.between("a", "f"), "image")
            .when(magic.between("g", "p"), "audio")
            .when(magic.between("q", "z"), "video")
            .otherwise("binary"))
        .withColumn("bytes", length(col("text")).cast("long"))
        .withColumn("bucket", length(bin(col("bytes"))).cast("long"))
      val wp = Window.partitionBy(col("format"), col("bucket"))
      val wr = wp.orderBy(col("bytes").desc, col("doc_id"))
      d.withColumn("rn", row_number().over(wr))
        .withColumn("n_docs", count(lit(1)).over(wp))
        .where(col("rn") === 1)
        .select(col("format"), col("bucket"), col("n_docs"),
          col("doc_id").as("sample_doc"), col("bytes").as("sample_bytes"))
        .orderBy(col("format"), col("bucket"))
    }),

    // EXACT interpolated quartiles (percentile_cont without the double):
    // per segment, p25/p50/p75 of balance in QUARTER-CENTS — the ×4
    // fixed point makes the linear interpolation lo·(4−rem) + hi·rem an
    // integer identity, so the result is bit-stable cross-engine where
    // percentile_cont's float arithmetic is not. Ranks come from the
    // TWO-PHASE global rank (per-(segment, value-block) row_number +
    // broadcast block offsets — the q_percent_rank pattern), never a
    // window over a whole segment; only the ≤6 boundary rows per segment
    // survive to the final rollup.
    "q_percentile_cont_exact" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"),
          col("c_mktsegment").as("seg"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
        .withColumn("blk", expr("cents div 100000"))
      val grp = c.groupBy(col("seg"), col("blk")).agg(count(lit(1)).as("bn"))
        .localCheckpoint(true) // feeds offsets AND per-segment totals
      val wB = Window.partitionBy(col("seg")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = grp.withColumn("off", coalesce(sum(col("bn")).over(wB), lit(0L)))
        .select(col("seg"), col("blk"), col("off"))
      val tot = grp.groupBy(col("seg")).agg(sum(col("bn")).as("n"))
      val wIn = Window.partitionBy(col("seg"), col("blk"))
        .orderBy(col("cents"), col("c_custkey"))
      val ranked = c.join(broadcast(offs), Seq("seg", "blk"))
        .withColumn("rk", col("off") + row_number().over(wIn))
        .join(broadcast(tot), Seq("seg"))
      val needed = (1 to 3).map { q =>
        val idx = idiv((col("n") - 1) * q, lit(4L))
        col("rk") === idx + 1 || col("rk") === idx + 2
      }.reduce(_ || _)
      val quartiles = (1 to 3).map { q =>
        val pos = (col("n") - 1) * q
        val idx = idiv(pos, lit(4L))
        val rem = pos - idx * 4
        val lo = max(when(col("rk") === idx + 1, col("cents")))
        val hi = coalesce(max(when(col("rk") === idx + 2, col("cents"))),
          max(when(col("rk") === idx + 1, col("cents"))))
        (lo * (lit(4L) - rem) + hi * rem).as(s"p${q * 25}_x4cents")
      }
      ranked.where(needed).groupBy(col("seg"), col("n"))
        .agg(quartiles.head, quartiles.tail: _*)
        .orderBy(col("seg"))
    }),

    // 2-hop frontier expansion (the BFS kernel): per seed supplier, the
    // 1-hop part count and the 2-hop distinct supplier reach over the
    // capped bipartite graph — the neighborhood-size audit that prices
    // any traversal before running it. Both hops are keyed joins on the
    // checkpointed edge list; the frontier is deduped per hop (the
    // BFS-on-Spark shape: distinct per level, never multiplicities).
    "graph_bfs_2hop" -> ((s, dir) => {
      // both hops off the shared frames (the graph_harmonic_2hop
      // derivation, filtered to the seed set): h1 = skDeg ∩ seeds, and
      // the 2-hop distinct reach falls out of the projection-pair frame
      val seeds = Tables.supplier(s, dir)
        .where(col("s_suppkey") % 20 === 0)
        .select(col("s_suppkey").as("seed"))
      val pp = GraphShared.projPairs(s, dir)
      val h1 = seeds.join(
        GraphShared.skDeg(s, dir)
          .select(col("sk").as("seed"), col("deg").as("n_parts")),
        Seq("seed"))
      val h2 = pp.select(col("s1").as("seed"))
        .unionAll(pp.select(col("s2").as("seed")))
        .join(seeds, Seq("seed"), "left_semi")
        .groupBy(col("seed")).agg(count(lit(1)).as("n_reach"))
      h1.join(h2, Seq("seed"), "left")
        .select(col("seed"), col("n_parts"),
          coalesce(col("n_reach"), lit(0L)).as("n_reach"))
        .orderBy(col("seed"))
    }),

    // Within-payload compressibility proxy: distinct 64-char chunks /
    // total chunks per blob (bp), banded per sniffed format — the
    // cheap "is this worth compressing / is this padding" triage that
    // runs before any real codec. Pure per-row array kernel (no explode,
    // no shuffle until the bounded band rollup).
    "mm_compress_proxy" -> ((s, dir) => {
      val magic = substring(col("text"), 1, 1)
      val cc = graft.ops.Multimodal.charChunkCount(col("text"))
      Tables.documents(s, dir)
        .where(length(col("text")) > 0)
        .withColumn("format",
          when(magic.between("a", "f"), "image")
            .when(magic.between("g", "p"), "audio")
            .when(magic.between("q", "z"), "video")
            .otherwise("binary"))
        .withColumn("chunks", transform(sequence(lit(1L), cc),
          i => col("text").substr(((i - 1) * 64 + 1).cast("int"), lit(64))))
        .withColumn("uniq_bp",
          idiv(size(array_distinct(col("chunks"))).cast("long") * 10000,
            size(col("chunks")).cast("long")))
        .withColumn("band", idiv(col("uniq_bp"), lit(1000L)))
        .groupBy(col("format"), col("band"))
        .agg(count(lit(1)).as("n_docs"), min(col("uniq_bp")).as("min_bp"),
          max(col("uniq_bp")).as("max_bp"))
        .orderBy(col("format"), col("band"))
    }),

    // Positional bias of the highest-volume tokens: mean first-occurrence
    // position (bp of doc length) over the docs containing each top-10
    // token — boilerplate detection (headers cluster near 0, footers near
    // 10000). The 10-row top table broadcasts under the corpus scan (the
    // sim_batch_topk shape); position is a per-row array_position, no
    // explode of the corpus.
    "text_positional_bias" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      val top = docs.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok")).limit(10)
        .localCheckpoint(true)
      docs.crossJoin(broadcast(top))
        .withColumn("pos", array_position(col("toks"), col("tok")))
        .where(col("pos") > 0)
        .withColumn("pos_bp",
          idiv((col("pos") - 1) * 10000, size(col("toks")).cast("long")))
        .groupBy(col("tok"), col("tf"))
        .agg(count(lit(1)).as("n_docs"),
          idiv(sum(col("pos_bp")), count(lit(1))).as("mean_first_pos_bp"),
          min(col("pos_bp")).as("min_pos_bp"), max(col("pos_bp")).as("max_pos_bp"))
        .orderBy(col("tf").desc, col("tok"))
    }),

    // Anomaly persistence: consecutive-hour RUNS of burst hours (the
    // events_burst flag — ≥2× the trailing-24h observed mean with ≥12 h
    // history), as a run-length histogram — one spiky hour is noise, a
    // 3-hour run is an incident. Gaps-islands over the flagged subset of
    // the hourly rollup; every window runs over that bounded rollup.
    "events_anomaly_runs" -> ((s, dir) => {
      val hourly = Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("hr")).rowsBetween(-24, -1)
      val bursts = hourly
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("win_sum", coalesce(sum(col("n")).over(w), lit(0L)))
        .where(col("win_n") >= 12 &&
          col("n") * col("win_n") >= col("win_sum") * 2)
        .select(idiv(unix_micros(col("hr")), lit(3600000000L)).as("idx"))
      val wi = Window.orderBy(col("idx"))
      bursts.withColumn("isl", col("idx") - row_number().over(wi))
        .groupBy(col("isl"))
        .agg(count(lit(1)).as("len"), min(col("idx")).as("sidx"))
        .groupBy(col("len"))
        .agg(count(lit(1)).as("n_runs"), min(col("sidx")).as("first_start_idx"))
        .orderBy(col("len"))
    }),
  )

  /** Shared capped-pair CTE — identical to the dedup_source_matrix oracle
    * (the oracle twin of TextDedup.sharedPairs05). */
  private[queries] val pairsCte =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
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
       |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5)""".stripMargin

  val oracle: Map[String, String] = Map(

    "graph_triangles" ->
      s"""WITH $pairsCte,
         |deg AS (SELECT node, count(*) AS deg FROM (
         |  SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs) u
         |  GROUP BY node),
         |w AS (SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
         |        AS n_wedges FROM deg),
         |tr AS (SELECT count(*) AS n_triangles
         |       FROM pairs e1
         |       JOIN pairs e2 ON e1.a = e2.a AND e1.b < e2.b
         |       JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
         |ne AS (SELECT count(*) AS n_edges FROM pairs)
         |SELECT n_edges, n_wedges, n_triangles,
         |  CAST(CASE WHEN n_wedges = 0 THEN 0
         |       ELSE (n_triangles * 3 * 10000) // n_wedges END AS BIGINT)
         |    AS closure_bp
         |FROM ne, w, tr""".stripMargin,

    "graph_common_neighbors" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        |pd AS (SELECT pk, count(*) AS pd FROM sp GROUP BY pk),
        |spc AS (SELECT sk, sp.pk AS pk FROM sp JOIN pd USING (pk) WHERE pd.pd <= 64),
        |deg AS (SELECT sk, count(*) AS deg FROM spc GROUP BY sk),
        |pairs AS (SELECT a.sk AS s1, b.sk AS s2, count(*) AS inter
        |  FROM spc a JOIN spc b ON a.pk = b.pk AND a.sk < b.sk
        |  GROUP BY a.sk, b.sk)
        |SELECT s1, s2, inter, d1.deg AS d1, d2.deg AS d2,
        |  CAST(inter * 10000 // (d1.deg + d2.deg - inter) AS BIGINT) AS jaccard_bp
        |FROM pairs JOIN deg d1 ON d1.sk = s1 JOIN deg d2 ON d2.sk = s2
        |ORDER BY jaccard_bp DESC, s1, s2 LIMIT 20""".stripMargin,

    "q_exists_chain" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1995)
        |AND NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1996)
        |ORDER BY c_custkey""".stripMargin,

    "q_rel_division" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |nt AS (SELECT count(DISTINCT event_type) AS n_types FROM events
        |       WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |ud AS (SELECT user_id, d, count(*) AS k FROM ut GROUP BY user_id, d)
        |SELECT user_id, count(*) AS n_days,
        |  CAST(sum(CASE WHEN k = nt.n_types THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_full_days
        |FROM ud, nt GROUP BY user_id ORDER BY user_id""".stripMargin,

    "etl_seq_gaps" ->
      """WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |           WHERE o_orderpriority = '1-URGENT'),
        |g AS (SELECT k, lead(k) OVER (ORDER BY k) AS nk FROM k),
        |gaps AS (SELECT nk - k - 1 AS glen FROM g WHERE nk > k + 1)
        |SELECT glen, count(*) AS n_gaps,
        |  CAST(glen * count(*) AS BIGINT) AS missing_ids
        |FROM gaps GROUP BY glen ORDER BY glen""".stripMargin,

    "dedup_sorted_neighborhood" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |d AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t),
         |k AS (SELECT doc_id, sh,
         |    list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS key
         |  FROM d WHERE len(sh) > 0),
         |r AS (SELECT doc_id, sh,
         |    lead(doc_id, 1) OVER w AS nid1, lead(sh, 1) OVER w AS nsh1,
         |    lead(doc_id, 2) OVER w AS nid2, lead(sh, 2) OVER w AS nsh2
         |  FROM k WINDOW w AS (ORDER BY key, doc_id)),
         |p AS (SELECT doc_id AS da, sh AS sha, nid1 AS db, nsh1 AS shb
         |      FROM r WHERE nid1 IS NOT NULL
         |      UNION ALL
         |      SELECT doc_id, sh, nid2, nsh2 FROM r WHERE nid2 IS NOT NULL),
         |j AS (SELECT da, db, len(list_intersect(sha, shb)) AS inter,
         |    len(sha) + len(shb) - len(list_intersect(sha, shb)) AS uni FROM p)
         |SELECT least(da, db) AS a, greatest(da, db) AS b,
         |  CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
         |  CAST(inter * 10000 // uni AS BIGINT) AS jaccard_bp
         |FROM j WHERE uni > 0 AND inter * 2 >= uni ORDER BY a, b""".stripMargin,

    "text_ttr_bands" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |v AS (SELECT source,
         |    CAST(len(list_distinct(toks)) * 10000 // len(toks) AS BIGINT) AS ttr_bp
         |  FROM t WHERE len(toks) > 0)
         |SELECT source, CAST(ttr_bp // 1000 AS BIGINT) AS band,
         |  count(*) AS n_docs, min(ttr_bp) AS min_ttr_bp, max(ttr_bp) AS max_ttr_bp
         |FROM v GROUP BY source, band ORDER BY source, band""".stripMargin,

    // Single-window oracle form: the two-phase Spark rank and the flat
    // rank are the same total order, so the boundary rows agree.
    "q_percentile_cont_exact" -> {
      val qs = (1 to 3).map { q =>
        s"""max(CASE WHEN rk = ((n - 1) * $q) // 4 + 1 THEN cents END) AS lo$q,
           |  max(CASE WHEN rk = ((n - 1) * $q) // 4 + 2 THEN cents END) AS hi$q""".stripMargin
      }.mkString(",\n  ")
      val outs = (1 to 3).map { q =>
        s"""CAST(lo$q * (4 - ((n - 1) * $q) % 4)
           |    + coalesce(hi$q, lo$q) * (((n - 1) * $q) % 4) AS BIGINT)
           |    AS p${q * 25}_x4cents""".stripMargin
      }.mkString(",\n  ")
      s"""WITH c AS (SELECT c_custkey, c_mktsegment AS seg,
         |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
         |r AS (SELECT seg, cents,
         |    row_number() OVER (PARTITION BY seg ORDER BY cents, c_custkey) AS rk,
         |    count(*) OVER (PARTITION BY seg) AS n FROM c),
         |a AS (SELECT seg, n,
         |  $qs
         |  FROM r GROUP BY seg, n)
         |SELECT seg, n,
         |  $outs
         |FROM a ORDER BY seg""".stripMargin
    },

    "graph_bfs_2hop" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        |pd AS (SELECT pk, count(*) AS pd FROM sp GROUP BY pk),
        |spc AS (SELECT sk, sp.pk AS pk FROM sp JOIN pd USING (pk) WHERE pd.pd <= 64),
        |seeds AS (SELECT s_suppkey AS seed FROM supplier WHERE s_suppkey % 20 = 0),
        |h1 AS (SELECT seed, count(*) AS n_parts
        |       FROM seeds JOIN spc ON spc.sk = seeds.seed GROUP BY seed),
        |h2 AS (SELECT seed, count(DISTINCT b.sk) AS n_reach
        |       FROM seeds
        |       JOIN spc a ON a.sk = seeds.seed
        |       JOIN spc b ON b.pk = a.pk AND b.sk <> seeds.seed
        |       GROUP BY seed)
        |SELECT h1.seed, h1.n_parts, CAST(coalesce(h2.n_reach, 0) AS BIGINT) AS n_reach
        |FROM h1 LEFT JOIN h2 USING (seed) ORDER BY seed""".stripMargin,

    "mm_compress_proxy" ->
      """WITH f AS (
        |  SELECT text,
        |    CASE WHEN substring(text, 1, 1) BETWEEN 'a' AND 'f' THEN 'image'
        |         WHEN substring(text, 1, 1) BETWEEN 'g' AND 'p' THEN 'audio'
        |         WHEN substring(text, 1, 1) BETWEEN 'q' AND 'z' THEN 'video'
        |         ELSE 'binary' END AS format
        |  FROM documents WHERE length(text) > 0),
        |ch AS (SELECT format,
        |    list_transform(range(1, (length(text) + 63) // 64 + 1),
        |      i -> substring(text, CAST((i - 1) * 64 + 1 AS INTEGER), 64)) AS chunks
        |  FROM f),
        |v AS (SELECT format,
        |    CAST(len(list_distinct(chunks)) * 10000 // len(chunks) AS BIGINT)
        |      AS uniq_bp
        |  FROM ch)
        |SELECT format, CAST(uniq_bp // 1000 AS BIGINT) AS band,
        |  count(*) AS n_docs, min(uniq_bp) AS min_bp, max(uniq_bp) AS max_bp
        |FROM v GROUP BY format, band ORDER BY format, band""".stripMargin,

    "text_positional_bias" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tf AS (SELECT tok, count(*) AS tf FROM (
         |  SELECT unnest(toks) AS tok FROM t) x GROUP BY tok),
         |top AS (SELECT tok, tf FROM tf ORDER BY tf DESC, tok LIMIT 10),
         |p AS (SELECT top.tok, top.tf,
         |    list_position(t.toks, top.tok) AS pos, len(t.toks) AS nt
         |  FROM t CROSS JOIN top),
         |p2 AS (SELECT tok, tf, (pos - 1) * 10000 // nt AS pos_bp
         |       FROM p WHERE pos > 0)
         |SELECT tok, tf, count(*) AS n_docs,
         |  CAST(CAST(sum(pos_bp) AS BIGINT) // count(*) AS BIGINT)
         |    AS mean_first_pos_bp,
         |  CAST(min(pos_bp) AS BIGINT) AS min_pos_bp,
         |  CAST(max(pos_bp) AS BIGINT) AS max_pos_bp
         |FROM p2 GROUP BY tok, tf ORDER BY tf DESC, tok""".stripMargin,

    "events_anomaly_runs" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |w AS (SELECT hr, n, count(*) OVER win AS wn,
        |    coalesce(sum(n) OVER win, 0) AS ws
        |  FROM h WINDOW win AS (ORDER BY hr
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |b AS (SELECT epoch_us(CAST(hr AS TIMESTAMP)) // 3600000000 AS idx
        |      FROM w WHERE wn >= 12 AND n * wn >= ws * 2),
        |i AS (SELECT idx, idx - row_number() OVER (ORDER BY idx) AS isl FROM b),
        |r AS (SELECT isl, count(*) AS len, min(idx) AS sidx FROM i GROUP BY isl)
        |SELECT len, count(*) AS n_runs,
        |  CAST(min(sidx) AS BIGINT) AS first_start_idx
        |FROM r GROUP BY len ORDER BY len""".stripMargin,

    "mm_qa_sample" ->
      """WITH f AS (
        |  SELECT doc_id, length(text) AS bytes,
        |    CASE WHEN substring(text, 1, 1) BETWEEN 'a' AND 'f' THEN 'image'
        |         WHEN substring(text, 1, 1) BETWEEN 'g' AND 'p' THEN 'audio'
        |         WHEN substring(text, 1, 1) BETWEEN 'q' AND 'z' THEN 'video'
        |         ELSE 'binary' END AS format
        |  FROM documents),
        |b AS (SELECT doc_id, bytes, format,
        |        CAST(length(bin(bytes)) AS BIGINT) AS bucket FROM f),
        |r AS (SELECT format, bucket, doc_id, bytes,
        |    row_number() OVER (PARTITION BY format, bucket
        |                       ORDER BY bytes DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY format, bucket) AS n_docs
        |  FROM b)
        |SELECT format, bucket, CAST(n_docs AS BIGINT) AS n_docs,
        |  doc_id AS sample_doc, CAST(bytes AS BIGINT) AS sample_bytes
        |FROM r WHERE rn = 1 ORDER BY format, bucket""".stripMargin,
  )
}
