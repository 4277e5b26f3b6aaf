package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Similarity

/** Round-12 additions: scale-adaptive ANN index builds.
  *
  * The reference (etlService.js:416-591) sizes its batches statically
  * (100k rows, concurrency 4); the engine-side lesson at 100 TB is that
  * index parameters must scale with the data instead — this file holds
  * the operators whose *knobs* are computed from corpus statistics.
  */
object Round12 extends Module {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Scale-adaptive IVF: cells = autoCells(n) ≈ √n (power of two),
    // centroids trained with one Lloyd round on a deterministic hash
    // SAMPLE of 8·cells vectors (constant per cell at any corpus size),
    // full corpus assigned once against the broadcast trained centroids.
    // At sf0.01 n=500 → 32 cells from a 256-vector sample — the sampled
    // path is genuinely exercised (sample ⊂ corpus).
    // All four family members serve from SimIvf.sharedAuto — ONE train
    // + ONE assignment scan per (session, dataset), not one per entry.
    "sim_ivf_auto" -> ((s, dir) =>
      Similarity.ivfAutoStatsFrom(SimIvf.sharedAuto(s, dir))),

    // Search through the scale-adaptive index: exact integer-bp cosine
    // top-10 among the vectors in the query's 2 closest TRAINED cells —
    // candidate work O(nprobe*sqrt(n)) under the autoCells rule, the
    // scale path the fixed-cell search lacks.
    "sim_ivf_auto_search" -> ((s, dir) =>
      Similarity.ivfAutoSearchFrom(SimIvf.sharedAuto(s, dir),
        "vec_id", 0L, 10, 2)),

    // HLL register vector via the NATIVE TypedImperativeAggregate
    // (functions/SketchAggregates): the buffer IS the 256-byte sketch,
    // merged element-wise max — no explode, one ObjectHashAggregate
    // partial/final pair, shuffle rows = partitions. Emitted rows are
    // bit-equal to the composed Sketch.hllRegisters kernel (spec-pinned)
    // so the oracle is the same register SQL.
    "q_hll_native" -> ((s, dir) =>
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .agg(graft.functions.SketchAggregates
          .hllRegistersAgg(col("user_id")).as("regs"))
        .select(posexplode(col("regs")).as(Seq("bucket", "m")))
        .where(col("m") > 0)
        .select(col("bucket").cast("long").as("bucket"), col("m"))
        .orderBy(col("bucket"))),

    // CMS 4×1024 counter grid via the native aggregate: buffer = the
    // 4096-cell long array, merged element-wise add. The composed
    // explode form scans ×4 and shuffles up to cells × partitions rows;
    // this shuffles ONE buffer per partition.
    "q_cms_native" -> ((s, dir) =>
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .agg(graft.functions.SketchAggregates
          .cmsSketchAgg(col("user_id")).as("cells"))
        .select(posexplode(col("cells")).as(Seq("i", "cnt")))
        .where(col("cnt") > 0)
        .select(idiv(col("i").cast("long"), lit(1024L)).as("r"),
          pmod(col("i").cast("long"), lit(1024L)).as("bucket"), col("cnt"))
        .orderBy(col("r"), col("bucket"))),

    // Linear-counting bitmap via the native aggregate: 512 B of OR-merged
    // words, eval = the ascending occupied cells — the third member of
    // the native sketch family (q_bitmap_distinct's per-day explode
    // collapses to one buffer per partition).
    "q_bitmap_native" -> ((s, dir) =>
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .agg(graft.functions.SketchAggregates
          .bitmapCellsAgg(col("user_id")).as("cells"))
        .select(explode(col("cells")).as("cell"))
        .orderBy(col("cell"))),

    // Recall-vs-nprobe sweep over the scale-adaptive index: the
    // latency/recall dial for the autoCells build (nprobe in {1,2,4,8}
    // of ~32 trained cells at gate SF) — one sampled train + one
    // scoring scan feed every sweep point; the spec pins the curve
    // monotone non-decreasing.
    "sim_ivf_auto_probe_curve" -> ((s, dir) =>
      Similarity.ivfAutoProbeCurveFrom(SimIvf.sharedAuto(s, dir),
        0L, 10, Seq(1, 2, 4, 8))),

    // KMV/Theta distinct sketch via the native aggregate: buffer = the
    // 256 smallest distinct h8 hashes in a sorted set (k-smallest-of-
    // union merge — the sorted-run merge every Theta engine ships);
    // the composed q_kmv_distinct path is distinct + TakeOrdered, this
    // shuffles ONE <=256-entry buffer per partition.

    "q_kmv_native" -> ((s, dir) =>
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .agg(graft.functions.SketchAggregates
          .kmvAgg(col("user_id")).as("hs"))
        .select(explode(col("hs")).as("h"))
        .orderBy(col("h"))),

    // Recall@10 of the scale-adaptive index vs exact cosine — the eval
    // number that says what the sqrt(n) candidate bound costs: exact
    // top-10 (one corpus scan vs the broadcast query vector) against
    // the index's nprobe = 2 picks; emits the sim_recall_audit
    // shape (k_exact, n_ann, hits, recall_bp), all counts over
    // checkpointed <=10-row frames.
    "sim_ivf_auto_recall" -> ((s, dir) => {
      val m = SimShared.miln(s, dir)
      val q = m.where(col("vec_id") === 0L)
        .select(col("mq").as("qmq"), col("nsq").as("qnsq"))
      val exact = m.where(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q))
        .withColumn("cos_bp", Similarity.cosBp(
          Similarity.dotMilli(col("mq"), col("qmq")), col("nsq"), col("qnsq")))
        .orderBy(col("cos_bp").desc, col("vec_id")).limit(10)
        .select(col("vec_id")).localCheckpoint(true)
      val ann = Similarity.ivfAutoSearchFrom(SimIvf.sharedAuto(s, dir),
          "vec_id", 0L, 10, 2)
        .select(col("vec_id")).localCheckpoint(true)
      exact.agg(count(lit(1)).as("k_exact"))
        .crossJoin(broadcast(ann.agg(count(lit(1)).as("n_ann"))))
        .crossJoin(broadcast(
          exact.join(ann, Seq("vec_id")).agg(count(lit(1)).as("hits"))))
        .withColumn("recall_bp", when(col("k_exact") === 0, lit(0L))
          .otherwise(idiv(col("hits") * 10000, col("k_exact"))))
    }),

    // CUSUM drift detector over daily event volume — the classic
    // sequential change monitor beside the Shewhart control chart:
    // per day the deviation from the corpus mean and its running sum,
    // entirely integer by ×D cross-multiplication (dev_xd = D·n − N, so
    // no float mean ever materializes; a sustained shift shows as a
    // cusum trend long before any single day breaches a 3σ fence). The
    // running window orders the BOUNDED daily frame (≤ days rows),
    // never the corpus.
    "events_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(idiv(col("ts").cast("long"), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("n"))
      val wAll = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val wRun = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("dd", count(lit(1)).over(wAll))
        .withColumn("tot", sum(col("n")).over(wAll))
        .withColumn("dev_xd", col("n") * col("dd") - col("tot"))
        .withColumn("cusum_xd", sum(col("dev_xd")).over(wRun))
        .select(col("day"), col("n"), col("dev_xd"), col("cusum_xd"))
        .orderBy(col("day"))
    }),

    // Multimodal resolution-band audit: the stub-decoded (width, height)
    // metadata (ops/Multimodal.fakeDims — a real deployment swaps the
    // codec in, the schema doesn't change) rolled into area bands with
    // byte budgets and orientation counts — the resize/recode planning
    // table an image pipeline reads before a training run. One scan,
    // decode is a pure per-row expression.
    "mm_resolution_bands" -> ((s, dir) => {
      val (w, h) = graft.ops.Multimodal.fakeDims("text")
      Tables.documents(s, dir)
        .select(w.cast("long").as("w"), h.cast("long").as("h"),
          graft.ops.Multimodal.payloadSize(col("text")).as("bytes"))
        .withColumn("band", idiv(col("w") * col("h"), lit(8192L)))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("bytes"),
          sum((col("w") > col("h")).cast("long")).as("n_wide"),
          sum((col("w") < col("h")).cast("long")).as("n_tall"),
          sum((col("w") === col("h")).cast("long")).as("n_square"),
          min(col("w") * col("h")).as("area_min"),
          max(col("w") * col("h")).as("area_max"))
        .orderBy(col("band"))
    }),

    // Type-3 slowly-changing dimension build (current + previous value
    // per key, the change-tracking sibling of etl_scd2's full history):
    // per user the latest event type, the one before it, and the change
    // timestamp — a rank-2 window filter that rides Spark 4's
    // WindowGroupLimit pushdown, so no task ever holds a whole user's
    // history beyond the top 2 rows.

    "etl_scd3" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .groupBy(col("user_id"))
        .agg(max(when(col("rn") === 1, col("event_type"))).as("cur_type"),
          max(when(col("rn") === 2, col("event_type"))).as("prev_type"),
          max(when(col("rn") === 1,
            graft.etl.Normalize.isoDateTimeOrNull(col("ts"))))
            .as("changed_at"))
        .orderBy(col("user_id"))
    }),

    // Day-over-day retention from OR-mergeable bitmaps — the sketch
    // composition the bounded-state family exists for: per adjacent day
    // pair the exact retained users (the audit) beside the 4096-cell
    // bitmap-intersection estimate, plus the structural sandwich flag
    // (exact-user cells ≤ AND-cells ≤ min single-day cells — collisions
    // only ever ADD cells). All joins are user/cell-keyed; per-day cell
    // state is ≤4096 no matter the user volume.
    "events_bitmap_retention" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull)
        .select(idiv(col("ts").cast("long"), lit(86400L)).as("day"),
          col("user_id"))
        .distinct().localCheckpoint(true)
      val dc = du.select(col("day"),
          graft.ops.Sketch.bitmapCell(col("user_id"), 4096L).as("cell"))
        .distinct().localCheckpoint(true)
      val perDay = du.groupBy(col("day")).agg(count(lit(1)).as("n_users"))
      val perDayCells = dc.groupBy(col("day")).agg(count(lit(1)).as("n_cells"))
      // exact retained users: user-keyed self-join, day b = day a + 1
      val retained = du.select(col("day").as("da"), col("user_id"))
        .join(du.select((col("day") - 1).as("da"), col("user_id")), Seq("da", "user_id"))
        .groupBy(col("da")).agg(count(lit(1)).as("retained_exact"))
      // exact-intersection users' OWN cells (the lower bound of the AND)
      val interUserCells = du.select(col("day").as("da"), col("user_id"))
        .join(du.select((col("day") - 1).as("da"), col("user_id")), Seq("da", "user_id"))
        .select(col("da"), graft.ops.Sketch.bitmapCell(col("user_id"), 4096L).as("cell"))
        .distinct().groupBy(col("da")).agg(count(lit(1)).as("inter_user_cells"))
      // bitmap AND = cell-keyed intersection of the two days' cell sets
      val interCells = dc.select(col("day").as("da"), col("cell"))
        .join(dc.select((col("day") - 1).as("da"), col("cell")), Seq("da", "cell"))
        .groupBy(col("da")).agg(count(lit(1)).as("cells_inter"))
      perDay.select(col("day").as("da"), col("n_users").as("n_a"))
        .join(perDay.select((col("day") - 1).as("da"), col("n_users").as("n_b")), Seq("da"))
        .join(perDayCells.select(col("day").as("da"), col("n_cells").as("cells_a")), Seq("da"))
        .join(perDayCells.select((col("day") - 1).as("da"), col("n_cells").as("cells_b")), Seq("da"))
        .join(retained, Seq("da"), "left")
        .join(interCells, Seq("da"), "left")
        .join(interUserCells, Seq("da"), "left")
        .select(col("da").as("day"), col("n_a"), col("n_b"),
          coalesce(col("retained_exact"), lit(0L)).as("retained_exact"),
          col("cells_a"), col("cells_b"),
          coalesce(col("cells_inter"), lit(0L)).as("cells_inter"),
          (coalesce(col("cells_inter"), lit(0L))
            .between(coalesce(col("inter_user_cells"), lit(0L)),
              least(col("cells_a"), col("cells_b")))).cast("long").as("ok"))
        .orderBy(col("day"))
    }),

    // The corpus-rewrite decision table, oracle-gated (the dedup-drop
    // plan of a corpus rewrite, hash-checked): per near-dup
    // cluster the member count, the LONGEST-keeper pick (ties -> min
    // id) and the exact chars kept vs dropped. Clusters ride the
    // build-once shared t = 0.5 pair index; one rollup over the member
    // frame.
    "corpus_rewrite_plan" -> ((s, dir) => {
      val labels = graft.ops.Dedup.connectedComponents(
        TextDedup.sharedPairs05(s, dir))
      labels
        .join(Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"),
          // (n_chars DESC, id ASC) exactly, for any id range: max over
          // the struct (n_chars, -id) — no scaled-arithmetic encoding
          max(struct(col("n_chars").as("k1"), (-col("id")).as("k2"),
            col("id").as("kid"), col("n_chars").as("kchars"))).as("p"),
          sum(col("n_chars")).as("chars_total"))
        .select(col("label"), col("n_members"), col("p.kid").as("keeper_id"),
          col("p.kchars").as("keeper_chars"),
          (col("chars_total") - col("p.kchars")).as("chars_dropped"))
        .orderBy(col("label"))
    }),

    // BFS reachability layers from the min supplier over the capped
    // co-part projection — the k-hop neighborhood profile (how fast the
    // graph closes around a node). Each layer is one keyed join + anti
    // semi-join against the checkpointed visited frame: per-round work
    // is frontier-edge-bounded (cap 64 per part), the driver only loops
    // the 3-round counter.
    "graph_bfs_layers" -> ((s, dir) => {
      // shared capped projection (GraphShared): already checkpointed
      val spc = GraphShared.cappedSp(s, dir)
      // the undirected edge list IS the shared projection pair frame,
      // expanded both ways — no per-query self-join + checkpoint.
      // r18: pre-partitioned + sorted on the hop join key and LAZILY
      // checkpointed, so the three hop joins pay no edge-side exchange
      // or sort (the connectedComponents discipline); and the whole
      // layer chain stays LAZY — frontier/visited checkpoints are
      // materialized (and their blocks deduped across references) by
      // the ONE final aggregate action instead of 2 eager jobs per
      // round (the sim_graph_search discipline). Jobs 23 → 18.
      val pp = GraphShared.projPairs(s, dir).select(col("s1"), col("s2"))
      val und = pp.select(col("s1").as("a"), col("s2").as("b"))
        .unionAll(pp.select(col("s2").as("a"), col("s1").as("b")))
        .repartition(col("a")).sortWithinPartitions(col("a"))
        .localCheckpoint(false)
      val seed = spc.agg(min(col("sk")).as("node"))
        .withColumn("layer", lit(0L)).localCheckpoint(false)
      var visited = seed
      var frontier = seed.select(col("node"))
      for (l <- 1 to 3) {
        frontier = und.join(frontier.withColumnRenamed("node", "a"), Seq("a"))
          .select(col("b").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti")
          .localCheckpoint(false)
        visited = visited.unionByName(
          frontier.withColumn("layer", lit(l.toLong))).localCheckpoint(false)
      }
      visited.groupBy(col("layer"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
          max(col("node")).as("max_node"))
        .orderBy(col("layer"))
    })
  )

  import SimMm.{milliNormCte, cosBpSql, dotmSql}

  /** Shared sampled-Lloyd-train CTE chain (REFERENCES `miln` — place
    * milliNormCte first): data-scaled cell count, md5-prefix sample,
    * round-0 seed assignment on the sample, one Lloyd mean, and the
    * full-corpus argmax assignment `af` (+ dxx/dcc/dxc norm frames). */
  private[queries] lazy val ivfAutoCtes: String =
      s"""nrow AS (SELECT count(*) AS n FROM embeddings),
         |cellsc AS (
         |  SELECT coalesce(min(CAST(1 AS BIGINT) << p) FILTER (
         |      WHERE (CAST(1 AS BIGINT) << (2 * p)) >= n), 4096) AS c
         |  FROM (SELECT CAST(r.range AS INTEGER) AS p FROM range(2, 13) r),
         |    nrow),
         |ranked AS (
         |  SELECT vec_id, row_number() OVER (
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
         |  FROM embeddings),
         |samp AS (SELECT vec_id FROM ranked, cellsc WHERE rk <= c * 8),
         |seeds2 AS (SELECT vec_id AS seed_id FROM ranked, cellsc
         |           WHERE rk <= c),
         |sv2 AS (SELECT s.seed_id, m.mq AS smq, m.nsq AS snsq
         |        FROM seeds2 s JOIN miln m ON m.vec_id = s.seed_id),
         |a0 AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, s.seed_id AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosBpSql(dotmSql("e.mq", "s.smq"), "e.nsq", "s.snsq")} DESC,
         |          s.seed_id) AS rn
         |    FROM (SELECT m.* FROM miln m JOIN samp USING (vec_id)) e
         |    CROSS JOIN sv2 s) t
         |  WHERE rn = 1),
         |comp2 AS (
         |  SELECT vec_id, CAST(d.range AS INTEGER) AS d,
         |    CAST(CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3)
         |      AS DECIMAL(7,3)) * 1000 AS BIGINT) AS xq
         |  FROM embeddings CROSS JOIN range(64) d),
         |cent AS (
         |  SELECT cell, d, sum(xq) // count(*) AS cq
         |  FROM a0 JOIN comp2 USING (vec_id) GROUP BY cell, d),
         |dcc AS (SELECT cell, sum(cq * cq) AS dcc FROM cent GROUP BY cell),
         |dxx AS (SELECT vec_id, sum(xq * xq) AS dxx FROM comp2
         |        GROUP BY vec_id),
         |dxc AS (
         |  SELECT c.vec_id, t.cell, sum(c.xq * t.cq) AS dxc
         |  FROM comp2 c JOIN cent t USING (d) GROUP BY c.vec_id, t.cell),
         |af AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT x.vec_id, x.cell, row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY ${cosBpSql("x.dxc", "v.dxx", "k.dcc")} DESC, x.cell) AS rn
         |    FROM dxc x JOIN dxx v USING (vec_id) JOIN dcc k USING (cell)) t
         |  WHERE rn = 1)""".stripMargin

  val oracle: Map[String, String] = Map(

    "sim_ivf_auto" ->
      s"""WITH $milliNormCte,
         |$ivfAutoCtes
         |SELECT f.cell, count(*) AS n, min(f.vec_id) AS min_id,
         |  CAST(floor(sqrt(CAST(k.dcc AS DOUBLE))) AS BIGINT) AS c_norm_milli,
         |  CAST(cc.c AS BIGINT) AS n_cells
         |FROM af f JOIN dcc k USING (cell), cellsc cc
         |GROUP BY f.cell, k.dcc, cc.c ORDER BY f.cell""".stripMargin,

    "sim_ivf_auto_search" ->
      s"""WITH $milliNormCte,
         |$ivfAutoCtes,
         |qr AS (
         |  SELECT x.cell, row_number() OVER (
         |    ORDER BY ${cosBpSql("x.dxc", "v.dxx", "k.dcc")} DESC, x.cell) AS qrn
         |  FROM dxc x JOIN dxx v USING (vec_id) JOIN dcc k USING (cell)
         |  WHERE x.vec_id = 0),
         |qcells AS (SELECT cell FROM qr WHERE qrn <= 2),
         |cand AS (SELECT f.vec_id FROM af f JOIN qcells USING (cell)
         |         WHERE f.vec_id <> 0),
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0)
         |SELECT c.vec_id,
         |  ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |FROM cand c JOIN miln m USING (vec_id), qv q
         |ORDER BY cos_bp DESC, c.vec_id LIMIT 10""".stripMargin,

    "q_hll_native" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |b AS (SELECT h % 256 AS bucket, h // 256 AS rem FROM h)
        |SELECT bucket,
        |  CAST(max(CASE WHEN rem = 0 THEN 25
        |    ELSE 25 - length(bin(rem)) END) AS BIGINT) AS m
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_cms_native" ->
      s"""WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT CAST(range AS BIGINT) AS r FROM range(4)),
         |h AS (
         |  SELECT r,
         |    ${graft.ops.Sketch.h3Sql(
               "CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")}
         |      % 1024 AS bucket
         |  FROM ev CROSS JOIN r)
         |SELECT r, bucket, count(*) AS cnt FROM h
         |GROUP BY r, bucket ORDER BY r, bucket""".stripMargin,

    "q_bitmap_native" ->
      s"""SELECT DISTINCT CAST(
         |    ${graft.ops.Sketch.h3Sql("CAST(user_id AS VARCHAR)")} % 4096
         |  AS BIGINT) AS cell
         |FROM events WHERE user_id IS NOT NULL
         |ORDER BY cell""".stripMargin,

    "events_cusum" ->
      """WITH d AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (SELECT count(*) AS dd, CAST(sum(n) AS BIGINT) AS tot FROM d)
        |SELECT day, n, CAST(n * dd - tot AS BIGINT) AS dev_xd,
        |  CAST(sum(n * dd - tot) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cusum_xd
        |FROM d, t ORDER BY day""".stripMargin,

    "mm_resolution_bands" ->
      """WITH m AS (
        |  SELECT CAST(strpos('0123456789abcdef', substring(md5(text), 1, 1))
        |      * 16 AS BIGINT) AS w,
        |    CAST(strpos('0123456789abcdef', substring(md5(text), 2, 1))
        |      * 16 AS BIGINT) AS h,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS bytes
        |  FROM documents)
        |SELECT CAST(w * h // 8192 AS BIGINT) AS band, count(*) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  CAST(sum(CASE WHEN w > h THEN 1 ELSE 0 END) AS BIGINT) AS n_wide,
        |  CAST(sum(CASE WHEN w < h THEN 1 ELSE 0 END) AS BIGINT) AS n_tall,
        |  CAST(sum(CASE WHEN w = h THEN 1 ELSE 0 END) AS BIGINT) AS n_square,
        |  min(w * h) AS area_min, max(w * h) AS area_max
        |FROM m GROUP BY 1 ORDER BY band""".stripMargin,

    "sim_ivf_auto_probe_curve" -> {
      def pt(np: Int) =
        s"""a$np AS (SELECT vec_id FROM (
           |    SELECT m.vec_id,
           |      ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cb
           |    FROM af f JOIN (SELECT cell FROM qr WHERE qrn <= $np) qc
           |      USING (cell)
           |    JOIN miln m ON m.vec_id = f.vec_id, qv q
           |    WHERE f.vec_id <> 0) z
           |  ORDER BY cb DESC, vec_id LIMIT 10),
           |r$np AS (SELECT $np AS nprobe,
           |  (SELECT count(*) FROM ex) AS k_exact,
           |  (SELECT count(*) FROM a$np) AS n_ann,
           |  (SELECT count(*) FROM ex JOIN a$np USING (vec_id)) AS hits)""".stripMargin
      s"""WITH $milliNormCte,
         |$ivfAutoCtes,
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM (
         |    SELECT m.vec_id,
         |      ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cb
         |    FROM miln m, qv q WHERE m.vec_id <> 0) z
         |  ORDER BY cb DESC, vec_id LIMIT 10),
         |qr AS (
         |  SELECT x.cell, row_number() OVER (
         |    ORDER BY ${cosBpSql("x.dxc", "v.dxx", "k.dcc")} DESC, x.cell) AS qrn
         |  FROM dxc x JOIN dxx v USING (vec_id) JOIN dcc k USING (cell)
         |  WHERE x.vec_id = 0),
         |${Seq(1, 2, 4, 8).map(pt).mkString(",\n")},
         |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |      UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r8)
         |SELECT CAST(nprobe AS BIGINT) AS nprobe,
         |  CAST(k_exact AS BIGINT) AS k_exact, CAST(n_ann AS BIGINT) AS n_ann,
         |  CAST(hits AS BIGINT) AS hits,
         |  CASE WHEN k_exact = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(hits * 10000 // k_exact AS BIGINT) END AS recall_bp
         |FROM u ORDER BY nprobe""".stripMargin
    },

    "q_kmv_native" ->
      """SELECT h FROM (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL) z
        |ORDER BY h LIMIT 256""".stripMargin,

    "sim_ivf_auto_recall" ->
      s"""WITH $milliNormCte,
         |$ivfAutoCtes,
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM (
         |    SELECT m.vec_id,
         |      ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cb
         |    FROM miln m, qv q WHERE m.vec_id <> 0) z
         |  ORDER BY cb DESC, vec_id LIMIT 10),
         |qr AS (
         |  SELECT x.cell, row_number() OVER (
         |    ORDER BY ${cosBpSql("x.dxc", "v.dxx", "k.dcc")} DESC, x.cell) AS qrn
         |  FROM dxc x JOIN dxx v USING (vec_id) JOIN dcc k USING (cell)
         |  WHERE x.vec_id = 0),
         |qcells AS (SELECT cell FROM qr WHERE qrn <= 2),
         |cand AS (SELECT f.vec_id FROM af f JOIN qcells USING (cell)
         |         WHERE f.vec_id <> 0),
         |ann AS (SELECT c.vec_id FROM cand c JOIN miln m USING (vec_id), qv q
         |  ORDER BY ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} DESC,
         |    c.vec_id LIMIT 10),
         |a AS (SELECT
         |  (SELECT count(*) FROM ex) AS k_exact,
         |  (SELECT count(*) FROM ann) AS n_ann,
         |  (SELECT count(*) FROM ex JOIN ann USING (vec_id)) AS hits)
         |SELECT CAST(k_exact AS BIGINT) AS k_exact,
         |  CAST(n_ann AS BIGINT) AS n_ann, CAST(hits AS BIGINT) AS hits,
         |  CASE WHEN k_exact = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(hits * 10000 // k_exact AS BIGINT) END AS recall_bp
         |FROM a""".stripMargin,

    "etl_scd3" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tss,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
        |SELECT user_id,
        |  max(CASE WHEN rn = 1 THEN event_type END) AS cur_type,
        |  max(CASE WHEN rn = 2 THEN event_type END) AS prev_type,
        |  max(CASE WHEN rn = 1
        |    THEN strftime(tss, '%Y-%m-%d %H:%M:%S') END) AS changed_at
        |FROM e WHERE rn <= 2 GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_bitmap_retention" ->
      s"""WITH du AS (
         |  SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         |    user_id
         |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |dc AS (SELECT DISTINCT day,
         |    ${graft.ops.Sketch.h3Sql("CAST(user_id AS VARCHAR)")} % 4096 AS cell
         |  FROM du),
         |pd AS (SELECT day, count(*) AS n FROM du GROUP BY day),
         |pc AS (SELECT day, count(*) AS nc FROM dc GROUP BY day),
         |ret AS (SELECT a.day AS da, count(*) AS retained FROM du a
         |        JOIN du b ON b.user_id = a.user_id AND b.day = a.day + 1
         |        GROUP BY a.day),
         |iuc AS (SELECT da, count(*) AS inter_user_cells FROM (
         |    SELECT DISTINCT a.day AS da,
         |      ${graft.ops.Sketch.h3Sql("CAST(a.user_id AS VARCHAR)")} % 4096 AS cell
         |    FROM du a JOIN du b ON b.user_id = a.user_id AND b.day = a.day + 1) z
         |  GROUP BY da),
         |ic AS (SELECT a.day AS da, count(*) AS cells_inter FROM dc a
         |       JOIN dc b ON b.cell = a.cell AND b.day = a.day + 1
         |       GROUP BY a.day)
         |SELECT pa.day, pa.n AS n_a, pb.n AS n_b,
         |  CAST(coalesce(ret.retained, 0) AS BIGINT) AS retained_exact,
         |  pca.nc AS cells_a, pcb.nc AS cells_b,
         |  CAST(coalesce(ic.cells_inter, 0) AS BIGINT) AS cells_inter,
         |  CAST(CASE WHEN coalesce(ic.cells_inter, 0)
         |      BETWEEN coalesce(iuc.inter_user_cells, 0)
         |      AND least(pca.nc, pcb.nc) THEN 1 ELSE 0 END AS BIGINT) AS ok
         |FROM pd pa JOIN pd pb ON pb.day = pa.day + 1
         |JOIN pc pca ON pca.day = pa.day
         |JOIN pc pcb ON pcb.day = pa.day + 1
         |LEFT JOIN ret ON ret.da = pa.day
         |LEFT JOIN ic ON ic.da = pa.day
         |LEFT JOIN iuc ON iuc.da = pa.day
         |ORDER BY pa.day""".stripMargin,

    "corpus_rewrite_plan" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toksSql AS toks FROM documents),
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
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a),
         |mem AS (SELECT l.label, l.id, d.n_chars
         |        FROM labels l JOIN documents d ON d.doc_id = l.id),
         |pick AS (SELECT label, id AS keeper_id, n_chars AS keeper_chars,
         |    row_number() OVER (PARTITION BY label
         |      ORDER BY n_chars DESC, id) AS rk
         |  FROM mem),
         |g AS (SELECT label, count(*) AS n_members,
         |      CAST(sum(n_chars) AS BIGINT) AS chars_total
         |      FROM mem GROUP BY label)
         |SELECT g.label, g.n_members, k.keeper_id, k.keeper_chars,
         |  CAST(g.chars_total - k.keeper_chars AS BIGINT) AS chars_dropped
         |FROM g JOIN (SELECT label, keeper_id, keeper_chars FROM pick
         |             WHERE rk = 1) k USING (label)
         |ORDER BY g.label""".stripMargin,

    "graph_bfs_layers" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |            FROM lineitem),
        |pdall AS (SELECT pk, count(*) AS pd FROM sp GROUP BY pk),
        |spc AS (SELECT sp.sk, sp.pk FROM sp JOIN pdall USING (pk)
        |        WHERE pd <= 64),
        |edges AS (SELECT DISTINCT l.sk AS a, r.sk AS b
        |          FROM spc l JOIN spc r ON l.pk = r.pk AND l.sk <> r.sk),
        |v0 AS (SELECT min(sk) AS node, CAST(0 AS BIGINT) AS layer FROM spc),
        |f1 AS (SELECT DISTINCT e.b AS node FROM edges e
        |       JOIN v0 ON e.a = v0.node
        |       WHERE e.b NOT IN (SELECT node FROM v0)),
        |v1 AS (SELECT node, layer FROM v0 UNION ALL
        |       SELECT node, CAST(1 AS BIGINT) FROM f1),
        |f2 AS (SELECT DISTINCT e.b AS node FROM edges e
        |       JOIN f1 ON e.a = f1.node
        |       WHERE e.b NOT IN (SELECT node FROM v1)),
        |v2 AS (SELECT node, layer FROM v1 UNION ALL
        |       SELECT node, CAST(2 AS BIGINT) FROM f2),
        |f3 AS (SELECT DISTINCT e.b AS node FROM edges e
        |       JOIN f2 ON e.a = f2.node
        |       WHERE e.b NOT IN (SELECT node FROM v2)),
        |v3 AS (SELECT node, layer FROM v2 UNION ALL
        |       SELECT node, CAST(3 AS BIGINT) FROM f3)
        |SELECT layer, count(*) AS n_nodes, min(node) AS min_node,
        |  max(node) AS max_node
        |FROM v3 GROUP BY layer ORDER BY layer""".stripMargin
  )
}
