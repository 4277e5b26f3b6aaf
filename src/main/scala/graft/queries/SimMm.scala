package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{Similarity, Dedup, Multimodal, Layout}

/** Similarity search (SURVEY §2.4) over `embeddings` + multimodal-column
  * plumbing (§2.6) over `documents`.
  *
  * Cross-engine determinism: LSH bucketing uses exact integer dot products
  * over milli-quantized components (order-independent signs); every cosine
  * that is ranked, thresholded, or emitted is integer BASIS POINTS from
  * exact integer dot/norm sums (Similarity.cosBp) — round(double, n), the
  * r6 hash-break class, never appears on an emission or ranking path.
  */
object SimMm extends Module {

  /** ANN tuning shared by the Spark queries and their oracle twins:
    * hyperplanes target `TargetBucket`-vector buckets (planes =
    * ceil(log2(n/64))); nn-join candidate sides are capped at `CandCap`
    * members per bucket. */
  private[queries] val TargetBucket = 64
  private val CandCap = 256

  /** Mutual top-3 cosine kNN edges, label-blocked (pair cost Σ block²,
    * never corpus²) — shared by sim_knn_graph and sim_knn_cc. Mutual
    * edges come from ONE keyed aggregate over the directed edge set
    * (cosine is symmetric; both directions carry the same basis-point
    * value). Columns: src < dst, cos_bp. */
  // The mutual-kNN edge frame serves TWO registry entries
  // (sim_knn_graph + sim_knn_cc), one per (session, dataset), so one
  // run pays for ONE label-blocked kNN build instead of two identical
  // ones; the edge frame is checkpointed + pinned (≪ corpus — top-3
  // per vector).
  private[queries] val mutualKnnEdges =
    new graft.Caches.SessionMemo[String, org.apache.spark.sql.DataFrame]((s, dir) =>
      graft.Caches.shared(buildMutualKnnEdges(s, dir)))

  /** Materialize the shared kNN edge frame (bench warmup). */
  def warmKnnEdges(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    mutualKnnEdges(s, dir).count(); ()
  }

  private def buildMutualKnnEdges(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        Similarity.milliQuant(col("embedding")).as("mq"))
      .withColumn("nsq", Similarity.normSqMilli(col("mq")))
    val a = e.select(col("vec_id").as("src"), col("label"),
      col("mq").as("ma"), col("nsq").as("na"))
    val b = e.select(col("vec_id").as("dst"), col("label"),
      col("mq").as("mb"), col("nsq").as("nb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_bp").desc, col("dst"))
    val edges = a.join(broadcast(b), Seq("label"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        Similarity.cosBp(Similarity.dotMilli(col("ma"), col("mb")),
          col("na"), col("nb")).as("cos_bp"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
    edges
      .groupBy(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .agg(min(col("cos_bp")).as("cos_bp"), count(lit(1)).as("nd"))
      .where(col("nd") === 2)
      .select(col("lo").as("src"), col("hi").as("dst"), col("cos_bp"))
  }

  val queries: Map[String, Q] = Map(
    // Brute-force cosine top-k vs the vec_id=0 query vector.
    "sim_topk_brute" -> ((s, dir) =>
      Similarity.topKBrute(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10)),

    // Euclidean top-k (exact integer squared-L2 in milli units) — the
    // un-normalized-embedding metric twin of sim_topk_brute.
    "sim_l2_topk" -> ((s, dir) =>
      Similarity.l2TopK(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10)),

    // Maximum inner-product top-k — the third metric twin (cosine / L2 /
    // MIPS): raw-dot ranking where vector magnitude is part of the score.
    "sim_mips_topk" -> ((s, dir) =>
      Similarity.mipsTopK(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10)),

    // Random-hyperplane LSH bucket statistics (the ANN index shape).
    // Planes scale with the data: ceil(log2(n/64)) hyperplanes targets
    // 64-vector buckets at ANY corpus size (no fixed bucket-count ceiling).
    "sim_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), TargetBucket)
      Similarity.lshBucketStats(emb, "vec_id", "embedding", planes, 64)
        .orderBy(col("bucket"))
    }),

    // ANN top-k: exact cosine ranking within the query's LSH bucket.
    "sim_ann_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), TargetBucket)
      Similarity.annSearch(emb, "vec_id", "embedding", 0L, 10, planes, 64)
    }),

    // Multi-probe ANN: query bucket + all Hamming-distance-1 buckets
    // (recovers neighbors split off by one hyperplane).
    "sim_ann_multiprobe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), TargetBucket)
      Similarity.annSearchMultiProbe(emb, "vec_id", "embedding", 0L, 10, planes, 64)
    }),

    // IVF multi-cell probe: the query's 2 closest cells.
    "sim_ivf_multiprobe" -> ((s, dir) =>
      Similarity.ivfSearchMultiProbe(Tables.embeddings(s, dir),
        "vec_id", "embedding", 0L, 10, 8, 2)),

    // IVF coarse-quantizer cell assignment statistics (deterministic
    // hash-sampled seeds stand in for trained centroids).
    "sim_ivf_cells" -> ((s, dir) =>
      Similarity.ivfAssign(Tables.embeddings(s, dir), "vec_id", "embedding", 8)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_id"))
        .orderBy(col("cell"))),

    // One k-means (Lloyd) training round over the seed cells: exact
    // milli-unit integer centroid means + integer-dot re-assignment, so
    // the trained cells are engine-reproducible (seeds upgraded from
    // stand-in to trained centroids).
    "sim_ivf_train" -> ((s, dir) =>
      // per-cell stats tail over the shared Lloyd chain (LloydShared)
      Similarity.ivfStatsFrom(LloydShared.assign1(s, dir))),

    // Two Lloyd rounds (convergence path): round 2 re-means from round
    // 1's assignment — each round is the same broadcast-centroids map
    // stage, so training cost is linear in iterations.
    "sim_ivf_train2" -> ((s, dir) =>
      // round-2 stats tail over the SAME shared chain
      Similarity.ivfStatsFrom(LloydShared.assign2(s, dir))),

    // K-means convergence audit: per-cell L1 centroid movement between
    // Lloyd rounds 1 and 2 (+ worst single-dimension shift) — the
    // stop-condition readout an index build gates on. Shares the exact
    // lloydCent/lloydAssign kernels with sim_ivf_train2, diffed instead
    // of discarded; the oracle replays the same two chained rounds.
    "sim_centroid_drift" -> ((s, dir) => {
      // diff tail over the SAME shared chain's two centroid rounds
      val (c1, c2) = LloydShared.cents(s, dir)
      Similarity.ivfCentroidDriftFrom(c1, c2)
    }),

    // IVF search: exact cosine top-k within the query's cell.
    "sim_ivf_search" -> ((s, dir) =>
      Similarity.ivfSearch(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10, 8)),

    // Nearest-neighbor join: every vector's top-1 neighbor within its LSH
    // bucket (the all-pairs ANN shape). Planes scale with the data and the
    // per-bucket candidate side is capped, so a skewed bucket costs
    // O(m·cap) instead of O(m²) pair rows.
    "sim_nn_join" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), TargetBucket)
      Similarity.nnJoin(emb, "vec_id", "embedding", planes, 64, CandCap)
        .orderBy(col("a"))
    }),

    // Product-quantization encode: each vector compressed to 4 codeword
    // ids (16-dim subvectors, 16 hash-sampled codewords) by exact integer
    // sub-L2 argmin — the memory side of IVF-PQ. The encode is the shared
    // PqShared frame (built once per session; every PQ entry reads it —
    // the way a real index encodes once and serves many).
    "sim_pq_encode" -> ((s, dir) =>
      PqShared.codes(s, dir).orderBy(col("vec_id"), col("sub"))),

    // PQ top-k by asymmetric distance: the query scores every vector
    // through its 4 codes and a broadcast 16×4 lookup table — no vector
    // math on the scored side. Seeds + codes come from the shared
    // PqShared build.
    "sim_pq_search" -> ((s, dir) =>
      Similarity.pqSearchAdcWith(Tables.embeddings(s, dir), "vec_id",
        "embedding", 0L, 10, 64, 4,
        PqShared.seeds(s, dir), PqShared.codes(s, dir))),

    // One PQ training round: per-subspace integer centroid means from
    // the initial encode, integer-L2 re-assignment — hash-sampled
    // codewords upgraded to trained centroids (the PQ twin of
    // sim_ivf_train). Seeds from the shared PqShared build.
    "sim_pq_train" -> ((s, dir) =>
      Similarity.pqTrainStatsWith(Tables.embeddings(s, dir), "vec_id",
        "embedding", 64, 4, PqShared.seeds(s, dir),
        Some(PqShared.codes(s, dir)))),

    // Full IVF-PQ search: the query's IVF cell bounds the candidate set,
    // PQ asymmetric distance scores it through codes alone — the
    // canonical billion-scale ANN composition. Seeds + codes from the
    // shared PqShared build.
    "sim_ivf_pq_search" -> ((s, dir) =>
      Similarity.ivfPqSearchWith(Tables.embeddings(s, dir), "vec_id",
        "embedding", 0L, 10, 8, 64, 4,
        PqShared.seeds(s, dir), PqShared.codes(s, dir))),

    // ANN quality audit: recall of the LSH-bucketed top-k against the
    // brute-force top-k, computed IN-QUERY (the index-evaluation step a
    // vector platform runs after every index build). Both result sets are
    // k rows, so the audit join/aggregate is constant-size no matter the
    // corpus; recall is truncated integer basis points.
    "sim_recall_audit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), TargetBucket)
      // each k-row result set materializes ONCE (checkpoint): the audit
      // join + count reference them twice, and without the truncation the
      // corpus scan behind each search would replay per reference
      val exact = Similarity.topKBrute(emb, "vec_id", "embedding", 0L, 10)
        .select(col("vec_id")).localCheckpoint(true)
      val ann = Similarity.annSearch(emb, "vec_id", "embedding", 0L, 10, planes, 64)
        .select(col("vec_id").as("aid")).localCheckpoint(true)
      val annN = ann.agg(count(lit(1)).as("n_ann"))
      exact.join(ann, col("vec_id") === col("aid"), "left")
        .agg(count(lit(1)).as("k_exact"), count(col("aid")).as("hits"))
        .crossJoin(broadcast(annN))
        .select(col("k_exact"), col("n_ann"), col("hits"),
          // defined 0 (not null) on an empty/absent reference set
          expr("CASE WHEN k_exact = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE (hits * 10000) div k_exact END").as("recall_bp"))
    }),

    // Similarity-distribution histogram: cosine of every pair WITHIN a
    // label block, bucketed at 0.1 width — the "what threshold should
    // this corpus use" audit next to dedup_threshold_sweep, for vectors.
    // Pair cost is Σ block² (the blocking key bounds the join exactly as
    // an LSH bucket would at 100 TB), and the histogram output is a
    // handful of rows regardless of corpus size.
    //
    // Cosine is emitted in integer BASIS POINTS from exact milli-unit
    // integer dot/norm sums: dot and the squared norms are exact LONGs
    // (≤ 64·10⁶, products ≤ 4.1·10¹⁵ < 2⁵³ so the double conversions are
    // exact), and ×, sqrt, / are IEEE-correctly-rounded in both engines,
    // so floor() lands on a bit-identical double. round(double, 4) —
    // Spark's BigDecimal shortest-decimal HALF_UP vs DuckDB's exact-binary
    // rounding — never appears (it flipped buckets on driver data in r6).
    "sim_cos_hist" -> ((s, dir) => {
      val q = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"),
          Similarity.milliQuant(col("embedding")).as("mq"))
        .withColumn("nsq", graft.functions.LongVectorFunctions.vecDotLong(col("mq"), col("mq")))
      val a = q.select(col("label"), col("vec_id").as("a"),
        col("mq").as("qa"), col("nsq").as("na"))
      val b = q.select(col("label"), col("vec_id").as("b"),
        col("mq").as("qb"), col("nsq").as("nb"))
      a.join(b, Seq("label")).where(col("a") < col("b"))
        .withColumn("dotm",
          graft.functions.LongVectorFunctions.vecDotLong(col("qa"), col("qb")))
        .withColumn("cos_bp",
          when(col("na") * col("nb") === 0L, lit(0L))
            .otherwise(floor((col("dotm") * lit(10000L)).cast("double") /
              sqrt((col("na") * col("nb")).cast("double"))).cast("long")))
        // shift keeps the div operand non-negative: truncating div (Spark)
        // == floor div (DuckDB //) on non-negatives
        .withColumn("bucket", expr("(cos_bp + 10000) div 1000 - 10"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"), min(col("cos_bp")).as("lo_bp"),
          max(col("cos_bp")).as("hi_bp"))
        .orderBy(col("bucket"))
    }),

    // Nearest-neighbor margin audit per label: for each vector, the gap
    // between its top-1 and top-2 within-label cosine neighbors — the
    // retrieval-confidence readout (tiny margins mean rank flips under
    // quantization; sim_rank_corr measures the flip, this predicts it).
    // Same label-blocked pair join as sim_cos_hist (never corpus²); the
    // per-vector top-2 window partitions by vector (bounded by its
    // label's size); all emitted stats are integer basis points.
    "sim_margin_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"),
          Similarity.milliQuant(col("embedding")).as("mq"))
        .withColumn("nsq",
          graft.functions.LongVectorFunctions.vecDotLong(col("mq"), col("mq")))
      val a = q.select(col("label"), col("vec_id").as("src"),
        col("mq").as("qa"), col("nsq").as("na"))
      val b = q.select(col("label"), col("vec_id").as("dst"),
        col("mq").as("qb"), col("nsq").as("nb"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cos_bp").desc, col("dst"))
      a.join(b, Seq("label")).where(col("src") =!= col("dst"))
        .withColumn("dotm",
          graft.functions.LongVectorFunctions.vecDotLong(col("qa"), col("qb")))
        .withColumn("cos_bp",
          when(col("na") * col("nb") === 0L, lit(0L))
            .otherwise(floor((col("dotm") * lit(10000L)).cast("double") /
              sqrt((col("na") * col("nb")).cast("double"))).cast("long")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .groupBy(col("label"), col("src"))
        .agg(max(when(col("rn") === 1, col("cos_bp"))).as("c1"),
          max(when(col("rn") === 2, col("cos_bp"))).as("c2"))
        .where(col("c2").isNotNull)
        .withColumn("margin_bp", col("c1") - col("c2"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("margin_bp")).as("min_margin_bp"),
          max(col("margin_bp")).as("max_margin_bp"),
          idiv(sum(col("margin_bp")), count(lit(1))).as("mean_margin_bp"))
        .orderBy(col("label"))
    }),

    // Embedding-norm distribution per label: the calibration audit a
    // quantizer (SQ8/PQ) reads before choosing scales. Norms are integer
    // MILLI-UNITS — floor over an IEEE-exact sqrt of the exact integer
    // squared norm (milli-quantized components), so min/max/sum/mean are
    // all engine- and partition-order-independent; round(double, n)
    // emission (the r6 hash-break class) never appears. Pure map + one
    // keyed rollup.
    "sim_norm_stats" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), Similarity.milliQuant(col("embedding")).as("mq"))
        .withColumn("norm_milli",
          floor(sqrt(Similarity.normSqMilli(col("mq")).cast("double"))).cast("long"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("norm_milli")).as("min_norm_milli"),
          max(col("norm_milli")).as("max_norm_milli"),
          sum(col("norm_milli")).as("sum_norm_milli"))
        .withColumn("mean_norm_milli", expr("sum_norm_milli div n"))
        .orderBy(col("label"))),

    // LSH bucket-size histogram on integer-exact log2 buckets — the
    // index-balance audit behind sim_ann_lsh ("are buckets near the
    // 64-vector target or collapsing into one hot bucket"). Output is
    // ~log2(max bucket) rows at any corpus size.
    "sim_bucket_hist" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), TargetBucket)
      Similarity.lshBucketStats(emb, "vec_id", "embedding", planes, 64)
        .withColumn("size_bucket", length(bin(col("n"))).cast("long"))
        .groupBy(col("size_bucket"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_vecs"))
        .orderBy(col("size_bucket"))
    }),

    // IVF cell purity audit: per cell, the majority ground-truth label's
    // share in basis points — "do the coarse cells respect the label
    // structure". ivfAssignAll keeps label next to the assignment (no
    // join-back rescan); two keyed rollups; the majority pick is a
    // deterministic lexicographic struct-min (count desc, label asc).
    // Output is one row per cell regardless of corpus size.
    "sim_cluster_purity" -> ((s, dir) => {
      val a = Similarity.ivfAssignAll(Tables.embeddings(s, dir), "vec_id", "embedding", 8)
      val cl = a.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("c"))
      cl.groupBy(col("cell"))
        .agg(sum(col("c")).as("n"),
          min(struct((-col("c")).as("negc"), col("label"))).as("top"))
        .select(col("cell"), col("n"), col("top.label").as("major_label"),
          (-col("top.negc")).as("top_c"))
        .withColumn("purity_bp", expr("(top_c * 10000) div n"))
        .orderBy(col("cell"))
    }),

    // Container-format dispatch: route opaque binaries by their leading
    // byte ("magic number" sniffing — the demux step before per-format
    // decoders). Pure per-row kernel + a tiny keyed rollup; the stub
    // classifier maps byte ranges to format labels the way a real one
    // maps magic prefixes.
    "mm_format_sniff" -> ((s, dir) => {
      val magic = substring(col("text"), 1, 1)
      Tables.documents(s, dir)
        .withColumn("format",
          when(magic.between("a", "f"), "image")
            .when(magic.between("g", "p"), "audio")
            .when(magic.between("q", "z"), "video")
            .otherwise("binary"))
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("bytes"),
          min(col("doc_id")).as("sample_doc"))
        .orderBy(col("format"))
    }),

    // Scalar (int8) quantization encode: 64 float32 components → 64
    // int8 codes + one per-vector scale, by exact integer arithmetic
    // (zero-shuffle per-row map). Audit columns: code checksum + the
    // leading 4 codes.
    "sim_sq8_encode" -> ((s, dir) =>
      Similarity.sq8Codes(Tables.embeddings(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
          element_at(col("codes"), 1).as("c0"),
          element_at(col("codes"), 2).as("c1"),
          element_at(col("codes"), 3).as("c2"),
          element_at(col("codes"), 4).as("c3"))
        .orderBy(col("vec_id"))),

    // SQ8 top-k: database vectors scored through int8 codes alone (native
    // codegen'd integer dot), ranked by the exact integer surrogate
    // dot·q_scale·x_scale — the SQ memory/recall trade next to PQ's.
    "sim_sq8_search" -> ((s, dir) =>
      Similarity.sq8Search(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10)),

    // Range (radius) search: every vector within cosine ≥ 0.25 of the
    // query — the threshold twin of top-k (no result bound; the caller
    // sets the radius).
    "sim_range_search" -> ((s, dir) =>
      Similarity.rangeSearch(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 0.25)),

    // Embedding-cosine near-duplicate pairs, blocked by cluster label.
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingPairs(Tables.embeddings(s, dir), "vec_id", "embedding", "label", 0.5)
        .orderBy(col("a"), col("b"))),

    // SemDeDup: k-means cells first, then each vector vs its cell's 16
    // lowest-id representatives — linear-cost semantic dedup (no pair
    // self-join; the representative set is broadcast).
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semantic(Tables.embeddings(s, dir), "vec_id", "embedding",
        cells = 8, reps = 16, threshold = 0.38)
        .orderBy(col("vec_id"))),

    // Opaque binary payload + typed metadata (decode step stubbed —
    // deterministic fake dims; see graft.ops.Multimodal).
    "mm_binary_meta" -> ((s, dir) => {
      val (w, h) = Multimodal.fakeDims("text")
      Tables.documents(s, dir).select(
        col("doc_id"),
        Multimodal.payloadSize(col("text")).as("size_bytes"),
        Multimodal.chunkCount(col("text")).as("n_chunks"),
        w.as("w"), h.as("h"),
        substring(md5(col("text")), 1, 8).as("content_id"))
        .orderBy(col("doc_id"))
    }),

    // Batch-shaped decode stage: binary payloads through mapPartitions
    // with an injectable decoder (stubbed deterministically — no codecs
    // in this container; the plumbing is the real thing).
    "mm_decode_batch" -> ((s, dir) =>
      Multimodal.decodeBatch(Tables.documents(s, dir), "doc_id", "text")
        .toDF().orderBy(col("doc_id"))),

    // Frame/chunk sampling over binary payloads (every 4th 64-byte chunk).
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleChunks(Tables.documents(s, dir), "doc_id", "text", 4)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Mean-pooled embedding per label (the chunk→doc / doc→class pooling
    // step) — exact milli-unit integer means, two map-side-combinable
    // shuffles at any scale.
    "sim_centroid" -> ((s, dir) =>
      Similarity.centroidStats(Tables.embeddings(s, dir), "embedding", "label")),

    // Hamming-distance top-k over 16-bit SimHash fingerprints: the
    // compact-code twin of cosine top-k (xor + popcount per candidate,
    // a 1-row broadcast probe — no shuffle of the corpus).
    "sim_hamming" -> ((s, dir) => {
      val sh = Dedup.simhash16(Tables.documents(s, dir), "doc_id", "text")
      val probe = sh.where(col("doc") === 0).select(col("simhash").as("q"))
      sh.where(col("doc") =!= 0).crossJoin(broadcast(probe))
        .select(col("doc").as("doc_id"),
          bit_count(col("simhash").bitwiseXOR(col("q"))).as("ham"))
        .orderBy(col("ham"), col("doc_id")).limit(20)
    }),

    // Mutual kNN graph, label-blocked: top-3 cosine neighbors per vector
    // WITHIN its label block (the blocking key an LSH bucket / IVF cell
    // plays at 100 TB — pair cost is Σ block², never corpus²), mutual
    // edges found by a keyed count over the directed edge set (cosine is
    // symmetric, so both directions carry the same basis-point value — no
    // second self-join, ONE aggregate). Ranking and emission are integer
    // basis points over milli-quantized components (Similarity.cosBp);
    // squared norms precompute per row pre-join; the block side
    // broadcasts (vectors are the small table here).
    "sim_knn_graph" -> ((s, dir) =>
      mutualKnnEdges(s, dir).orderBy(col("src"), col("dst"))),

    // Connected components over the mutual-kNN graph — the "semantic
    // cluster discovery" step (near-dup islands in embedding space).
    // Reuses the capped label-blocked edge builder above and the
    // dedup_cc min-label-propagation kernel (scalar convergence probe,
    // localCheckpoint per round — never a data collect). Output is one
    // row per COMPONENT (≪ corpus), so emission is bounded.
    "sim_knn_cc" -> ((s, dir) => {
      val edges = mutualKnnEdges(s, dir)
        .select(col("src").as("a"), col("dst").as("b"))
      Dedup.connectedComponents(edges)
        .groupBy(col("label").as("component"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
        .orderBy(col("component"))
    }),

    // Rank agreement between EXACT cosine order and the SQ8 int8
    // surrogate order over the query's true top-32 — the quantization
    // quality audit (Spearman ingredients as exact integers: Σd², Σ|d|,
    // max|d|). Exact top-32 lowers to TakeOrderedAndProject (one corpus
    // scan, no global sort); both rankings then run over the BOUNDED
    // 32-row set, and the SQ8 surrogate is the same integer score
    // sim_sq8_search ranks by — no float math anywhere.
    "sim_rank_corr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = SimShared.miln(s, dir)
      val q = m.where(col("vec_id") === 0)
        .select(col("mq").as("qmq"), col("nsq").as("qnsq"))
      val top = m.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.cosBp(Similarity.dotMilli(col("mq"), col("qmq")),
            col("nsq"), col("qnsq")).as("cos_bp"))
        .orderBy(col("cos_bp").desc, col("vec_id"))
        .limit(32)
      val codes = Similarity.sq8Codes(Tables.embeddings(s, dir), "vec_id", "embedding")
      val qc = codes.where(col("vec_id") === 0)
        .select(col("codes").as("qcodes"), col("scale").as("qs"))
      val scored = top.join(codes, Seq("vec_id")).crossJoin(broadcast(qc))
        .select(col("vec_id"), col("cos_bp"),
          (graft.functions.LongVectorFunctions.vecDotLong(col("codes"), col("qcodes")) *
            col("scale") * col("qs")).as("sq8_score"))
      val wx = Window.orderBy(col("cos_bp").desc, col("vec_id"))   // 32 rows: bounded
      val wa = Window.orderBy(col("sq8_score").desc, col("vec_id"))
      scored
        .withColumn("exact_rank", row_number().over(wx).cast("long"))
        .withColumn("approx_rank", row_number().over(wa).cast("long"))
        .agg(count(lit(1)).as("n"),
          sum((col("exact_rank") - col("approx_rank")) *
            (col("exact_rank") - col("approx_rank"))).as("sum_d2"),
          sum(abs(col("exact_rank") - col("approx_rank"))).as("sum_absd"),
          max(abs(col("exact_rank") - col("approx_rank"))).as("max_absd"))
    }),

    // Byte-balanced training-shard plan over payload sizes: two-phase
    // distributed prefix sum (block pre-aggregate + small-table window),
    // then shards of ~4 KiB — the "pack N-GB tar shards" planning step.
    "mm_shard_plan" -> ((s, dir) =>
      Layout.packShards(Tables.documents(s, dir), "doc_id",
          length(col("text")), targetBytes = 4096L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("bytes"),
          min(col("id")).as("first_doc"), max(col("id")).as("last_doc"))
        .orderBy(col("shard"))),

    // Batched top-k serving: 8 query vectors against the corpus in ONE
    // scan — the real online-retrieval shape (a query batch amortizes the
    // corpus read). The 8-row query side broadcasts; per-query ranking is
    // a qid-partitioned window (rank<=5 rides WindowGroupLimit), so the
    // shuffle carries candidates keyed by qid — batch size × corpus scan
    // cost stays ONE scan at 100 TB, never Q scans.
    "sim_batch_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = SimShared.miln(s, dir)
      val q = m.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("mq").as("qmq"), col("nsq").as("qnsq"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos_bp").desc, col("vec_id"))
      m.where(col("vec_id") >= 8)
        .crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          Similarity.cosBp(Similarity.dotMilli(col("mq"), col("qmq")),
            col("nsq"), col("qnsq")).as("cos_bp"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .select(col("qid"), col("rk").cast("long").as("rk"),
          col("vec_id"), col("cos_bp"))
        .orderBy(col("qid"), col("rk"))
    }),

    // PQ distortion audit: per subspace, the exact integer sub-L2 between
    // each vector and its chosen codeword (pqCodes already emits it) —
    // the quantization-error readout that says whether 16 codewords per
    // subspace are enough. One keyed rollup over the encode output.
    "sim_pq_distortion" -> ((s, dir) => {
      PqShared.codes(s, dir)
        .groupBy(col("sub"))
        .agg(count(lit(1)).as("n"), sum(col("dist")).as("sd"),
          max(col("dist")).as("max_dist"),
          count(when(col("dist") === 0L, 1)).as("n_exact"))
        .select(col("sub"), col("n"),
          expr("(sd - sd % n) div n").as("mean_dist"),
          col("max_dist"), col("n_exact"))
        .orderBy(col("sub"))
    }),

    // Recall@k curve (k ∈ {1,5,10}): the ANN quality readout as a CURVE
    // instead of sim_recall_audit's single point — how fast LSH recall
    // decays as k shrinks. Both top-10 result sets materialize once
    // (checkpoint); each k row is a constant-size filtered re-count of
    // the same 10×10 join, so the corpus is scanned exactly twice.
    "sim_recall_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val planes = Similarity.autoPlanes(emb.count(), TargetBucket)
      val wR = Window.orderBy(col("cos_bp").desc, col("vec_id"))
      val exact = Similarity.topKBrute(emb, "vec_id", "embedding", 0L, 10)
        .withColumn("re", row_number().over(wR))
        .select(col("vec_id"), col("re")).localCheckpoint(true)
      val ann = Similarity.annSearch(emb, "vec_id", "embedding", 0L, 10, planes, 64)
        .withColumn("ra", row_number().over(wR))
        .select(col("vec_id").as("aid"), col("ra")).localCheckpoint(true)
      val j = exact.join(ann, col("vec_id") === col("aid"), "left")
      Seq(1, 5, 10).map { k =>
        j.where(col("re") <= k)
          .agg(count(lit(1)).as("k_exact"),
            count(when(col("ra") <= k, 1)).as("hits"))
          .select(lit(k).cast("long").as("k"), col("k_exact"), col("hits"),
            expr("CASE WHEN k_exact = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE (hits * 10000) div k_exact END").as("recall_bp"))
      }.reduce(_ unionAll _).orderBy(col("k"))
    }),

    // Residual-norm statistics after centroid subtraction, per label:
    // ‖x − c‖² = ‖x‖² − 2·x·c + ‖c‖² from exact integer sums (truncating
    // integer centroid means, the ivf_train contract) — the evidence for
    // WHY IVF-PQ quantizes residuals (they are much smaller than raw
    // vectors). Two label-keyed aggregates + one broadcast of the
    // labels×64 centroid table; nothing pairwise.
    "sim_residual_stats" -> ((s, dir) => {
      val comp = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(Similarity.milliQuant(col("embedding"))).as(Seq("d", "x")))
        .localCheckpoint(true) // feeds the centroid build AND the residual join
      val cent = comp.groupBy(col("label"), col("d"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cn"))
        .withColumn("cq", ((col("sx") - col("sx") % col("cn")) / col("cn")).cast("long"))
        .select(col("label"), col("d"), col("cq"))
        .localCheckpoint(true) // broadcast side of both joins below
      val csq = cent.groupBy(col("label")).agg(sum(col("cq") * col("cq")).as("csq"))
      val per = comp.join(broadcast(cent), Seq("label", "d"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("x") * col("x")).as("nsq"), sum(col("x") * col("cq")).as("xc"))
        .join(broadcast(csq), Seq("label"))
        .select(col("vec_id"), col("label"),
          floor(sqrt((col("nsq") - col("xc") * 2 + col("csq")).cast("double")))
            .cast("long").as("resid_milli"))
      per.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("resid_milli")).as("min_milli"),
          max(col("resid_milli")).as("max_milli"),
          sum(col("resid_milli")).as("sr"))
        .select(col("label"), col("n"), col("min_milli"), col("max_milli"),
          expr("(sr - sr % n) div n").as("mean_milli"))
        .orderBy(col("label"))
    }),

    // Per-dimension distribution of the milli-quantized corpus (n, min,
    // max, truncating mean, zero count) — the calibration table a scalar
    // quantizer or PCA whitening step reads first. One posexplode + one
    // 64-key aggregate; map-side partials collapse the corpus, so the
    // reducer sees 64 rows per partition at any scale.
    "sim_dim_stats" -> ((s, dir) =>
      // projection of the shared GramShared per-dim moment frame (one
      // corpus pass per session serves the whole second-moment family)
      GramShared.dimStats(s, dir)
        .select(col("d"), col("n"),
          col("min_milli"), col("max_milli"),
          expr("(sx - sx % n) div n").as("mean_milli"), col("n_zero"))
        .orderBy(col("d")))
  )

  /** Milli-quantized embeddings + exact integer squared norms — the
    * oracle twin of Similarity.milliQuant / normSqMilli (CTEs `mil` and
    * `miln`). Shared by every integer-basis-point cosine oracle. */
  private[queries] val milliNormCte =
    """mil AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 3) AS DECIMAL(7,3)) * 1000 AS BIGINT)) AS mq
      |  FROM embeddings),
      |miln AS (SELECT vec_id, label, mq,
      |    CAST(list_sum(list_transform(mq, x -> x * x)) AS BIGINT) AS nsq FROM mil)""".stripMargin

  /** Exact integer dot of two milli-quantized 64-dim vectors. */
  private[queries] def dotmSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), i -> $a[CAST(i AS INTEGER)] * $b[CAST(i AS INTEGER)])) AS BIGINT)"

  /** Integer basis-point cosine — the oracle twin of Similarity.cosBp:
    * floor over an IEEE-correctly-rounded chain on exact integer
    * operands, bit-identical to the Spark side. */
  private[queries] def cosBpSql(dotm: String, na: String, nb: String): String =
    s"""(CASE WHEN $na * $nb = 0 THEN CAST(0 AS BIGINT)
       |  ELSE CAST(floor(CAST(($dotm) * 10000 AS DOUBLE) / sqrt(CAST($na * $nb AS DOUBLE))) AS BIGINT) END)""".stripMargin

  /** IVF assignment CTE: hash-sampled seeds, integer-basis-point cosine
    * argmax per vector (mirrors Similarity.ivfAssign: cosBp over
    * milli-quantized components, seed-id tiebreak). REFERENCES `miln` —
    * every WITH clause using it must place [[milliNormCte]] first. */
  private[queries] lazy val ivfCte =
    s"""seeds AS (
       |  SELECT vec_id AS seed_id
       |  FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |sv AS (SELECT s.seed_id, m.mq AS smq, m.nsq AS snsq
       |       FROM seeds s JOIN miln m ON m.vec_id = s.seed_id),
       |ass AS (
       |  SELECT e.vec_id, s.seed_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosBpSql(dotmSql("e.mq", "s.smq"), "e.nsq", "s.snsq")} DESC, s.seed_id) AS rn,
       |    s.seed_id AS cell
       |  FROM miln e CROSS JOIN sv s)""".stripMargin

  /** Bucket-assignment CTE with DATA-SCALED planes: np mirrors
    * Similarity.autoPlanes(n, 64) with the SAME integer arithmetic
    * (smallest p ≥ 1 with target·2^p ≥ n — a floating log2 could ceil
    * one plane differently at exact powers of two), and the plane range
    * is filtered to np.planes (static range(63) upper bound = the most
    * planes a BIGINT bucket id can hold). */
  private[queries] val bucketsCte =
    s"""np AS (
      |  SELECT min(CAST(p.range AS INTEGER)) AS planes
      |  FROM range(1, 57) p, (SELECT count(*) AS c FROM embeddings) n
      |  WHERE (CAST($TargetBucket AS BIGINT) << CAST(p.range AS INTEGER)) >= n.c),
      |comp AS (
      |  SELECT vec_id, CAST(d.range AS INTEGER) AS d,
      |    CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3) AS DECIMAL(7,3)) AS xq
      |  FROM embeddings CROSS JOIN range(64) d),
      |wp AS (
      |  SELECT vec_id, d, CAST(p.range AS INTEGER) AS p,
      |    strpos('0123456789abcdef',
      |      substring(md5(CAST(p.range AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) - 8 AS w,
      |    xq
      |  FROM comp CROSS JOIN range(63) p
      |  WHERE CAST(p.range AS INTEGER) < (SELECT planes FROM np)),
      |dots AS (SELECT vec_id, p, sum(xq * w) AS dot FROM wp GROUP BY vec_id, p),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY vec_id)""".stripMargin

  /** Generated Lloyd-round CTE chain: round i re-means from a(i-1)'s
    * assignment, re-assigns by integer-dot cosine into a(i). comp2 (the
    * milli-unit quantized components) and dxx are iteration-invariant and
    * hoisted; each round is textually identical modulo its index, exactly
    * like the Scala rounds of LloydShared. */
  /** The Lloyd-training CTE chain through `iters` rounds (cent$i / dcc$i /
    * a$i per round) — shared by the train-stats oracles and the
    * centroid-drift oracle so the replayed rounds cannot diverge. */
  private def ivfTrainCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""cent$i AS (
         |  SELECT cell, d, sum(xq) // count(*) AS cq
         |  FROM a${i - 1} JOIN comp2 USING (vec_id) GROUP BY cell, d),
         |dcc$i AS (SELECT cell, sum(cq * cq) AS dcc FROM cent$i GROUP BY cell),
         |dxc$i AS (
         |  SELECT c.vec_id, t.cell, sum(c.xq * t.cq) AS dxc
         |  FROM comp2 c JOIN cent$i t USING (d) GROUP BY c.vec_id, t.cell),
         |a$i AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT x.vec_id, x.cell, row_number() OVER (PARTITION BY x.vec_id
         |      ORDER BY ${cosBpSql("x.dxc", "v.dxx", "k.dcc")} DESC,
         |        x.cell) AS rn
         |    FROM dxc$i x JOIN dxx v USING (vec_id) JOIN dcc$i k USING (cell)) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$milliNormCte,
       |$ivfCte,
       |a0 AS (SELECT vec_id, cell FROM ass WHERE rn = 1),
       |comp2 AS (
       |  SELECT vec_id, CAST(d.range AS INTEGER) AS d,
       |    CAST(CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3)
       |      AS DECIMAL(7,3)) * 1000 AS BIGINT) AS xq
       |  FROM embeddings CROSS JOIN range(64) d),
       |dxx AS (SELECT vec_id, sum(xq * xq) AS dxx FROM comp2 GROUP BY vec_id),
       |$rounds""".stripMargin
  }

  private def ivfTrainSql(iters: Int): String =
    s"""WITH ${ivfTrainCtes(iters)}
       |SELECT f.cell, count(*) AS n, min(f.vec_id) AS min_id,
       |  CAST(floor(sqrt(CAST(k.dcc AS DOUBLE))) AS BIGINT) AS c_norm_milli
       |FROM a$iters f JOIN dcc$iters k USING (cell)
       |GROUP BY f.cell, k.dcc ORDER BY f.cell""".stripMargin

  /** Shared PQ CTE chain: milli-quantized components, 16 hash-sampled
    * codewords, per-(vector, codeword, subvector) integer sub-L2, argmin
    * encode — mirrors Similarity.pqSeeds/pqCodes exactly. */
  private[queries] val pqCte =
    s"""comp AS (
       |  SELECT vec_id, CAST(d.range AS INTEGER) AS d,
       |    CAST(CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3)
       |      AS DECIMAL(7,3)) * 1000 AS BIGINT) AS xq
       |  FROM embeddings CROSS JOIN range(64) d),
       |pq_seeds AS (
       |  SELECT vec_id AS code FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |cw AS (SELECT s.code, c.d, c.xq AS cq FROM pq_seeds s JOIN comp c ON c.vec_id = s.code),
       |dists AS (
       |  SELECT v.vec_id AS vid, w.code, CAST(v.d // 16 AS INTEGER) AS sub,
       |    CAST(sum((v.xq - w.cq) * (v.xq - w.cq)) AS BIGINT) AS dist
       |  FROM comp v JOIN cw w ON v.d = w.d
       |  GROUP BY v.vec_id, w.code, CAST(v.d // 16 AS INTEGER)),
       |enc AS (
       |  SELECT vid, sub, code, dist, row_number() OVER (
       |    PARTITION BY vid, sub ORDER BY dist, code) AS rn
       |  FROM dists)""".stripMargin

  /** SQ8 CTE chain mirroring Similarity.sq8Codes: milli-quantize, take the
    * per-vector max |component| as the scale, truncating integer division
    * on non-negative operands with the sign re-applied. */
  private val sq8Cte: String =
    """m AS (SELECT vec_id, list_transform(embedding,
      |  x -> CAST(CAST(round(CAST(x AS DOUBLE), 3) AS DECIMAL(7,3)) * 1000 AS BIGINT)) AS mi
      |  FROM embeddings),
      |sc AS (SELECT vec_id, mi,
      |  CAST(list_max(list_transform(mi, x -> abs(x))) AS BIGINT) AS scale FROM m),
      |cq AS (SELECT vec_id, scale, list_transform(mi,
      |  x -> CASE WHEN scale = 0 THEN 0
      |            WHEN x < 0 THEN -(abs(x) * 127 // scale)
      |            ELSE x * 127 // scale END) AS codes
      |  FROM sc)""".stripMargin

  /** Mutual top-3 kNN pair CTE (oracle twin of [[mutualKnnEdges]]).
    * REFERENCES `miln` — place [[milliNormCte]] first. Yields `pairs`
    * (src < dst, cos_bp, n); mutual edges are the n = 2 rows. */
  private[queries] lazy val knnPairsCte: String =
    s"""knn AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${cosBpSql(dotmSql("a.mq", "b.mq"), "a.nsq", "b.nsq")} AS cos_bp,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${cosBpSql(dotmSql("a.mq", "b.mq"), "a.nsq", "b.nsq")} DESC, b.vec_id) AS rn
       |  FROM miln a JOIN miln b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id),
       |edges AS (SELECT src, dst, cos_bp FROM knn WHERE rn <= 3),
       |pairs AS (
       |  SELECT least(src, dst) AS src, greatest(src, dst) AS dst,
       |    min(cos_bp) AS cos_bp, count(*) AS n
       |  FROM edges GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "sim_recall_audit" ->
      s"""WITH $milliNormCte,
         |$bucketsCte,
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |ex AS (SELECT vec_id FROM (
         |    SELECT m.vec_id, ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |    FROM miln m, qv q WHERE m.vec_id <> 0)
         |  ORDER BY cos_bp DESC, vec_id LIMIT 10),
         |qb AS (SELECT b.bucket, m.mq AS qmq, m.nsq AS qnsq
         |       FROM buckets b JOIN miln m USING (vec_id) WHERE b.vec_id = 0),
         |ann AS (SELECT vec_id FROM (
         |    SELECT m.vec_id, ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |    FROM miln m JOIN buckets b USING (vec_id)
         |    JOIN qb q ON b.bucket = q.bucket
         |    WHERE m.vec_id <> 0)
         |  ORDER BY cos_bp DESC, vec_id LIMIT 10),
         |a AS (SELECT
         |  (SELECT count(*) FROM ex) AS k_exact,
         |  (SELECT count(*) FROM ann) AS n_ann,
         |  (SELECT count(*) FROM ex JOIN ann USING (vec_id)) AS hits)
         |SELECT CAST(k_exact AS BIGINT) AS k_exact, CAST(n_ann AS BIGINT) AS n_ann,
         |  CAST(hits AS BIGINT) AS hits,
         |  CASE WHEN k_exact = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(hits * 10000 // k_exact AS BIGINT) END AS recall_bp
         |FROM a""".stripMargin,

    "sim_cos_hist" ->
      s"""WITH $milliNormCte,
         |p AS (
         |  SELECT ${dotmSql("a.mq", "b.mq")} AS dotm, a.nsq AS na, b.nsq AS nb
         |  FROM miln a JOIN miln b ON a.label = b.label AND a.vec_id < b.vec_id),
         |c AS (SELECT ${cosBpSql("dotm", "na", "nb")} AS cos_bp FROM p)
         |SELECT CAST((cos_bp + 10000) // 1000 - 10 AS BIGINT) AS bucket,
         |  count(*) AS n_pairs, min(cos_bp) AS lo_bp, max(cos_bp) AS hi_bp
         |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin,

    "sim_margin_stats" ->
      s"""WITH $milliNormCte,
         |p AS (
         |  SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         |    ${dotmSql("a.mq", "b.mq")} AS dotm, a.nsq AS na, b.nsq AS nb
         |  FROM miln a JOIN miln b ON a.label = b.label AND a.vec_id <> b.vec_id),
         |c AS (SELECT label, src, dst, ${cosBpSql("dotm", "na", "nb")} AS cos_bp
         |      FROM p),
         |r AS (SELECT label, src, cos_bp, row_number() OVER (
         |    PARTITION BY src ORDER BY cos_bp DESC, dst) AS rn FROM c),
         |m AS (SELECT label, src,
         |    max(CASE WHEN rn = 1 THEN cos_bp END)
         |      - max(CASE WHEN rn = 2 THEN cos_bp END) AS margin_bp
         |  FROM r WHERE rn <= 2 GROUP BY label, src
         |  HAVING max(CASE WHEN rn = 2 THEN cos_bp END) IS NOT NULL)
         |SELECT label, count(*) AS n_vecs,
         |  min(margin_bp) AS min_margin_bp, max(margin_bp) AS max_margin_bp,
         |  CAST(CAST(sum(margin_bp) AS BIGINT) // count(*) AS BIGINT)
         |    AS mean_margin_bp
         |FROM m GROUP BY label ORDER BY label""".stripMargin,

    "sim_centroid_drift" ->
      s"""WITH ${ivfTrainCtes(2)},
         |nm AS (SELECT cell, count(*) AS n FROM a1 GROUP BY cell)
         |SELECT c1.cell, CAST(nm.n AS BIGINT) AS n_members,
         |  CAST(sum(abs(c2.cq - c1.cq)) AS BIGINT) AS drift_l1_milli,
         |  CAST(max(abs(c2.cq - c1.cq)) AS BIGINT) AS max_dim_shift_milli
         |FROM cent1 c1
         |JOIN cent2 c2 ON c2.cell = c1.cell AND c2.d = c1.d
         |JOIN nm ON nm.cell = c1.cell
         |GROUP BY c1.cell, nm.n ORDER BY c1.cell""".stripMargin,

    "sim_norm_stats" ->
      s"""WITH $milliNormCte,
         |v AS (SELECT label,
         |    CAST(floor(sqrt(CAST(nsq AS DOUBLE))) AS BIGINT) AS norm_milli
         |  FROM miln)
         |SELECT label, count(*) AS n,
         |  min(norm_milli) AS min_norm_milli, max(norm_milli) AS max_norm_milli,
         |  CAST(sum(norm_milli) AS BIGINT) AS sum_norm_milli,
         |  CAST(sum(norm_milli) // count(*) AS BIGINT) AS mean_norm_milli
         |FROM v GROUP BY label ORDER BY label""".stripMargin,

    "sim_bucket_hist" ->
      s"""WITH $bucketsCte,
         |bs AS (SELECT bucket, count(*) AS n FROM buckets GROUP BY bucket)
         |SELECT CAST(length(bin(n)) AS BIGINT) AS size_bucket,
         |  count(*) AS n_buckets, CAST(sum(n) AS BIGINT) AS n_vecs
         |FROM bs GROUP BY 1 ORDER BY size_bucket""".stripMargin,

    "sim_cluster_purity" ->
      s"""WITH $milliNormCte,
         |$ivfCte,
         |a AS (SELECT vec_id, cell FROM ass WHERE rn = 1),
         |j AS (SELECT a.cell, e.label FROM a JOIN embeddings e USING (vec_id)),
         |cl AS (SELECT cell, label, count(*) AS c FROM j GROUP BY cell, label),
         |rk AS (SELECT *, row_number() OVER (
         |    PARTITION BY cell ORDER BY c DESC, label) AS rn2,
         |  sum(c) OVER (PARTITION BY cell) AS n FROM cl)
         |SELECT cell, CAST(n AS BIGINT) AS n,
         |  max(CASE WHEN rn2 = 1 THEN label END) AS major_label,
         |  CAST(max(CASE WHEN rn2 = 1 THEN c END) AS BIGINT) AS top_c,
         |  CAST(max(CASE WHEN rn2 = 1 THEN c END) * 10000 // n AS BIGINT) AS purity_bp
         |FROM rk GROUP BY cell, n ORDER BY cell""".stripMargin,

    "mm_format_sniff" ->
      """WITH f AS (
        |  SELECT doc_id, length(text) AS bytes,
        |    CASE WHEN substring(text, 1, 1) BETWEEN 'a' AND 'f' THEN 'image'
        |         WHEN substring(text, 1, 1) BETWEEN 'g' AND 'p' THEN 'audio'
        |         WHEN substring(text, 1, 1) BETWEEN 'q' AND 'z' THEN 'video'
        |         ELSE 'binary' END AS format
        |  FROM documents)
        |SELECT format, count(*) AS n_docs, CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(doc_id) AS sample_doc
        |FROM f GROUP BY format ORDER BY format""".stripMargin,

    "sim_sq8_encode" ->
      s"""WITH $sq8Cte
         |SELECT vec_id, scale, CAST(list_sum(codes) AS BIGINT) AS code_sum,
         |  CAST(codes[1] AS BIGINT) AS c0, CAST(codes[2] AS BIGINT) AS c1,
         |  CAST(codes[3] AS BIGINT) AS c2, CAST(codes[4] AS BIGINT) AS c3
         |FROM cq ORDER BY vec_id""".stripMargin,

    "sim_sq8_search" ->
      s"""WITH $sq8Cte,
         |q AS (SELECT codes AS qc, scale AS qs FROM cq WHERE vec_id = 0),
         |scd AS (SELECT vec_id,
         |  CAST(list_sum(list_transform(range(1, 65), i -> codes[i] * qc[i]))
         |    * scale * qs AS BIGINT) AS score
         |  FROM cq, q WHERE vec_id <> 0)
         |SELECT vec_id, score FROM scd ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    "sim_pq_encode" ->
      s"""WITH $pqCte
         |SELECT vid AS vec_id, sub, code, dist FROM enc WHERE rn = 1
         |ORDER BY vec_id, sub""".stripMargin,

    // PQ training round: centroid means via DuckDB's truncating `//`
    // (mirrors the Spark-side (sx - sx % n) / n), re-encode by integer
    // L2 argmin — shares the pqCte initial encode so the two cannot drift
    "sim_pq_train" ->
      s"""WITH $pqCte,
         |cent AS (
         |  SELECT CAST(v.d // 16 AS INTEGER) AS sub, e.code,
         |    CAST(v.d % 16 AS INTEGER) AS dd, sum(v.xq) // count(*) AS cq
         |  FROM comp v JOIN enc e
         |    ON e.vid = v.vec_id AND e.sub = CAST(v.d // 16 AS INTEGER) AND e.rn = 1
         |  GROUP BY 1, 2, 3),
         |dcc AS (SELECT sub, code, CAST(sum(cq * cq) AS BIGINT) AS dcc
         |        FROM cent GROUP BY sub, code),
         |d2 AS (
         |  SELECT v.vec_id AS vid, c.sub, c.code,
         |    CAST(sum((v.xq - c.cq) * (v.xq - c.cq)) AS BIGINT) AS dist
         |  FROM comp v JOIN cent c
         |    ON CAST(v.d // 16 AS INTEGER) = c.sub AND CAST(v.d % 16 AS INTEGER) = c.dd
         |  GROUP BY 1, 2, 3),
         |enc2 AS (
         |  SELECT vid, sub, code, row_number() OVER (
         |    PARTITION BY vid, sub ORDER BY dist, code) AS rn
         |  FROM d2)
         |SELECT e.sub, e.code, count(*) AS n, min(e.vid) AS min_id,
         |  CAST(floor(sqrt(CAST(k.dcc AS DOUBLE))) AS BIGINT) AS c_norm_milli
         |FROM enc2 e JOIN dcc k ON k.sub = e.sub AND k.code = e.code
         |WHERE e.rn = 1
         |GROUP BY e.sub, e.code, k.dcc ORDER BY e.sub, e.code""".stripMargin,

    // composed oracle: the IVF assignment CTE picks the candidate cell,
    // the PQ CTE scores candidates by ADC — same chains as the
    // standalone queries, so the composition cannot drift from its parts
    "sim_ivf_pq_search" ->
      s"""WITH $milliNormCte,
         |$ivfCte,
         |$pqCte,
         |cells AS (SELECT vec_id, seed_id AS cell FROM ass WHERE rn = 1),
         |qc AS (SELECT cell FROM cells WHERE vec_id = 0),
         |q AS (SELECT d, xq AS qx FROM comp WHERE vec_id = 0),
         |lut AS (
         |  SELECT w.code, CAST(w.d // 16 AS INTEGER) AS sub,
         |    CAST(sum((q.qx - w.cq) * (q.qx - w.cq)) AS BIGINT) AS qd
         |  FROM cw w JOIN q ON q.d = w.d
         |  GROUP BY w.code, CAST(w.d // 16 AS INTEGER)),
         |adc AS (
         |  SELECT e.vid, CAST(sum(l.qd) AS BIGINT) AS adist
         |  FROM enc e JOIN lut l ON e.code = l.code AND e.sub = l.sub
         |  JOIN cells c ON c.vec_id = e.vid
         |  JOIN qc ON c.cell = qc.cell
         |  WHERE e.rn = 1 AND e.vid <> 0 GROUP BY e.vid)
         |SELECT vid AS vec_id, adist FROM adc
         |ORDER BY adist, vec_id LIMIT 10""".stripMargin,

    "sim_pq_search" ->
      s"""WITH $pqCte,
         |q AS (SELECT d, xq AS qx FROM comp WHERE vec_id = 0),
         |lut AS (
         |  SELECT w.code, CAST(w.d // 16 AS INTEGER) AS sub,
         |    CAST(sum((q.qx - w.cq) * (q.qx - w.cq)) AS BIGINT) AS qd
         |  FROM cw w JOIN q ON q.d = w.d
         |  GROUP BY w.code, CAST(w.d // 16 AS INTEGER)),
         |adc AS (
         |  SELECT e.vid, CAST(sum(l.qd) AS BIGINT) AS adist
         |  FROM enc e JOIN lut l ON e.code = l.code AND e.sub = l.sub
         |  WHERE e.rn = 1 AND e.vid <> 0 GROUP BY e.vid)
         |SELECT vid AS vec_id, adist FROM adc
         |ORDER BY adist, vec_id LIMIT 10""".stripMargin,
    "sim_topk_brute" ->
      s"""WITH $milliNormCte,
         |q AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |c AS (SELECT vec_id, ${cosBpSql(dotmSql("mq", "qmq"), "nsq", "qnsq")} AS cos_bp
         |      FROM miln, q WHERE vec_id <> 0)
         |SELECT vec_id, cos_bp FROM c ORDER BY cos_bp DESC, vec_id LIMIT 10""".stripMargin,

    "sim_l2_topk" ->
      s"""WITH $milliNormCte,
         |q AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |c AS (SELECT vec_id,
         |  CAST(miln.nsq + q.qnsq - 2 * ${dotmSql("mq", "qmq")} AS BIGINT) AS l2m_sq
         |      FROM miln, q WHERE vec_id <> 0)
         |SELECT vec_id, l2m_sq FROM c ORDER BY l2m_sq, vec_id LIMIT 10""".stripMargin,

    "sim_mips_topk" ->
      s"""WITH $milliNormCte,
         |q AS (SELECT mq AS qmq FROM miln WHERE vec_id = 0),
         |c AS (SELECT vec_id, CAST(${dotmSql("mq", "qmq")} AS BIGINT) AS ip_milli2
         |      FROM miln, q WHERE vec_id <> 0)
         |SELECT vec_id, ip_milli2 FROM c
         |ORDER BY ip_milli2 DESC, vec_id LIMIT 10""".stripMargin,

    "sim_ann_lsh" ->
      s"""WITH $bucketsCte
         |SELECT bucket, count(*) AS n, min(vec_id) AS min_id
         |FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin,

    "sim_ann_search" ->
      s"""WITH $milliNormCte,
         |$bucketsCte,
         |q AS (SELECT b.bucket, m.mq AS qmq, m.nsq AS qnsq
         |      FROM buckets b JOIN miln m USING (vec_id) WHERE b.vec_id = 0),
         |cand AS (
         |  SELECT m.vec_id, ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |  FROM miln m JOIN buckets b USING (vec_id) JOIN q ON b.bucket = q.bucket
         |  WHERE m.vec_id <> 0)
         |SELECT vec_id, cos_bp FROM cand ORDER BY cos_bp DESC, vec_id LIMIT 10""".stripMargin,

    "sim_ann_multiprobe" ->
      s"""WITH $milliNormCte,
         |$bucketsCte,
         |q AS (SELECT b.bucket, m.mq AS qmq, m.nsq AS qnsq
         |      FROM buckets b JOIN miln m USING (vec_id) WHERE b.vec_id = 0),
         |probes AS (
         |  SELECT bucket AS pb, qmq, qnsq FROM q
         |  UNION ALL
         |  SELECT xor(q.bucket, CAST(1 AS BIGINT) << CAST(p.range AS INTEGER)) AS pb, qmq, qnsq
         |  FROM q CROSS JOIN range(63) p
         |  WHERE CAST(p.range AS INTEGER) < (SELECT planes FROM np)),
         |cand AS (
         |  SELECT m.vec_id, ${cosBpSql(dotmSql("m.mq", "probes.qmq"), "m.nsq", "probes.qnsq")} AS cos_bp
         |  FROM miln m JOIN buckets b USING (vec_id)
         |  JOIN probes ON b.bucket = probes.pb
         |  WHERE m.vec_id <> 0)
         |SELECT vec_id, cos_bp FROM cand ORDER BY cos_bp DESC, vec_id LIMIT 10""".stripMargin,

    "sim_ivf_multiprobe" ->
      s"""WITH $milliNormCte,
         |$ivfCte,
         |cells AS (SELECT vec_id, seed_id AS cell FROM ass WHERE rn = 1),
         |q AS (SELECT a.cell, m.mq AS qmq, m.nsq AS qnsq
         |      FROM ass a JOIN miln m USING (vec_id)
         |      WHERE a.vec_id = 0 AND a.rn <= 2),
         |cand AS (
         |  SELECT m.vec_id, ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |  FROM miln m JOIN cells c USING (vec_id) JOIN q ON c.cell = q.cell
         |  WHERE m.vec_id <> 0)
         |SELECT vec_id, cos_bp FROM cand ORDER BY cos_bp DESC, vec_id LIMIT 10""".stripMargin,

    "sim_ivf_cells" ->
      s"""WITH $milliNormCte,
         |$ivfCte
         |SELECT cell, count(*) AS n, min(vec_id) AS min_id
         |FROM ass WHERE rn = 1 GROUP BY cell ORDER BY cell""".stripMargin,

    // Lloyd rounds: milli-unit integer means (// truncates like the
    // Spark-side `(sx - sx % n) / n`), integer dot-product re-assignment.
    // The CTE chain is GENERATED per iteration so the 1- and 2-round
    // oracles can't drift from each other (mirrors the Scala rounds of
    // LloydShared).
    "sim_ivf_train" -> ivfTrainSql(1),
    "sim_ivf_train2" -> ivfTrainSql(2),

    "sim_ivf_search" ->
      s"""WITH $milliNormCte,
         |$ivfCte,
         |cells AS (SELECT vec_id, seed_id AS cell FROM ass WHERE rn = 1),
         |q AS (SELECT c.cell, m.mq AS qmq, m.nsq AS qnsq
         |      FROM cells c JOIN miln m USING (vec_id) WHERE c.vec_id = 0),
         |cand AS (
         |  SELECT m.vec_id, ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |  FROM miln m JOIN cells c USING (vec_id) JOIN q ON c.cell = q.cell
         |  WHERE m.vec_id <> 0)
         |SELECT vec_id, cos_bp FROM cand ORDER BY cos_bp DESC, vec_id LIMIT 10""".stripMargin,

    "sim_nn_join" ->
      s"""WITH $milliNormCte,
         |$bucketsCte,
         |cand AS (
         |  SELECT vec_id, bucket,
         |    row_number() OVER (PARTITION BY bucket
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS crn
         |  FROM buckets),
         |pairs AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b,
         |    ${cosBpSql(dotmSql("lm.mq", "rm.mq"), "lm.nsq", "rm.nsq")} AS cos_bp
         |  FROM buckets l JOIN cand r
         |    ON l.bucket = r.bucket AND l.vec_id <> r.vec_id AND r.crn <= $CandCap
         |  JOIN miln lm ON lm.vec_id = l.vec_id
         |  JOIN miln rm ON rm.vec_id = r.vec_id),
         |ranked AS (
         |  SELECT a, b, cos_bp,
         |    row_number() OVER (PARTITION BY a ORDER BY cos_bp DESC, b) AS rn
         |  FROM pairs)
         |SELECT a, b AS nn, cos_bp FROM ranked WHERE rn = 1 ORDER BY a""".stripMargin,

    "sim_range_search" ->
      s"""WITH $milliNormCte,
         |q AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |c AS (SELECT vec_id,
         |    ${cosBpSql(dotmSql("mq", "qmq"), "nsq", "qnsq")} AS cos_bp
         |  FROM miln, q WHERE vec_id <> 0)
         |SELECT vec_id, cos_bp FROM c WHERE cos_bp >= 2500
         |ORDER BY cos_bp DESC, vec_id""".stripMargin,

    "dedup_embedding" ->
      s"""WITH $milliNormCte,
         |p AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b,
         |    ${cosBpSql(dotmSql("l.mq", "r.mq"), "l.nsq", "r.nsq")} AS cos_bp
         |  FROM miln l JOIN miln r
         |    ON l.label = r.label AND l.vec_id < r.vec_id)
         |SELECT a, b, cos_bp FROM p WHERE cos_bp >= 5000
         |ORDER BY a, b""".stripMargin,

    // SemDeDup: same IVF assignment CTE as the sim_ivf_* oracles, 16
    // lowest-id representatives per cell, earliest claimant wins.
    "dedup_semantic" ->
      s"""WITH $milliNormCte,
         |$ivfCte,
         |cells AS (SELECT vec_id, cell FROM ass WHERE rn = 1),
         |reps AS (
         |  SELECT vec_id AS rep_id, cell,
         |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rrn
         |  FROM cells QUALIFY rrn <= 16),
         |hits AS (
         |  SELECT c.vec_id, c.cell, r.rep_id AS kept_by,
         |    ${cosBpSql(dotmSql("e.mq", "re.mq"), "e.nsq", "re.nsq")} AS cos_bp
         |  FROM cells c
         |  JOIN miln e ON e.vec_id = c.vec_id
         |  JOIN reps r ON r.cell = c.cell AND r.rep_id < c.vec_id
         |  JOIN miln re ON re.vec_id = r.rep_id
         |  WHERE ${cosBpSql(dotmSql("e.mq", "re.mq"), "e.nsq", "re.nsq")} >= 3800),
         |first_hit AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY kept_by) AS prn
         |  FROM hits)
         |SELECT vec_id, cell, kept_by, cos_bp FROM first_hit
         |WHERE prn = 1 ORDER BY vec_id""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
        |  CAST((octet_length(encode(text)) + 63) // 64 AS BIGINT) AS n_chunks,
        |  CAST(strpos('0123456789abcdef', substring(md5(text), 1, 1)) * 16 AS INTEGER) AS w,
        |  CAST(strpos('0123456789abcdef', substring(md5(text), 2, 1)) * 16 AS INTEGER) AS h,
        |  substring(md5(text), 1, 8) AS content_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_decode_batch" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
        |  CAST(strpos('0123456789abcdef', substring(md5(text), 1, 1)) * 16 AS INTEGER) AS width,
        |  CAST(strpos('0123456789abcdef', substring(md5(text), 2, 1)) * 16 AS INTEGER) AS height,
        |  CAST((octet_length(encode(text)) + 63) // 64 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sim_centroid" ->
      """WITH comp AS (
        |  SELECT label, CAST(d.range AS INTEGER) AS d,
        |    CAST(CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3)
        |      AS DECIMAL(7,3)) * 1000 AS BIGINT) AS x
        |  FROM embeddings CROSS JOIN range(64) d),
        |cent AS (
        |  SELECT label, d, count(*) AS n, sum(x) // count(*) AS cq
        |  FROM comp GROUP BY label, d)
        |SELECT label, CAST(max(n) AS BIGINT) AS n,
        |  CAST(floor(sqrt(CAST(sum(cq * cq) AS DOUBLE))) AS BIGINT) AS c_norm_milli,
        |  CAST(max(CASE WHEN d = 0 THEN cq END) AS BIGINT) AS c0_milli
        |FROM cent GROUP BY label ORDER BY label""".stripMargin,

    // same simhash CTE as TextDedup's dedup_simhash oracle (md5-nibble
    // bit votes), probed by doc 0's fingerprint via xor+bit_count
    "sim_hamming" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, md5(unnest($toksSql)) AS h FROM documents),
         |bits AS (
         |  SELECT doc, h, j.range AS j,
         |    strpos('0123456789abcdef', substring(h, 1 + CAST(j.range // 4 AS INTEGER), 1)) - 1 AS nib
         |  FROM tok CROSS JOIN range(16) j),
         |votes AS (
         |  SELECT doc, j, sum(CASE WHEN (nib >> CAST(j % 4 AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM bits GROUP BY doc, j),
         |sh AS (
         |  SELECT doc, CAST(sum(CASE WHEN v > 0 THEN 1 << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY doc)
         |SELECT s.doc AS doc_id,
         |  CAST(bit_count(xor(s.simhash, q.simhash)) AS INTEGER) AS ham
         |FROM sh s, (SELECT simhash FROM sh WHERE doc = 0) q
         |WHERE s.doc <> 0
         |ORDER BY ham, doc_id LIMIT 20""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH $milliNormCte,
         |$knnPairsCte
         |SELECT src, dst, cos_bp FROM pairs WHERE n = 2 ORDER BY src, dst""".stripMargin,

    "sim_knn_cc" ->
      s"""WITH RECURSIVE $milliNormCte,
         |$knnPairsCte,
         |mp AS (SELECT src, dst FROM pairs WHERE n = 2),
         |ed AS (SELECT src AS a, dst AS b FROM mp
         |       UNION ALL SELECT dst, src FROM mp),
         |nodes AS (SELECT DISTINCT a AS id FROM ed),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT w.id, e.b AS r FROM reach w JOIN ed e ON e.a = w.r),
         |lab AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT component, count(*) AS n_members, max(id) AS max_id
         |FROM lab GROUP BY component ORDER BY component""".stripMargin,

    "sim_rank_corr" ->
      s"""WITH $milliNormCte,
         |$sq8Cte,
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |topx AS (SELECT vec_id, cos_bp FROM (
         |    SELECT e.vec_id,
         |      ${cosBpSql(dotmSql("e.mq", "q.qmq"), "e.nsq", "q.qnsq")} AS cos_bp
         |    FROM miln e, qv q WHERE e.vec_id <> 0)
         |  ORDER BY cos_bp DESC, vec_id LIMIT 32),
         |qc AS (SELECT codes AS qcodes, scale AS qs FROM cq WHERE vec_id = 0),
         |sc2 AS (
         |  SELECT t.vec_id, t.cos_bp,
         |    CAST(list_sum(list_transform(range(1, 65),
         |      i -> c.codes[i] * q.qcodes[i])) * c.scale * q.qs AS BIGINT) AS sq8_score
         |  FROM topx t JOIN cq c USING (vec_id), qc q),
         |r AS (SELECT
         |    CAST(row_number() OVER (ORDER BY cos_bp DESC, vec_id) AS BIGINT) AS exact_rank,
         |    CAST(row_number() OVER (ORDER BY sq8_score DESC, vec_id) AS BIGINT) AS approx_rank
         |  FROM sc2)
         |SELECT count(*) AS n,
         |  CAST(sum((exact_rank - approx_rank) * (exact_rank - approx_rank)) AS BIGINT) AS sum_d2,
         |  CAST(sum(abs(exact_rank - approx_rank)) AS BIGINT) AS sum_absd,
         |  CAST(max(abs(exact_rank - approx_rank)) AS BIGINT) AS max_absd
         |FROM r""".stripMargin,

    "mm_shard_plan" ->
      """WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS bytes FROM documents),
        |c AS (SELECT doc_id, bytes,
        |  coalesce(sum(bytes) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM d)
        |SELECT CAST(before // 4096 AS BIGINT) AS shard, count(*) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,

    "mm_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST((length(text) + 63) // 64 AS BIGINT) AS n FROM documents),
        |ch AS (SELECT doc_id, text, unnest(range(0, n)) AS chunk_idx FROM d)
        |SELECT doc_id, chunk_idx,
        |  md5(substring(text, CAST(chunk_idx * 64 + 1 AS INTEGER), 64)) AS chunk_md5
        |FROM ch WHERE chunk_idx % 4 = 0 ORDER BY doc_id, chunk_idx""".stripMargin,

    "sim_batch_topk" ->
      s"""WITH $milliNormCte,
         |q AS (SELECT vec_id AS qid, mq AS qmq, nsq AS qnsq
         |      FROM miln WHERE vec_id < 8),
         |cand AS (
         |  SELECT q.qid, m.vec_id,
         |    ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |  FROM miln m CROSS JOIN q WHERE m.vec_id >= 8),
         |r AS (SELECT qid, vec_id, cos_bp,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos_bp DESC, vec_id) AS rk
         |  FROM cand)
         |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, cos_bp
         |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // same encode chain as sim_pq_encode (pqCte) so the distortion audit
    // cannot drift from the encoder it audits
    "sim_pq_distortion" ->
      s"""WITH $pqCte
         |SELECT sub, count(*) AS n,
         |  CAST(sum(dist) // count(*) AS BIGINT) AS mean_dist,
         |  max(dist) AS max_dist,
         |  CAST(count(CASE WHEN dist = 0 THEN 1 END) AS BIGINT) AS n_exact
         |FROM enc WHERE rn = 1
         |GROUP BY sub ORDER BY sub""".stripMargin,

    // same ex/ann chains as sim_recall_audit, ranked; one UNION ALL arm
    // per k so the curve and the single-point audit cannot drift
    "sim_recall_curve" -> {
      val arm = (k: Int) =>
        s"""SELECT CAST($k AS BIGINT) AS k,
           |  (SELECT count(*) FROM exr WHERE re <= $k) AS k_exact,
           |  (SELECT count(*) FROM exr JOIN anr USING (vec_id)
           |     WHERE exr.re <= $k AND anr.ra <= $k) AS hits,
           |  CASE WHEN (SELECT count(*) FROM exr WHERE re <= $k) = 0
           |       THEN CAST(0 AS BIGINT)
           |       ELSE CAST((SELECT count(*) FROM exr JOIN anr USING (vec_id)
           |                  WHERE exr.re <= $k AND anr.ra <= $k) * 10000
           |                 // (SELECT count(*) FROM exr WHERE re <= $k) AS BIGINT)
           |  END AS recall_bp""".stripMargin
      s"""WITH $milliNormCte,
         |$bucketsCte,
         |qv AS (SELECT mq AS qmq, nsq AS qnsq FROM miln WHERE vec_id = 0),
         |exr AS (SELECT vec_id, row_number() OVER (ORDER BY cos_bp DESC, vec_id) AS re
         |  FROM (
         |    SELECT m.vec_id, ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |    FROM miln m, qv q WHERE m.vec_id <> 0
         |    ORDER BY cos_bp DESC, vec_id LIMIT 10)),
         |qb AS (SELECT b.bucket, m.mq AS qmq, m.nsq AS qnsq
         |       FROM buckets b JOIN miln m USING (vec_id) WHERE b.vec_id = 0),
         |anr AS (SELECT vec_id, row_number() OVER (ORDER BY cos_bp DESC, vec_id) AS ra
         |  FROM (
         |    SELECT m.vec_id, ${cosBpSql(dotmSql("m.mq", "q.qmq"), "m.nsq", "q.qnsq")} AS cos_bp
         |    FROM miln m JOIN buckets b USING (vec_id)
         |    JOIN qb q ON b.bucket = q.bucket
         |    WHERE m.vec_id <> 0
         |    ORDER BY cos_bp DESC, vec_id LIMIT 10))
         |${arm(1)}
         |UNION ALL
         |${arm(5)}
         |UNION ALL
         |${arm(10)}
         |ORDER BY k""".stripMargin
    },

    "sim_residual_stats" ->
      """WITH comp AS (
        |  SELECT vec_id, label, CAST(d.range AS INTEGER) AS d,
        |    CAST(CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3)
        |      AS DECIMAL(7,3)) * 1000 AS BIGINT) AS x
        |  FROM embeddings CROSS JOIN range(64) d),
        |cent AS (
        |  SELECT label, d, sum(x) // count(*) AS cq
        |  FROM comp GROUP BY label, d),
        |csq AS (SELECT label, CAST(sum(cq * cq) AS BIGINT) AS csq
        |        FROM cent GROUP BY label),
        |per AS (
        |  SELECT c.vec_id, c.label,
        |    CAST(sum(c.x * c.x) AS BIGINT) AS nsq,
        |    CAST(sum(c.x * ct.cq) AS BIGINT) AS xc
        |  FROM comp c JOIN cent ct ON ct.label = c.label AND ct.d = c.d
        |  GROUP BY c.vec_id, c.label),
        |r AS (
        |  SELECT p.vec_id, p.label,
        |    CAST(floor(sqrt(CAST(p.nsq - p.xc * 2 + q.csq AS DOUBLE))) AS BIGINT)
        |      AS resid_milli
        |  FROM per p JOIN csq q USING (label))
        |SELECT label, count(*) AS n,
        |  min(resid_milli) AS min_milli, max(resid_milli) AS max_milli,
        |  CAST(sum(resid_milli) // count(*) AS BIGINT) AS mean_milli
        |FROM r GROUP BY label ORDER BY label""".stripMargin,

    "sim_dim_stats" ->
      """WITH comp AS (
        |  SELECT CAST(d.range AS BIGINT) AS d,
        |    CAST(CAST(round(CAST(embedding[CAST(d.range AS INTEGER) + 1] AS DOUBLE), 3)
        |      AS DECIMAL(7,3)) * 1000 AS BIGINT) AS x
        |  FROM embeddings CROSS JOIN range(64) d)
        |SELECT d, count(*) AS n,
        |  min(x) AS min_milli, max(x) AS max_milli,
        |  CAST(sum(x) // count(*) AS BIGINT) AS mean_milli,
        |  CAST(count(CASE WHEN x = 0 THEN 1 END) AS BIGINT) AS n_zero
        |FROM comp GROUP BY d ORDER BY d""".stripMargin
  )
}
