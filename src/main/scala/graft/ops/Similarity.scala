package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (correctness reference). Scale path:
  * random-hyperplane LSH — each vector maps to a small bucket id, the
  * search touches only its bucket's candidates (O(n / #buckets) per query
  * on a 1000-executor cluster, bucket assignment is a narrow map stage).
  *
  * Determinism: hyperplane weights derive from md5 hex digits and the dot
  * products for bucketing are computed in exact DECIMAL arithmetic over
  * 3-dp-quantized components, so bucket ids are bit-stable across engines
  * (a SQL oracle reproduces them) and across partitionings — float
  * summation order never matters.
  */
object Similarity {

  /** Brute-force top-k by cosine against the vector of `queryId`.
    * The single-row query side is broadcast; squared norms are computed
    * once per row pre-join; tiebreak on id keeps the top-k deterministic.
    * Ranking runs in integer BASIS POINTS over milli-quantized components
    * ([[cosBp]]) — no rounded double anywhere, so the top-k membership is
    * bit-stable across engines (round(double, 4) ranking is the r6
    * hash-break class). */
  def topKBrute(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(idCol) === lit(queryId))
      .select(milliQuant(col(vecCol)).as("qmq"))
      .withColumn("qnsq", normSqMilli(col("qmq")))
    emb.where(col(idCol) =!= lit(queryId))
      .select(col(idCol), milliQuant(col(vecCol)).as("mq"))
      .withColumn("nsq", normSqMilli(col("mq")))
      .crossJoin(broadcast(q))
      .withColumn("cos_bp", cosBp(dotMilli(col("mq"), col("qmq")), col("nsq"), col("qnsq")))
      .select(col(idCol), col("cos_bp"))
      .orderBy(col("cos_bp").desc, col(idCol))
      .limit(k)
  }

  /** One chosen k-center seed: id, milli-quantized vector, squared norm,
    * selection order (1-based), and its min-d2 to the earlier seeds at
    * selection time (0 for the seed). ≤k of these ever exist, so they
    * live on the DRIVER — the whole point of [[farthestFirstSeeds]]. */
  final case class CenterSeed(cid: Long, cmq: Seq[Long], cnsq: Long,
                              ord: Long, mind2: Long)

  /** Farthest-first traversal (greedy k-center) over a pre-quantized
    * `(vec_id, mq, nsq)` frame (e.g. the shared SimShared.miln corpus):
    * seed 1 = `seedId`, each round adds the vector maximizing its min
    * exact squared-L2 to the chosen set (tie → min id).
    *
    * The chosen set is ≤k rows, so it lives on the DRIVER and each
    * round compiles it into the scan as literal codeword arrays:
    * min-d2 = least over ≤k codegen'd integer dot products — ONE
    * whole-stage-codegen pass over the corpus per round, zero joins,
    * zero shuffles (TakeOrdered(1) moves one row per partition), zero
    * per-round checkpoints. k rounds cost k corpus scans flat; the
    * per-round join + groupBy + eager-checkpoint chain this replaces
    * was the structure that blew sim_seed_quality to 11× its anchor. */
  def farthestFirstSeeds(base: DataFrame, seedId: Long,
                         k: Int): Seq[CenterSeed] = {
    val seed = base.where(col("vec_id") === lit(seedId))
      .select(col("vec_id"), col("mq"), col("nsq")).head()
    val chosen = scala.collection.mutable.ArrayBuffer(
      CenterSeed(seed.getLong(0), seed.getSeq[Long](1), seed.getLong(2), 1L, 0L))
    for (r <- 2 to k) {
      val d2s = chosen.map(c =>
        col("nsq") + lit(c.cnsq) -
          lit(2L) * dotMilli(col("mq"), typedLit(c.cmq)))
      val minD2 = if (d2s.size == 1) d2s.head else least(d2s.toSeq: _*)
      val next = base
        .where(!col("vec_id").isin(chosen.map(_.cid).toSeq: _*))
        .select(col("vec_id"), col("mq"), col("nsq"), minD2.as("mind2"))
        .orderBy(col("mind2").desc, col("vec_id"))
        .limit(1).head()
      chosen += CenterSeed(next.getLong(0), next.getSeq[Long](1),
        next.getLong(2), r.toLong, next.getLong(3))
    }
    chosen.toSeq
  }

  /** [[farthestFirstSeeds]] over raw embeddings, returned as the
    * (ord, vec_id, mind2) frame sim_farthest_first emits. The corpus is scanned k times (quantize is a cheap codegen
    * map riding each scan) — no corpus-sized checkpoint. */
  def farthestFirst(emb: DataFrame, idCol: String, vecCol: String,
                    seedId: Long, k: Int): DataFrame = {
    val base = emb
      .select(col(idCol).as("vec_id"), milliQuant(col(vecCol)).as("mq"))
      .withColumn("nsq", normSqMilli(col("mq")))
    val seeds = farthestFirstSeeds(base, seedId, k)
    import emb.sparkSession.implicits._
    seeds.map(c => (c.ord, c.cid, c.mind2)).toDF("ord", "vec_id", "mind2")
  }

  /** Euclidean (L2) top-k vs one query vector — the metric twin of
    * [[topKBrute]] for pipelines that index un-normalized embeddings.
    * Distance is the EXACT integer squared L2 in milli units
    * (‖a−b‖² = nsqA + nsqB − 2·a·b — three exact LONG operands, no
    * sqrt, no double anywhere), so ranking and the emitted column are
    * bit-stable across engines. Same scale shape: one broadcast query
    * row, a never-shuffled scan, distributed TakeOrdered. */
  def l2TopK(emb: DataFrame, idCol: String, vecCol: String,
             queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(idCol) === lit(queryId))
      .select(milliQuant(col(vecCol)).as("qmq"))
      .withColumn("qnsq", normSqMilli(col("qmq")))
    emb.where(col(idCol) =!= lit(queryId))
      .select(col(idCol), milliQuant(col(vecCol)).as("mq"))
      .withColumn("nsq", normSqMilli(col("mq")))
      .crossJoin(broadcast(q))
      .withColumn("l2m_sq",
        col("nsq") + col("qnsq") - lit(2L) * dotMilli(col("mq"), col("qmq")))
      .select(col(idCol), col("l2m_sq"))
      .orderBy(col("l2m_sq"), col(idCol))
      .limit(k)
  }

  /** Maximum inner-product top-k vs one query vector — the THIRD metric
    * twin ([[topKBrute]] = cosine, [[l2TopK]] = Euclidean): recommender
    * retrieval ranks by raw dot product, where a vector's magnitude IS
    * part of its score (popular-item embeddings grow long) — neither
    * cosine nor L2 ranks the same way. Score is the exact integer
    * milli-unit dot (LONG, no double), same scale shape: one broadcast
    * query row, a never-shuffled scan, distributed TakeOrdered. */
  def mipsTopK(emb: DataFrame, idCol: String, vecCol: String,
               queryId: Long, k: Int): DataFrame = {
    val q = emb.where(col(idCol) === lit(queryId))
      .select(milliQuant(col(vecCol)).as("qmq"))
    emb.where(col(idCol) =!= lit(queryId))
      .select(col(idCol), milliQuant(col(vecCol)).as("mq"))
      .crossJoin(broadcast(q))
      .withColumn("ip_milli2", dotMilli(col("mq"), col("qmq")))
      .select(col(idCol), col("ip_milli2"))
      .orderBy(col("ip_milli2").desc, col(idCol))
      .limit(k)
  }

  /** Range search: every vector whose cosine with the `queryId` vector
    * meets `minCos` — the radius-query twin of [[topKBrute]] (same
    * broadcast-one-row shape, a threshold instead of a limit). Unlike
    * top-k there is no result bound, so at scale the caller sets the
    * radius, not a k; the scan side still never shuffles.
    *
    * MEMBERSHIP is the contract here (a boundary flip changes the result
    * set, not just a displayed digit), so the cosine is computed and
    * thresholded in integer basis points ([[cosBp]]) and emitted as
    * `cos_bp` — no rounded double anywhere. */
  def rangeSearch(emb: DataFrame, idCol: String, vecCol: String,
                  queryId: Long, minCos: Double): DataFrame = {
    val minBp = math.round(minCos * 10000)
    val q = emb.where(col(idCol) === lit(queryId))
      .select(milliQuant(col(vecCol)).as("qmq"))
      .withColumn("qnsq", normSqMilli(col("qmq")))
    emb.where(col(idCol) =!= lit(queryId))
      .withColumn("mq", milliQuant(col(vecCol)))
      .withColumn("nsq", normSqMilli(col("mq")))
      .crossJoin(broadcast(q))
      .withColumn("cos_bp", cosBp(dotMilli(col("mq"), col("qmq")), col("nsq"), col("qnsq")))
      .where(col("cos_bp") >= lit(minBp))
      .select(col(idCol), col("cos_bp"))
      .orderBy(col("cos_bp").desc, col(idCol))
  }

  /** Deterministic hyperplane weight for (plane p, dim d): an integer in
    * [-7, 8] from the first md5 hex digit of "p_d" (value v → v - 7, the
    * same as SQL `strpos('0123456789abcdef', substring(md5(p||'_'||d),1,1)) - 8`).
    * Weights are plan-time constants, so bucket assignment is a pure
    * per-row expression — no explode, no shuffle; at scale it fuses into
    * the scan stage. */
  private def planeWeight(p: Int, d: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${p}_${d}".getBytes("UTF-8"))
    ((h(0) >> 4) & 0xf) - 7
  }

  /** Hyperplane count scaled to the data so the EXPECTED bucket size is
    * `targetBucketSize`: planes = ceil(log2(n / target)), min 1. A fixed
    * plane count is a hard bucket-count ceiling — at 100 TB each of 2⁸
    * buckets would still hold n/256 vectors; scaling planes with n keeps
    * per-bucket candidate work constant as the corpus grows. The one
    * count() this needs at plan time is the same statistics collection
    * AQE performs (parquet row counts come from footer metadata). */
  def autoPlanes(n: Long, targetBucketSize: Int): Int = {
    // integer form of max(1, ceil(log2(n/target))) — a floating ln-ratio
    // can land 1 ulp above an exact power of two and ceil one plane past
    // the SQL oracle's log2; the smallest p with target·2^p >= n can't.
    // Capped at 56 like the oracle's probe range (target·2^55 rows is
    // beyond any storable corpus; DuckDB's checked shift overflows past
    // 64<<56).
    var p = 1
    while (p < 56 && (targetBucketSize.toLong << p) < n) p += 1
    p
  }

  /** Assign each vector an LSH bucket id from `planes` random hyperplanes.
    * Output: (id, bucket). Components are quantized to exact milli-units
    * (round(x,3) via DECIMAL, then ×1000 as LONG) so every dot product is
    * integer arithmetic — signs (and so buckets) are bit-stable across
    * engines and partitionings, with none of Decimal's codegen weight. */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String,
                 planes: Int, dim: Int): DataFrame =
    withBuckets(emb, vecCol, planes, dim).select(col(idCol), col("bucket"))

  /** Append the LSH `bucket` column IN PLACE — the assignment is a pure
    * per-row expression, so callers must never join the vector table back
    * to lshBuckets' output (that join doubles the scan of the biggest
    * table in the query for no information). The milli-quantized copy is
    * KEPT as `mq` (computed once per row, not once per plane): the
    * searches that consume buckets score candidates through the same
    * quantized components ([[cosBp]]), so the bucketing and the ranking
    * share one quantization pass. */
  def withBuckets(emb: DataFrame, vecCol: String, planes: Int, dim: Int): DataFrame = {
    val quant = emb.withColumn("mq", milliQuant(col(vecCol)))
    val bucket = (0 until planes).map { p =>
      val w = typedLit((0 until dim).map(d => planeWeight(p, d).toLong))
      val dotP = graft.functions.LongVectorFunctions.vecDotLong(col("mq"), w)
      when(dotP > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    quant.withColumn("bucket", bucket)
  }

  /** IVF (inverted-file) coarse quantizer, deterministic variant: the
    * `cells` seed vectors are the ids with the smallest md5(vec_id) (a
    * deterministic hash sample standing in for trained centroids — the
    * assignment/search plumbing is identical with k-means centroids).
    * Every vector joins the broadcast seed set and takes the seed with
    * the highest integer-basis-point cosine ([[cosBp]], seed-id
    * tiebreak) — assignment is exact integer arithmetic, so cell
    * membership is bit-stable across engines. One broadcast + one map
    * stage — no shuffle of the vector table. */
  /** Every (vector, seed) cosine ranked per vector — the shared core of
    * cell assignment (rn=1) and multi-cell probing (rn<=nprobe). Carries
    * the caller's columns plus (mq, nsq, seed_id, cos_bp, rn) so
    * consumers never join the vector table back. */
  private def rankedCells(emb: DataFrame, idCol: String, vecCol: String,
                          cells: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seeds = emb.select(col(idCol).as("seed_id"),
        milliQuant(col(vecCol)).as("smq"), md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("seed_id")).limit(cells)
      .select(col("seed_id"), col("smq"), normSqMilli(col("smq")).as("snsq"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cos_bp").desc, col("seed_id"))
    emb.withColumn("mq", milliQuant(col(vecCol)))
      .withColumn("nsq", normSqMilli(col("mq")))
      .crossJoin(broadcast(seeds))
      .withColumn("cos_bp", cosBp(dotMilli(col("mq"), col("smq")), col("nsq"), col("snsq")))
      .withColumn("rn", row_number().over(w))
  }

  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                cells: Int): DataFrame =
    rankedCells(emb, idCol, vecCol, cells)
      .where(col("rn") === 1)
      .select(col(idCol), col("seed_id").as("cell"), col("cos_bp").as("cell_cos_bp"))

  /** [[ivfAssign]] that KEEPS the caller's columns (vector included) next
    * to the assigned `cell` — for consumers that immediately need the
    * vector per cell (e.g. semantic dedup), saving the join-back that
    * would rescan the embedding table. */
  def ivfAssignAll(emb: DataFrame, idCol: String, vecCol: String,
                   cells: Int): DataFrame =
    rankedCells(emb, idCol, vecCol, cells)
      .where(col("rn") === 1)
      .select(emb.columns.map(col).toSeq :+ col("seed_id").as("cell"): _*)

  /** `iters` Lloyd (k-means) iterations over the hash-sampled seed cells —
    * upgrading the seeds from "deterministic stand-in" to genuinely
    * trained centroids while keeping the oracle-reproducibility contract:
    *
    *  - components are quantized to exact milli-unit LONGs (the same
    *    representation the LSH bucketing uses), so per-cell centroid
    *    means are integer sums + one floor division — order-independent
    *    and bit-identical in any engine;
    *  - the re-assignment cosine is integer basis points over the exact
    *    integer dot/norm sums ([[cosBp]]), cell-id tiebreak — no rounded
    *    double anywhere in the assignment.
    *
    * Scale shape: each mean is one explode + narrow (cell, dim) aggregate
    * (the standard distributed k-means step — at 100 TB you train on a
    * sample, then assign the full corpus with the broadcast centroids);
    * each re-assignment is a broadcast of `cells` centroid rows and a
    * pure map stage, identical to [[ivfAssign]]. The per-round
    * assignment is localCheckpoint'ed so iteration i+1's plan doesn't
    * replay rounds 1..i (the classic iterative-lineage blowup).
    *
    * Returns per-cell stats of the post-training assignment:
    * (cell, n, min_id, c_norm_milli). */
  /** Milli-quantized (vid, xq) vectors, checkpointed: referenced by every
    * Lloyd round's centroid aggregate AND re-assignment — without the
    * checkpoint the scan+quantization reruns per round (same pattern as
    * the dedup indexes). */
  private[graft] def quantized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vid"),
      transform(col(vecCol), x =>
        (round(x.cast("double"), 3).cast("decimal(7,3)") * lit(1000)).cast("long")).as("xq"))
      .localCheckpoint(true)

  /** One Lloyd centroid step: per-(cell, dim) exact mean in milli-units —
    * integer sum, TRUNCATING division (Java % keeps the dividend's sign,
    * exactly like DuckDB's `%`, so `(sx - sx % n) / n` truncates toward
    * zero on both engines — DuckDB's `//` truncates, it does NOT floor:
    * -7 // 2 = -3). Returns (cell, d, cq, n). */
  private[graft] def lloydCent(quant: DataFrame, assign: DataFrame): DataFrame =
    quant.join(assign.select(col("vid"), col("cell")), "vid")
      .select(col("cell"), posexplode(col("xq")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("cq", ((col("sx") - col("sx") % col("n")) / col("n")).cast("long"))

  /** Exact dot product of two array<long> vectors. */
  private[ops] def ldot(a: Column, b: Column): Column =
    graft.functions.LongVectorFunctions.vecDotLong(a, b)

  /** Per-(cell,dim) centroid rows folded to broadcast-ready ARRAYS:
    * (cell, cvec: array<long>, dcc = ‖c‖² exact). The persisted-index
    * layout ([[IvfIndex]]) stores exactly this shape. */
  private[graft] def centroidArrays(cent: DataFrame): DataFrame = {
    cent.groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cq")))),
        s => s.getField("cq")).as("cvec"))
      .withColumn("dcc", ldot(col("cvec"), col("cvec")))
  }

  /** Every (vector, trained-centroid) cosine ranked per vector — the
    * shared core of Lloyd re-assignment (rn = 1) and multi-cell probing
    * (rn ≤ nprobe) against TRAINED centroid ARRAYS. One broadcast of the
    * ≤cells centroid arrays, pure map stage over the quantized frame. */
  private[graft] def lloydRankedArr(quant: DataFrame,
                                    centArr: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vid")).orderBy(col("cos_bp").desc, col("cell"))
    quant.withColumn("dxx", ldot(col("xq"), col("xq")))
      .crossJoin(broadcast(centArr))
      .withColumn("dxc", ldot(col("xq"), col("cvec")))
      .withColumn("cos_bp", cosBp(col("dxc"), col("dxx"), col("dcc")))
      .withColumn("rn", row_number().over(w))
  }

  private def lloydRanked(quant: DataFrame, cent: DataFrame): DataFrame =
    lloydRankedArr(quant, centroidArrays(cent))

  /** One Lloyd re-assignment step: integer-basis-point cosine argmax of
    * every vector against the broadcast centroid arrays (cell tiebreak).
    * Returns the checkpointed (vid, cell, dcc) frame. */
  private[graft] def lloydAssign(quant: DataFrame, cent: DataFrame): DataFrame =
    lloydRanked(quant, cent)
      .where(col("rn") === 1)
      .select(col("vid"), col("cell"), col("dcc"))
      .localCheckpoint(true)

  /** Data-scaled IVF cell count: the smallest power-of-two c in
    * [4, 4096] with c² ≥ n — the classic cells ≈ √n coarse-quantizer
    * rule, in the same exact-integer form as [[autoPlanes]] (a floating
    * √/log2 can land 1 ulp off an exact power and disagree with the SQL
    * oracle's integer probe). A fixed cell count is a hard parallelism
    * ceiling: at 100 TB each of 8 cells would hold n/8 vectors and
    * every probe would scan them; c ≈ √n keeps BOTH the broadcast
    * centroid table (c rows) and the per-cell candidate list (n/c rows)
    * sub-linear, so probe work per query grows as √n instead of n. */
  def autoCells(n: Long): Int = {
    var c = 4
    while (c < 4096 && c.toLong * c < n) c <<= 1
    c
  }

  /** Scale-adaptive sampled-Lloyd IVF build — the "at 100 TB you train
    * on a sample" discipline made real:
    *
    *  1. cells = [[autoCells]](n) — grows as √n;
    *  2. the TRAIN SAMPLE is the `sampleFactor·cells` ids with the
    *     smallest md5 (a deterministic hash sample, constant rows per
    *     cell at any corpus size — the sample never scales with n);
    *  3. round 0 assigns only the sample to the hash seeds (the first
    *     `cells` of the same md5 order), one Lloyd mean upgrades them to
    *     trained centroids — all training cost is sample-sized;
    *  4. the FULL corpus is assigned once against the broadcast trained
    *     centroids (a pure map stage: one scan, no shuffle of vectors).
    *
    * Returns per-cell occupancy of the full-corpus assignment plus the
    * chosen cell count: (cell, n, min_id, c_norm_milli, n_cells). All
    * arithmetic is the exact-integer milli-unit Lloyd chain
    * ([[lloydCent]] / [[lloydAssign]]), so the build is bit-stable
    * across engines. */
  /** The shared sampled-Lloyd train: (checkpointed quantized corpus,
    * trained centroid frame, chosen cell count). */
  private def ivfAutoTrained(emb: DataFrame, idCol: String, vecCol: String,
                             sampleFactor: Int): (DataFrame, DataFrame, Int) = {
    val n = emb.count()
    val cells = autoCells(n)
    val quant = quantized(emb, idCol, vecCol)
    val sampleIds = emb
      .select(col(idCol).as("vid"), md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("vid")).limit(cells * sampleFactor)
      .select(col("vid"))
    // the sample rides a broadcast semi-join — the corpus never shuffles
    val sample = emb.join(
      broadcast(sampleIds.withColumnRenamed("vid", idCol)), Seq(idCol),
      "left_semi")
    // round 0 on the sample only; its seeds (smallest `cells` by md5 of
    // the sample) coincide with the corpus seeds because the sample IS
    // the md5 prefix
    val a0 = ivfAssign(sample, idCol, vecCol, cells)
      .select(col(idCol).as("vid"), col("cell"))
    // lloydCent's inner join on vid already restricts the mean to the
    // sampled assignment — training reads sample-sized data only
    (quant, lloydCent(quant, a0), cells)
  }

  /** A trained scale-adaptive IVF index held as checkpointed frames —
    * build ONCE ([[ivfAutoTrain]]), serve stats / search / probe-curve /
    * recall from the same frames (the `*From` consumers). `assigned` is the full-corpus argmax assignment
    * (vid, cell, xq, dxx, dcc): every consumer's candidate frame, so no
    * consumer ever replays training or the corpus-wide centroid cross. */
  final case class TrainedIvf(quant: DataFrame, centArr: DataFrame,
                              cells: Int, assigned: DataFrame)

  /** Train the scale-adaptive index once: sampled-Lloyd centroids
    * ([[ivfAutoTrained]]) + ONE broadcast-centroids assignment scan of
    * the full corpus, both checkpointed. This is the frame the four
    * sim_ivf_auto* registry entries share (one train per session per
    * dataset, not one per entry). */
  def ivfAutoTrain(emb: DataFrame, idCol: String, vecCol: String,
                   sampleFactor: Int = 8): TrainedIvf = {
    val (quant, cent, cells) = ivfAutoTrained(emb, idCol, vecCol, sampleFactor)
    val centArr = centroidArrays(cent).localCheckpoint(true)
    val assigned = lloydRankedArr(quant, centArr)
      .where(col("rn") === 1)
      .select(col("vid"), col("cell"), col("xq"), col("dxx"), col("dcc"))
      .localCheckpoint(true)
    TrainedIvf(quant, centArr, cells, assigned)
  }

  /** The query vector's ranked probe cells against the trained centroids
    * — a one-row broadcast-cross map stage over the checkpointed quant
    * frame, materialized (≤ nprobe rows) so the legitimate
    * broadcast-assignment cross never appears in a consumer's plan
    * (the IVF-family localCheckpoint convention the plan lint relies
    * on). Returns (cell, qxq, qdxx) for rn ≤ nprobe. */
  private def queryProbeCells(t: TrainedIvf, queryId: Long,
                              nprobe: Int): DataFrame =
    lloydRankedArr(t.quant.where(col("vid") === lit(queryId)), t.centArr)
      .where(col("rn") <= nprobe)
      .select(col("cell"), col("xq").as("qxq"), col("dxx").as("qdxx"))
      .localCheckpoint(true)

  /** Per-cell occupancy stats of a trained index (the sim_ivf_auto
    * shape) — one rollup over the shared assignment frame. */
  def ivfAutoStatsFrom(t: TrainedIvf): DataFrame =
    t.assigned
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), min(col("vid")).as("min_id"),
        floor(sqrt(max(col("dcc")).cast("double"))).cast("long")
          .as("c_norm_milli"))
      .withColumn("n_cells", lit(t.cells.toLong))
      .orderBy(col("cell"))

  /** Search through the scale-adaptive index: exact integer-bp cosine
    * top-k among the vectors assigned to the query's `nprobe` closest
    * TRAINED cells. Candidate work per query is O(nprobe · n/cells) =
    * O(nprobe · √n) under the autoCells rule — the scale path the fixed
    * 8-cell search (O(n/8)) lacks. Both the assignment and the query's
    * probe ranks come from one broadcast-centroids map stage over the
    * checkpointed quantized corpus. */
  def ivfAutoSearchFrom(t: TrainedIvf, idCol: String, queryId: Long,
                        k: Int, nprobe: Int): DataFrame = {
    val qc = queryProbeCells(t, queryId, nprobe)
    t.assigned.join(broadcast(qc), Seq("cell"))
      .where(col("vid") =!= lit(queryId))
      .withColumn("q_cos_bp", cosBp(ldot(col("xq"), col("qxq")),
        col("dxx"), col("qdxx")))
      .select(col("vid").as(idCol), col("q_cos_bp").as("cos_bp"))
      .orderBy(col("cos_bp").desc, col(idCol))
      .limit(k)
  }

  /** BATCHED multi-query search — the production retrieval shape (one
    * request carries Q queries, not one): all Q query rows rank their
    * probe cells in ONE broadcast-centroids pass (≤ Q·nprobe rows,
    * checkpointed + broadcast), candidates are ONE scan of the shared
    * assignment joined on cell, and the per-query top-k is a window
    * bounded by each query's candidate count (a global TakeOrdered
    * cannot serve per-query limits). Per-batch cost: one assignment
    * scan + Q·nprobe·(n/cells) candidate rows — amortizing the scan
    * across the batch instead of paying it per query. Output:
    * (qid, idCol, cos_bp, rank), rank 1..k per query. */
  def ivfAutoSearchBatchFrom(t: TrainedIvf, idCol: String,
                             queryIds: Seq[Long], k: Int,
                             nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = lloydRankedArr(
        t.quant.where(col("vid").isin(queryIds.map(Long.box): _*)), t.centArr)
      .where(col("rn") <= nprobe)
      .select(col("vid").as("qid"), col("cell"),
        col("xq").as("qxq"), col("dxx").as("qdxx"))
      .localCheckpoint(true) // hides the ≤Q-row broadcast-assign cross
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("q_cos_bp").desc, col("vid"))
    t.assigned.join(broadcast(qs), Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .withColumn("q_cos_bp", cosBp(ldot(col("xq"), col("qxq")),
        col("dxx"), col("qdxx")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("vid").as(idCol),
        col("q_cos_bp").as("cos_bp"), col("rk").cast("long").as("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Hard-negative mining over a trained scale-adaptive index: per
    * vector, its most-similar CROSS-LABEL neighbor (the pair a
    * contrastive trainer most wants in the batch), blocked by the
    * trained cells. `labels` carries (vid, label). With cells ≈ √n
    * ([[autoCells]]) the cross-label self-join is bounded by
    * Σ cell² = O(n·√n) — a fixed cell count would go quadratic as
    * occupancy grows with the corpus. Per-vector top-1 is a window
    * bounded by the cell's occupancy (~√n); ranking in integer basis
    * points; vectors whose cell holds no other label drop out by
    * construction. The kernel of the registered query
    * (sim_hard_negatives). */
  def hardNegativesFrom(t: TrainedIvf, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the trained assignment carries (vid, cell, xq ≡ milliQuant,
    // dxx ≡ normSq); only the label rides in from the caller
    val assigned = t.assigned.join(labels, Seq("vid"))
      .localCheckpoint(true) // feeds BOTH sides of the cell self-join
    val a = assigned.select(col("vid").as("a_id"),
      col("label").as("a_label"), col("cell"),
      col("xq").as("amq"), col("dxx").as("ansq"))
    val b = assigned.select(col("vid").as("b_id"),
      col("label").as("b_label"), col("cell"),
      col("xq").as("bmq"), col("dxx").as("bnsq"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cos_bp").desc, col("b_id"))
    a.join(b, Seq("cell"))
      .where(col("a_label") =!= col("b_label"))
      .withColumn("cos_bp", cosBp(dotMilli(col("amq"), col("bmq")),
        col("ansq"), col("bnsq")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("a_id").as("vec_id"), col("a_label").as("label"),
        col("b_id").as("hard_neg_id"), col("b_label").as("neg_label"),
        col("cos_bp"))
  }

  /** Recall@k vs nprobe sweep over the scale-adaptive index — the
    * latency/recall dial priced for the autoCells build: ONE sampled
    * train + ONE scoring scan (every vector's exact cosine to the
    * query, checkpointed) feed every sweep point, so adding a probe
    * point costs only ≤k-row joins. Emits
    * (nprobe, k_exact, n_ann, hits, recall_bp) per point. */
  def ivfAutoProbeCurveFrom(t: TrainedIvf, queryId: Long, k: Int,
                            probes: Seq[Int]): DataFrame = {
    // the query's rank of EVERY cell — ≤cells rows, one one-row map stage
    val qRanks = lloydRankedArr(
        t.quant.where(col("vid") === lit(queryId)), t.centArr)
      .select(col("cell"), col("rn")).localCheckpoint(true)
    val qRow = t.assigned.where(col("vid") === lit(queryId))
      .select(col("xq").as("qxq"), col("dxx").as("qdxx"))
    // every vector's exact query cosine, ONCE — the exact reference and
    // every sweep point rank slices of this frame
    val scored = t.assigned.crossJoin(broadcast(qRow))
      .where(col("vid") =!= lit(queryId))
      .withColumn("cos_bp", cosBp(ldot(col("xq"), col("qxq")),
        col("dxx"), col("qdxx")))
      .select(col("vid"), col("cell"), col("cos_bp"))
      .localCheckpoint(true)
    val exact = scored.orderBy(col("cos_bp").desc, col("vid")).limit(k)
      .select(col("vid")).localCheckpoint(true)
    val pts = probes.map { np =>
      val qc = qRanks.where(col("rn") <= np).select(col("cell"))
      val ann = scored.join(broadcast(qc), Seq("cell"))
        .orderBy(col("cos_bp").desc, col("vid")).limit(k)
        .select(col("vid").as("aid")).localCheckpoint(true)
      exact.join(ann, col("vid") === col("aid"), "left")
        .agg(count(lit(1)).as("k_exact"), count(col("aid")).as("hits"))
        .crossJoin(broadcast(ann.agg(count(lit(1)).as("n_ann"))))
        .select(lit(np.toLong).as("nprobe"), col("k_exact"), col("n_ann"),
          col("hits"),
          expr("CASE WHEN k_exact = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE (hits * 10000) div k_exact END").as("recall_bp"))
    }
    pts.reduce(_ unionByName _).orderBy(col("nprobe"))
  }

  /** Fixed-cell recall-vs-nprobe sweep sharing ONE ranked-cells pass:
    * the old form called [[topKBrute]] + [[ivfSearchMultiProbe]] per
    * sweep point — five corpus scan+shuffle passes for a 4-point curve.
    * Here the broadcast-seed ranking runs once, slims to one row per
    * vector (plus the query's cell ranks) behind a single checkpoint,
    * and every sweep point is a broadcast-cell filter + TakeOrdered over
    * that frame. Output identical to the per-point composition. */
  def ivfProbeCurveFixed(emb: DataFrame, idCol: String, vecCol: String,
                         queryId: Long, k: Int, cells: Int,
                         probes: Seq[Int]): DataFrame = {
    val slim = rankedCells(emb, idCol, vecCol, cells)
      .where(col("rn") === 1 || col(idCol) === lit(queryId))
      .select(col(idCol), col("mq"), col("nsq"), col("seed_id"), col("rn"))
      .localCheckpoint(true) // ~1 row/vector; feeds qRanks + every point
    val qRanks = slim.where(col(idCol) === lit(queryId))
      .select(col("seed_id").as("cell"), col("rn"))
    val assigned = slim.where(col("rn") === 1)
      .select(col(idCol), col("mq"), col("nsq"), col("seed_id").as("cell"))
    val qRow = assigned.where(col(idCol) === lit(queryId))
      .select(col("mq").as("qmq"), col("nsq").as("qnsq"))
    val scored = assigned.crossJoin(broadcast(qRow))
      .where(col(idCol) =!= lit(queryId))
      .withColumn("cos_bp",
        cosBp(dotMilli(col("mq"), col("qmq")), col("nsq"), col("qnsq")))
      .select(col(idCol), col("cell"), col("cos_bp"))
    val exact = scored.orderBy(col("cos_bp").desc, col(idCol)).limit(k)
      .select(col(idCol)).localCheckpoint(true)
    val pts = probes.map { np =>
      val qc = qRanks.where(col("rn") <= np).select(col("cell"))
      val ann = scored.join(broadcast(qc), Seq("cell"))
        .orderBy(col("cos_bp").desc, col(idCol)).limit(k)
        .select(col(idCol).as("aid")).localCheckpoint(true)
      exact.join(ann, col(idCol) === col("aid"), "left")
        .agg(count(lit(1)).as("k_exact"), count(col("aid")).as("hits"))
        .crossJoin(broadcast(ann.agg(count(lit(1)).as("n_ann"))))
        .select(lit(np.toLong).as("nprobe"), col("k_exact"), col("n_ann"),
          col("hits"),
          expr("CASE WHEN k_exact = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE (hits * 10000) div k_exact END").as("recall_bp"))
    }
    pts.reduce(_ unionByName _).orderBy(col("nprobe"))
  }

  /** Per-cell IVF training stats over a (vid, cell, dcc) Lloyd-round
    * assignment (the session-shared chain of
    * [[graft.queries.LloydShared]] serves several iteration depths):
    * (cell, n, min_id, c_norm_milli). c_norm in integer MILLI-UNITS: floor over an IEEE-exact
    * sqrt of the exact integer dcc — round(double, 4) emission (the r6
    * hash-break class) never appears. */
  private[graft] def ivfStatsFrom(assign: DataFrame): DataFrame =
    assign.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), min(col("vid")).as("min_id"),
        floor(sqrt(max(col("dcc")).cast("double"))).cast("long").as("c_norm_milli"))
      .orderBy(col("cell"))

  /** K-means convergence audit over two (cell, d, cq, n) centroid
    * rounds of the shared Lloyd-round chain: per cell, the L1 centroid
    * movement (milli-units) between the rounds, the worst
    * single-dimension shift and the later round's member count — the
    * "has training settled" readout an IVF index build gates its stop
    * condition on. */
  private[graft] def ivfCentroidDriftFrom(cent1: DataFrame,
                                          cent2: DataFrame): DataFrame =
    cent1.select(col("cell"), col("d"), col("cq").as("cq1"))
      .join(cent2.select(col("cell"), col("d"), col("cq").as("cq2"), col("n")),
        Seq("cell", "d"))
      .groupBy(col("cell"))
      .agg(max(col("n")).as("n_members"),
        sum(abs(col("cq2") - col("cq1"))).as("drift_l1_milli"),
        max(abs(col("cq2") - col("cq1"))).as("max_dim_shift_milli"))
      .orderBy(col("cell"))

  /** IVF search probing the query's `nprobe` CLOSEST cells (nprobe=1 ≡
    * ivfSearch) — the standard recall knob: neighbors assigned to the
    * runner-up cell are recovered for nprobe× candidate work, still
    * O(nprobe·n/cells) per query, never a full scan. */
  def ivfSearchMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
                          queryId: Long, k: Int, cells: Int, nprobe: Int): DataFrame = {
    val ranked = rankedCells(emb, idCol, vecCol, cells)
    // rankedCells carries the quantized vector and its squared norm —
    // never join emb back to the assignment (that doubles the scan of
    // the vector table)
    val assigned = ranked.where(col("rn") === 1)
      .select(col(idCol), col("mq"), col("nsq"), col("seed_id").as("cell"))
    val qcells = ranked
      .where(col(idCol) === lit(queryId) && col("rn") <= nprobe)
      .select(col("seed_id").as("cell"), col("mq").as("qmq"), col("nsq").as("qnsq"))
    assigned.join(broadcast(qcells), Seq("cell"))
      .where(col(idCol) =!= lit(queryId))
      .withColumn("cos_bp", cosBp(dotMilli(col("mq"), col("qmq")), col("nsq"), col("qnsq")))
      .select(col(idCol), col("cos_bp"))
      .orderBy(col("cos_bp").desc, col(idCol))
      .limit(k)
  }

  /** IVF search: exact cosine top-k within the query vector's cell
    * (ivfSearchMultiProbe with nprobe = 1). */
  def ivfSearch(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int, cells: Int): DataFrame =
    ivfSearchMultiProbe(emb, idCol, vecCol, queryId, k, cells, nprobe = 1)

  /** Multi-probe ANN top-k: search the query's bucket PLUS every bucket
    * at Hamming distance 1 from it (planes+1 probe buckets). The standard
    * recall fix for hyperplane LSH — a near-neighbor that landed just
    * across one hyperplane is recovered — for (planes+1)× candidate work,
    * still O(planes·n/2^planes) per query. The probe set is planes+1 rows
    * and broadcast. */
  def annSearchMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
                          queryId: Long, k: Int, planes: Int, dim: Int): DataFrame = {
    val withB = withBuckets(emb, vecCol, planes, dim)
      .withColumn("nsq", normSqMilli(col("mq")))
    val q = withB.where(col(idCol) === lit(queryId))
      .select(col("bucket"), col("mq").as("qmq"), col("nsq").as("qnsq"))
    // bucket ids differing in exactly one plane bit are all distinct, so
    // no candidate can enter through two probes — no dedup needed
    val probes = q.select(
      explode(array(col("bucket") +:
        (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"),
      col("qmq"), col("qnsq"))
    withB.join(broadcast(probes), Seq("bucket"))
      .where(col(idCol) =!= lit(queryId))
      .withColumn("cos_bp", cosBp(dotMilli(col("mq"), col("qmq")), col("nsq"), col("qnsq")))
      .select(col(idCol), col("cos_bp"))
      .orderBy(col("cos_bp").desc, col(idCol))
      .limit(k)
  }

  /** Milli-unit quantization shared by the PQ kernels (identical to the
    * IVF-training representation): round to 3 dp via DECIMAL, scale to
    * LONG — all downstream distance math is exact integer arithmetic,
    * bit-stable across engines and partitionings. Public: the cosine
    * histogram audit and the thresholded dedup ops quantize per ROW
    * before their pair joins. */
  def milliQuant(vecCol: Column): Column =
    transform(vecCol, x =>
      (round(x.cast("double"), 3).cast("decimal(7,3)") * lit(1000)).cast("long"))

  /** Exact integer squared norm of a milli-quantized vector. */
  def normSqMilli(mq: Column): Column =
    graft.functions.LongVectorFunctions.vecDotLong(mq, mq)

  /** Exact integer dot of two milli-quantized vectors. */
  def dotMilli(a: Column, b: Column): Column =
    graft.functions.LongVectorFunctions.vecDotLong(a, b)

  /** Cosine in integer BASIS POINTS from exact integer operands:
    * cos_bp = floor(dot·10⁴ / sqrt(nsqA·nsqB)). dot and the squared
    * norms are exact LONGs (64 dims × |milli| ≤ ~10³ ⇒ dot ≤ 6.4·10⁷,
    * norm-sq products ≤ 4.1·10¹⁵ < 2⁵³, so every double conversion is
    * exact), and ×, sqrt, / are IEEE-correctly-rounded in both engines —
    * floor lands on a bit-identical double. round(double, n) (Spark's
    * shortest-decimal HALF_UP vs DuckDB's exact-binary rounding, the r6
    * hash-break class) never appears, so thresholding or bucketing the
    * result is engine-stable. Zero-norm pairs emit 0. */
  def cosBp(dotm: Column, nsqA: Column, nsqB: Column): Column =
    when(nsqA * nsqB === 0L, lit(0L))
      .otherwise(floor((dotm * lit(10000L)).cast("double") /
        sqrt((nsqA * nsqB).cast("double"))).cast("long"))

  /** Per-label mean embedding ("mean pooling" — the chunk→document or
    * document→class aggregation step of an embedding pipeline) in exact
    * milli-unit integer arithmetic: one posexplode + one (label, dim)
    * aggregate + one per-label rollup, all map-side-combinable, so a
    * 100 TB corpus pools in two shuffles of label-keyed partial sums.
    * Truncating integer mean — same division contract as [[lloydCent]].
    * Output: (label, n, c_norm_milli, c0_milli). */
  def centroidStats(emb: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val cent = emb
      .select(col(labelCol).as("label"), posexplode(milliQuant(col(vecCol))).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("cq", ((col("sx") - col("sx") % col("n")) / col("n")).cast("long"))
    cent.groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        floor(sqrt(sum(col("cq") * col("cq")).cast("double"))).cast("long").as("c_norm_milli"),
        max(when(col("d") === 0, col("cq"))).as("c0_milli"))
      .orderBy(col("label"))
  }

  /** Squared L2 distance of subvector `s` (length `subLen`) between two
    * milli-quantized arrays — a native codegen'd integer window loop
    * (graft.functions.LongVectorL2Slice); the slice+zip_with+aggregate
    * HOF equivalent is CodegenFallback and allocates two slice copies
    * per evaluation — ×codebook×subs per row in the PQ encode. */
  private def subDist(a: Column, b: Column, s: Int, subLen: Int): Column =
    graft.functions.LongVectorFunctions.vecL2SqSlice(a, b, s * subLen, subLen)

  /** PQ codebook, deterministic variant: the `codebook` vectors with the
    * smallest md5(id) (hash sample standing in for per-subspace k-means —
    * the encode/search plumbing is identical with trained codewords).
    * localCheckpoint'ed: the tiny table feeds both the encoder and the
    * ADC lookup build, and truncating its lineage keeps each consumer
    * from re-running the sample scan. */
  def pqSeeds(emb: DataFrame, idCol: String, vecCol: String,
              codebook: Int): DataFrame =
    pqSeedsQuant(
      emb.select(col(idCol), milliQuant(col(vecCol)).as("mq")),
      idCol, codebook)

  /** [[pqSeeds]] over an ALREADY milli-quantized frame (idCol, mq) —
    * the variant [[graft.queries.PqShared]] builds from the shared
    * [[graft.queries.SimShared.miln]] corpus so the quantize scan isn't
    * re-paid per PQ registry entry. */
  def pqSeedsQuant(quant: DataFrame, idCol: String, codebook: Int): DataFrame =
    quant.select(col(idCol).as("code"), col("mq").as("cq"),
        md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("code")).limit(codebook)
      .select(col("code"), col("cq"))
      .localCheckpoint(true)

  /** Product-quantization encode: each vector is represented by `subs`
    * codeword ids — one per subvector, the codeword minimizing the exact
    * integer sub-L2 (tie → smallest codeword id). This is the memory side
    * of IVF-PQ: a 64-dim float vector compresses to `subs` small ints, so
    * a 100 TB corpus's index fits a fraction of the raw footprint.
    *
    * Shape: one scan of the vector table, broadcast of the `codebook`-row
    * seed table, and an argmin expressed as min(struct(dist, code)) under
    * a (vid, sub) hash aggregate — partial aggregation combines map-side,
    * so the shuffle carries n·subs argmin rows, never the n·codebook·subs
    * candidate rows. Output: (vec_id, sub, code, dist). */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
              dim: Int, subs: Int, seeds: DataFrame): DataFrame =
    pqCodesQuant(
      emb.select(col(idCol), milliQuant(col(vecCol)).as("mq")),
      idCol, dim, subs, seeds)

  /** [[pqCodes]] over an ALREADY milli-quantized frame (idCol, mq) —
    * see [[pqSeedsQuant]]. */
  def pqCodesQuant(quant: DataFrame, idCol: String,
                   dim: Int, subs: Int, seeds: DataFrame): DataFrame = {
    val subLen = dim / subs
    quant.select(col(idCol).as("vid"), col("mq").as("xq"))
      .crossJoin(broadcast(seeds))
      .select(col("vid"), col("code"),
        posexplode(array((0 until subs).map(s =>
          subDist(col("xq"), col("cq"), s, subLen)): _*)).as(Seq("sub", "dist")))
      .groupBy(col("vid"), col("sub"))
      .agg(min(struct(col("dist"), col("code"))).as("m"))
      .select(col("vid").as(idCol), col("sub"),
        col("m.code").as("code"), col("m.dist").as("dist"))
  }

  /** PQ search by asymmetric distance computation (ADC): the query stays
    * full-precision; each database vector is scored ONLY through its
    * codes. Per subvector, the distance from the query to every codeword
    * is a `codebook`×`subs`-row lookup table (built from the broadcast
    * seeds + the 1-row query, then itself broadcast); a vector's
    * approximate distance is the sum of its codes' table entries — an
    * equi-join + keyed sum, no vector math on the scored side at all.
    * Exact integer arithmetic end-to-end, so the ranking (asc distance,
    * id tiebreak) is engine-reproducible. `seeds`/`codes` come prebuilt
    * (the registry feeds them from [[graft.queries.PqShared]] so one
    * encode serves every PQ consumer in a session). */
  def pqSearchAdcWith(emb: DataFrame, idCol: String, vecCol: String,
                      queryId: Long, k: Int, dim: Int, subs: Int,
                      seeds: DataFrame, codes: DataFrame): DataFrame = {
    val subLen = dim / subs
    val q = emb.where(col(idCol) === lit(queryId))
      .select(milliQuant(col(vecCol)).as("qx"))
    val lut = seeds.crossJoin(broadcast(q))
      .select(col("code"),
        posexplode(array((0 until subs).map(s =>
          subDist(col("qx"), col("cq"), s, subLen)): _*)).as(Seq("sub", "qd")))
    codes.where(col(idCol) =!= lit(queryId))
      .join(broadcast(lut), Seq("code", "sub"))
      .groupBy(col(idCol)).agg(sum(col("qd")).as("adist"))
      .orderBy(col("adist").asc, col(idCol))
      .limit(k)
  }

  /** ADC vs SDC — the two PQ scoring modes side by side. ADC keeps the
    * query full-precision and scores candidates through a
    * codebook×subs query-to-codeword table; SDC quantizes the query TOO
    * and scores through the PRECOMPUTED codeword-to-codeword table
    * (codebook²×subs rows, broadcast) — the mode a disk-resident index
    * uses when the query arrives already encoded, trading a second
    * quantization error for a query-independent LUT. One prebuilt
    * seeds+codes pair feeds both paths (`codes` must already be
    * materialized — both paths read it); each path is a
    * broadcast-LUT equi-join + keyed sum, top-k via TakeOrdered, rank
    * assigned over the k-row result only. Output: (method, rank, id,
    * dist) — the rank-agreement readout IS the emitted comparison. */
  def pqAdcSdcCompareWith(emb: DataFrame, idCol: String, vecCol: String,
                          queryId: Long, k: Int, dim: Int, subs: Int,
                          seeds: DataFrame, codes: DataFrame): DataFrame = {
    val subLen = dim / subs
    val q = emb.where(col(idCol) === lit(queryId))
      .select(milliQuant(col(vecCol)).as("qx"))
    val lutAdc = seeds.crossJoin(broadcast(q))
      .select(col("code"),
        posexplode(array((0 until subs).map(s =>
          subDist(col("qx"), col("cq"), s, subLen)): _*)).as(Seq("sub", "qd")))
    val adc = codes.where(col(idCol) =!= lit(queryId))
      .join(broadcast(lutAdc), Seq("code", "sub"))
      .groupBy(col(idCol)).agg(sum(col("qd")).as("dist"))
    val lutSs = seeds.select(col("code").as("ca"), col("cq").as("cqa"))
      .crossJoin(broadcast(
        seeds.select(col("code").as("cb"), col("cq").as("cqb"))))
      .select(col("ca"), col("cb"),
        posexplode(array((0 until subs).map(s =>
          subDist(col("cqa"), col("cqb"), s, subLen)): _*)).as(Seq("sub", "dd")))
    val qc = codes.where(col(idCol) === lit(queryId))
      .select(col("sub"), col("code").as("ca"))
    val sdc = codes.where(col(idCol) =!= lit(queryId))
      .select(col(idCol), col("sub"), col("code").as("cb"))
      .join(broadcast(qc), Seq("sub"))
      .join(broadcast(lutSs), Seq("ca", "cb", "sub"))
      .groupBy(col(idCol)).agg(sum(col("dd")).as("dist"))
    def top(df: DataFrame, m: String) = df
      .orderBy(col("dist").asc, col(idCol)).limit(k)
      // rank window runs over the k-row TakeOrdered result only
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("dist"), col(idCol))).cast("long"))
      .select(lit(m).as("method"), col("rank"), col(idCol), col("dist"))
    top(adc, "adc").unionByName(top(sdc, "sdc"))
      .orderBy(col("method"), col("rank"))
  }

  /** One training round for the PQ codebook — upgrading the hash-sampled
    * codewords to genuinely trained per-subspace centroids, exactly the
    * way the Lloyd rounds ([[lloydCent]]) upgrade the IVF seeds, and under the same
    * reproducibility contract: per-(subspace, codeword, dim) centroid
    * means are exact milli-unit integer sums + one truncating division,
    * re-assignment is an integer L2 argmin with a codeword-id tiebreak.
    *
    * Shape: the (vid, subvector) rows are materialized ONCE (checkpoint)
    * and feed the initial encode, the centroid aggregate, and the
    * re-encode; codebooks are broadcast at every step (subs·codebook
    * rows). Returns the post-training assignment census per (sub, code):
    * (sub, code, n, min_id, c_norm_milli) — codewords that attract no vectors
    * drop out, mirroring k-means cluster death. `seeds` is the prebuilt
    * codebook; `codesOpt` its already-materialized encode, if any. */
  def pqTrainStatsWith(emb: DataFrame, idCol: String, vecCol: String,
                       dim: Int, subs: Int, seeds: DataFrame,
                       codesOpt: Option[DataFrame] = None): DataFrame = {
    import graft.functions.LongVectorFunctions.{vecDotLong, vecL2SqSlice}
    val subLen = dim / subs
    def subArr(c: Column): Column =
      array((0 until subs).map(s => slice(c, s * subLen + 1, subLen)): _*)
    val subRows = emb
      .select(col(idCol).as("vid"), milliQuant(col(vecCol)).as("xq"))
      .select(col("vid"), posexplode(subArr(col("xq"))).as(Seq("sub", "xs")))
      .localCheckpoint(true)
    val seedSub = seeds
      .select(col("code"), posexplode(subArr(col("cq"))).as(Seq("sub", "cs")))
    // the initial assignment IS the encode ([[pqCodes]] computes the same
    // (dist, code) argmin) — when the caller has it materialized
    // (PqShared.codes), reuse it and skip a corpus x codebook pass
    val enc0 = codesOpt match {
      case Some(codes) =>
        codes.select(col(idCol).as("vid"), col("sub"), col("code"))
      case None =>
        subRows.join(broadcast(seedSub), Seq("sub"))
          .withColumn("dist", vecL2SqSlice(col("xs"), col("cs"), 0, subLen))
          .groupBy(col("vid"), col("sub"))
          .agg(min(struct(col("dist"), col("code"))).as("m"))
          .select(col("vid"), col("sub"), col("m.code").as("code"))
    }
    val cent = subRows.join(enc0, Seq("vid", "sub"))
      .select(col("sub"), col("code"), posexplode(col("xs")).as(Seq("d", "x")))
      .groupBy(col("sub"), col("code"), col("d"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("cq", ((col("sx") - col("sx") % col("n")) / col("n")).cast("long"))
    val centArr = cent.groupBy(col("sub"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cq")))),
        s => s.getField("cq")).as("cvec"))
      .withColumn("dcc", vecDotLong(col("cvec"), col("cvec")))
    val enc1 = subRows.join(broadcast(centArr), Seq("sub"))
      .withColumn("dist", vecL2SqSlice(col("xs"), col("cvec"), 0, subLen))
      .groupBy(col("vid"), col("sub"))
      .agg(min(struct(col("dist"), col("code"))).as("m"))
      .select(col("vid"), col("sub"), col("m.code").as("code"))
    enc1.join(broadcast(centArr.select(col("sub"), col("code"), col("dcc"))),
        Seq("sub", "code"))
      .groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n"), min(col("vid")).as("min_id"),
        floor(sqrt(max(col("dcc")).cast("double"))).cast("long").as("c_norm_milli"))
      .orderBy(col("sub"), col("code"))
  }

  /** Full IVF-PQ search: candidates come from the query's IVF cell
    * (coarse quantizer — O(n/cells) of the corpus), and are scored by PQ
    * asymmetric distance (codes + a broadcast lookup table — no
    * full-precision vector math on the candidate side). This is the
    * canonical billion-scale ANN shape: the inverted file bounds the
    * candidate set, the product quantizer bounds the bytes touched per
    * candidate. Exact integer ADC arithmetic keeps the ranking
    * engine-reproducible. `seeds`/`codes` come prebuilt; `assignedOpt`
    * optionally supplies an already-materialized (idCol, cell) IVF
    * assignment so an audit computing both the search and its exact
    * twin pays the coarse quantizer once. */
  def ivfPqSearchWith(emb: DataFrame, idCol: String, vecCol: String,
                      queryId: Long, k: Int, cells: Int, dim: Int,
                      subs: Int, seeds: DataFrame, codes: DataFrame,
                      assignedOpt: Option[DataFrame] = None): DataFrame = {
    val subLen = dim / subs
    // the (id, cell) assignment is referenced twice (candidate semi-join
    // + query-cell lookup); checkpointing the narrow two-column frame
    // keeps the windowed assignment from executing per reference
    val assigned = assignedOpt.getOrElse(
      ivfAssign(emb, idCol, vecCol, cells)
        .select(col(idCol), col("cell"))
        .localCheckpoint(true))
    val qcell = assigned.where(col(idCol) === lit(queryId)).select(col("cell"))
    val q = emb.where(col(idCol) === lit(queryId))
      .select(milliQuant(col(vecCol)).as("qx"))
    val lut = seeds.crossJoin(broadcast(q))
      .select(col("code"),
        posexplode(array((0 until subs).map(s =>
          subDist(col("qx"), col("cq"), s, subLen)): _*)).as(Seq("sub", "qd")))
    assigned.join(broadcast(qcell), Seq("cell"), "left_semi")
      .where(col(idCol) =!= lit(queryId))
      .join(codes, Seq(idCol))
      .join(broadcast(lut), Seq("code", "sub"))
      .groupBy(col(idCol)).agg(sum(col("qd")).as("adist"))
      .orderBy(col("adist").asc, col(idCol))
      .limit(k)
  }

  /** Scalar (int8) quantization encode — the SQ8 memory layout of a
    * vector index: each component maps to an integer code in [-127, 127]
    * under a per-vector scale (its max |milli-component|), so a 64-dim
    * float32 vector stores as 64 bytes + one scale. Codes are exact
    * integer arithmetic throughout: q_i = trunc(|mi_i|·127 / scale) with
    * the sign re-applied (floor==trunc on the non-negative operands, so
    * Spark and the SQL twin agree at every value).
    *
    * Shape: a pure per-row map over one scan — zero shuffle, fuses into
    * whole-stage codegen with the parquet read. Output: (id, scale,
    * codes). All-zero vectors encode as scale 0 / all-zero codes. */
  def sq8Codes(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), milliQuant(col(vecCol)).as("mi"))
      .withColumn("scale", array_max(transform(col("mi"), x => abs(x))))
      .withColumn("codes", transform(col("mi"), x => {
        val a = abs(x) * 127
        val mag = ((a - pmod(a, col("scale"))) / col("scale")).cast("long")
        when(col("scale") === 0, lit(0L))
          .otherwise(when(x < 0, -mag).otherwise(mag))
      }))
      .select(col(idCol), col("scale"), col("codes"))

  /** SQ8 similarity search: the database side is scored through its int8
    * codes only (the native codegen'd long-vector dot), ranked by the
    * integer surrogate score dot(q_codes, x_codes)·q_scale·x_scale —
    * monotone in the reconstructed inner product up to quantization, and
    * exactly reproducible (no float math anywhere in the ranking; with
    * milli-components ≤ ~10³ the surrogate is ≤ ~10¹², well inside LONG).
    * One broadcast of the 1-row query; top-k lowers to
    * TakeOrderedAndProject. */
  def sq8Search(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int): DataFrame = {
    val codes = sq8Codes(emb, idCol, vecCol)
    val q = codes.where(col(idCol) === lit(queryId))
      .select(col("codes").as("qc"), col("scale").as("qs"))
    codes.where(col(idCol) =!= lit(queryId))
      .crossJoin(broadcast(q))
      .select(col(idCol),
        (graft.functions.LongVectorFunctions.vecDotLong(col("codes"), col("qc")) *
          col("scale") * col("qs")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Bucket occupancy summary (the ANN index statistics). */
  def lshBucketStats(emb: DataFrame, idCol: String, vecCol: String,
                     planes: Int, dim: Int): DataFrame =
    lshBuckets(emb, idCol, vecCol, planes, dim)
      .groupBy("bucket").agg(count(lit(1)).as("n"), min(col(idCol)).as("min_id"))

  /** Nearest-neighbor join: every vector's top-1 neighbor within its LSH
    * bucket. The candidate (build) side of each bucket is capped at
    * `candCap` members, chosen by a deterministic hash rank over the id —
    * a skewed bucket then costs O(m·candCap) join rows instead of O(m²),
    * while the probe side stays uncapped so every vector in a multi-member
    * bucket still gets a neighbor; a vector alone in its bucket yields no
    * row (recall trade: the neighbor is the best among the sampled
    * candidates, and bucket singletons are unmatched). */
  def nnJoin(emb: DataFrame, idCol: String, vecCol: String,
             planes: Int, dim: Int, candCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withB = withBuckets(emb, vecCol, planes, dim)
      .withColumn("nsq", normSqMilli(col("mq")))
    val capW = Window.partitionBy(col("bucket"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val l = withB.select(col("bucket"), col(idCol).as("a"),
      col("mq").as("ma"), col("nsq").as("nsqa"))
    val r = withB.withColumn("crn", row_number().over(capW))
      .where(col("crn") <= candCap)
      .select(col("bucket"), col(idCol).as("b"), col("mq").as("mb"), col("nsq").as("nsqb"))
    val w = Window.partitionBy(col("a")).orderBy(col("cos_bp").desc, col("b"))
    l.join(r, Seq("bucket")).where(col("a") =!= col("b"))
      .withColumn("cos_bp", cosBp(dotMilli(col("ma"), col("mb")), col("nsqa"), col("nsqb")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("a"), col("b").as("nn"), col("cos_bp"))
  }

  /** ANN top-k: search only within the query vector's LSH bucket, rank by
    * exact cosine. The candidate set is an equality join on bucket id. */
  def annSearch(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int, planes: Int, dim: Int): DataFrame = {
    val withB = withBuckets(emb, vecCol, planes, dim)
      .withColumn("nsq", normSqMilli(col("mq")))
    val q = withB.where(col(idCol) === lit(queryId))
      .select(col("bucket"), col("mq").as("qmq"), col("nsq").as("qnsq"))
    withB.join(broadcast(q), Seq("bucket"))
      .where(col(idCol) =!= lit(queryId))
      .withColumn("cos_bp", cosBp(dotMilli(col("mq"), col("qmq")), col("nsq"), col("qnsq")))
      .select(col(idCol), col("cos_bp"))
      .orderBy(col("cos_bp").desc, col(idCol))
      .limit(k)
  }
}
