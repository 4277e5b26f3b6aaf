package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines.
  *
  * Scale design: signature/fingerprint computation (minhash, simhash) is
  * expressed per-row over token arrays — an embarrassingly parallel map
  * stage with ZERO shuffles (the naive shape explodes tokens×seeds and
  * re-aggregates, paying two wide shuffles for what is a per-document
  * fold). Candidate generation always goes through equality buckets
  * (hash, LSH band, simhash value, shared shingle) so the pairwise work
  * is bounded by bucket sizes, not n² — no cross joins anywhere — and
  * the buckets themselves are CAPPED (band occupancy, shingle document
  * frequency), so one boilerplate key can never go quadratic.
  */
object Dedup {

  import TextAnalysis.tokens

  /** Exact dedup via content hash: one hash-aggregate. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keeper"))

  /** MinHash signature as one array column per document:
    * sig[s] = min over distinct tokens t of md5(s:t), for seeds 0..k-1.
    * Pure map stage — each doc computes its signature locally, no
    * explode/shuffle; at 100 TB this runs inside the scan stage. The
    * fold is a native codegen'd expression (graft.functions.
    * MinHashSignatures): the HOF transform/array_min form is
    * CodegenFallback and pays a lambda frame + hex string per candidate,
    * where the native kernel tracks raw digest minima in one pass. */
  def minhashSignatureArray(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.TextFunctions.minhashSigs(
        array_distinct(tokens(col(textCol))), k).as("sig"))

  /** LSH bands from an array signature: band b's key is the comma-join of
    * its `rowsPerBand` signature slots, folded to a 64-bit xxhash so the
    * equi-join and distinct run on fixed-width longs instead of ~131-char
    * md5 concatenations (the fold is collision-safe for any realistic
    * corpus: P(collision) ≈ bands²/2⁶⁴). Narrow per-row explode (one row
    * per band), no aggregation. */
  def lshBands(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc"),
      posexplode(transform(
        sequence(lit(0), (size(col("sig")) / rowsPerBand).cast("int") - 1),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "bandkey")))

  /** Docs sharing any full band are candidate near-duplicate pairs.
    * The join is on (band, bandkey) equality — bounded by bucket sizes,
    * never a cross join. Returns distinct (a, b) with a < b.
    *
    * Band buckets are CAPPED at `maxBucket` docs: a bucket with m members
    * emits O(m²) pairs, and on a real corpus one boilerplate/empty-text
    * band key collects a large fraction of all documents (this corpus has
    * such a bucket; at 100 TB it is a task-killer). Over-cap buckets are
    * dropped from candidate generation — a bounded-recall trade: members
    * of a dropped bucket can still pair through their other bands, and
    * the exact/simhash paths cover identical text regardless.
    *
    * Dedup across bands is LOCAL: each side carries its full band-key
    * array plus per-band under-cap flags, and a pair is emitted only at
    * its first matching UNDER-CAP band (later matches check whether any
    * earlier kept band also matched). This replaces a `distinct()` over
    * the pair stream — at scale that distinct is a full shuffle of the
    * largest intermediate in the query. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, rowsPerBand: Int, maxBucket: Int = 50): DataFrame = {
    val nBands = k / rowsPerBand
    val keyCols = (0 until nBands).map(b =>
      xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))).as(s"k$b"))
    // (doc, band keys) materialized once: the k-seed minhash fold — the
    // expensive part of the whole operator — would otherwise re-run for
    // the occupancy aggregate and again per flag join
    val withKeys = minhashSignatureArray(docs, idCol, textCol, k)
      .select(col("doc") +: keyCols: _*)
      .localCheckpoint(true)
    val bandsAll = withKeys.select(
      (col("doc") +: (0 until nBands).map(b => col(s"k$b"))) :+
        posexplode(array((0 until nBands).map(b => col(s"k$b")): _*)).as(Seq("band", "bandkey")): _*)
    // band-bucket occupancy: one narrow pre-aggregate over (band, key)
    val occ = bandsAll.groupBy(col("band"), col("bandkey")).agg(count(lit(1)).as("m"))
    // per-band under-cap flags attached to the per-doc key row (one hash
    // join per band on a long key — same order of work as the band join)
    // materialize the per-doc key+flag row ONCE and truncate lineage: it
    // is referenced by both self-join sides (and its own tree references
    // the signature computation through the occupancy aggregate), so
    // without this the scan + k-seed minhash fold executes up to 6× per
    // query. The row is (doc, nBands longs, nBands bools) — tiny relative
    // to the corpus it summarizes.
    val flagged = (0 until nBands).foldLeft(withKeys) { (df, b) =>
      val okB = occ.where(col("band") === b && col("m") <= maxBucket)
        .select(col("bandkey").as(s"k$b"), lit(true).as(s"ok$b"))
      df.join(okB, Seq(s"k$b"), "left")
    }.localCheckpoint(true)
    val bands = flagged.select(
      (col("doc") +:
        ((0 until nBands).map(b => col(s"k$b")) ++
         (0 until nBands).map(b => coalesce(col(s"ok$b"), lit(false)).as(s"ok$b")))) :+
        posexplode(array((0 until nBands).map(b => col(s"k$b")): _*)).as(Seq("band", "bandkey")): _*)
    // filter the join INPUT to under-cap buckets, so an over-cap bucket
    // contributes zero build and zero probe rows (no m² blow-up pre-filter)
    val kept = bands.where(
      (0 until nBands).map(b => col("band") === b && col(s"ok$b")).reduce(_ || _))
    val l = kept.select(
      col("doc").as("a") +: col("band") +: col("bandkey") +:
        ((0 until nBands).map(b => col(s"k$b").as(s"a_k$b")) ++
         (0 until nBands).map(b => col(s"ok$b").as(s"a_ok$b"))): _*)
    val r = kept.select(
      col("doc").as("b") +: col("band") +: col("bandkey") +:
        (0 until nBands).map(b => col(s"k$b").as(s"b_k$b")): _*)
    // a pair is emitted only at its FIRST matching kept band: at band b,
    // drop it if any earlier band b' < b also matched AND was under cap
    // (the flags are equal on both sides because the keys are; statically
    // unrolled — plain long/bool comparisons, stays inside codegen)
    val dupOfEarlierBand = (1 until nBands).map(b =>
        col("band") === b &&
          (0 until b).map(i => col(s"a_k$i") === col(s"b_k$i") && col(s"a_ok$i")).reduce(_ || _))
      .foldLeft(lit(false))(_ || _)
    l.join(r, Seq("band", "bandkey"))
      .where(col("a") < col("b") && !dupOfEarlierBand)
      .select("a", "b")
  }

  /** 16-bit SimHash from md5 nibbles: per token, bit j of the hash votes
    * ±1; the sign of each bit's vote total forms the fingerprint. One
    * native codegen'd per-row pass (graft.functions.SimHash16) — no
    * explode, no shuffle, and none of the HOF fold's per-bit hex string
    * re-reads. Exactly reproducible in SQL via hex-digit lookup — no
    * engine-private hash. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.TextFunctions.simhash16(tokens(col(textCol))).as("simhash"))

  /** SimHash bucket summary: identical fingerprints = near-dup cluster. */
  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash16(docs, idCol, textCol)
      .groupBy("simhash").agg(count(lit(1)).as("n"), min(col("doc")).as("keeper"))

  /** SimHash near-dup pairs at Hamming distance ≤ maxHamming via band
    * pigeonhole over a 64-BIT fingerprint: split into 4 disjoint 16-bit
    * bands; d(a,b) ≤ 3 < 4 flips can touch at most 3 bands, so every
    * qualifying pair matches EXACTLY on at least one band — candidate
    * generation is 4 equality self-joins (one shuffle on (band, key)),
    * never a cross join or a distance scan. The 16-bit fingerprint can't
    * support this (its 4-bit bands put 1/16th of the corpus in every
    * bucket — quadratic); hence simhash64. Band-bucket occupancy is
    * capped like the LSH path: a band value shared by > maxBucket docs
    * (an exact-dup/boilerplate cluster) is dropped before the self-join,
    * so one hot key can never go quadratic at corpus scale. Candidates
    * are verified with an exact popcount (bit_count(fa ^ fb), both
    * engines' arithmetic-shift/XOR semantics agree on signed 64-bit). */
  def simhashHammingPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, maxBucket: Int = 200): DataFrame = {
    // fingerprint once; the band explode + occupancy + join all reference it
    val fp = docs.select(col(idCol).as("doc"),
      graft.functions.TextFunctions.simhash64(tokens(col(textCol))).as("fp"))
      .localCheckpoint(true)
    val bands = fp.select(col("doc"), col("fp"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("fp"), 16 * b).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "key")))
    val occ = bands.groupBy(col("band"), col("key")).agg(count(lit(1)).as("m"))
    val kept = bands.join(occ.where(col("m") <= maxBucket), Seq("band", "key"))
      .select(col("band"), col("key"), col("doc"), col("fp"))
    kept.select(col("band"), col("key"), col("doc").as("a"), col("fp").as("fa"))
      .join(kept.select(col("band"), col("key"), col("doc").as("b"), col("fp").as("fb")),
        Seq("band", "key"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        expr("bit_count(fa ^ fb)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Word n-gram Jaccard similarity pairs. Candidates come from an
    * equality join on shared shingles (inverted-index shape), so pair work
    * is proportional to true overlap, not n².
    *
    * The index is document-frequency capped: a shingle appearing in m
    * documents contributes m(m-1)/2 join rows, so one boilerplate
    * stop-shingle shared by 1% of a 100 TB corpus is a task-killer.
    * Shingles with df > `maxDf` are dropped BEFORE the self-join, and
    * Jaccard is computed over the df-filtered shingle space on both the
    * intersection and the sizes — the standard stop-shingle trade: pairs
    * whose only overlap is boilerplate are lost, which near-dup detection
    * doesn't want anyway. */
  /** 64-bit-hashed distinct shingle postings (doc, s) — the shared
    * inverted-index projection for Jaccard dedup AND contamination
    * checks. Joining on the hash, not the multi-word string, keeps the
    * index shuffle at (doc, long) rows and the sort/probe on longs
    * (collision odds ≈ |shingles|²/2⁶⁴, immaterial). */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame =
    // tokens projected ONCE (the inline form re-splits the text per
    // element inside a CodegenFallback HOF — O(tokens²) splits/doc; see
    // TextAnalysis.shinglesOf), then one native codegen pass produces
    // the distinct n-gram hashes directly — no HOF lambda frames, no
    // intermediate shingle-string array (ShingleHashes64 is
    // hash-identical to the array_distinct∘transform∘xxhash64 chain,
    // spec-pinned in ShingleExpressionSpec)
    docs.select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc"),
        explode(graft.functions.ShingleFunctions.shingleHashes64(col("toks"), n)).as("s"))

  /** Df-filtered distinct postings — NOT materialized here: each pair
    * path decides what to checkpoint (the prefix path folds postings
    * into per-doc arrays and checkpoints only those; the all-pairs path
    * checkpoints the posting list it self-joins). The df semi-join's
    * build side is the groupBy output, so its exchange is reused. */
  private def filteredPostings(docs: DataFrame, idCol: String, textCol: String,
                               n: Int, maxDf: Int): DataFrame = {
    val sh = shingleHashes(docs, idCol, textCol, n)
    val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("s"))
    sh.join(rare, Seq("s"))
  }

  /** PPJoin-style prefix-filtered candidate pairs with EXACT intersection
    * counts, for overlap thresholds of the form I ≥ t·|smaller set|
    * (Jaccard ≥ t and containment ≥ t both imply it).
    *
    * Each doc's df-filtered shingle set is sorted into one canonical
    * global order (ascending hash); only its first
    * floor((1-t)·|S|)+1 elements are indexed. ALL-Pairs/PPJoin
    * guarantee: a qualifying pair's SMALLER set must place at least one
    * intersection element inside that prefix (its last ceil(t·|S|)-1
    * slots can't hold an intersection of size ≥ t·|S|), so joining
    * prefix postings against the FULL posting list loses nothing. At
    * t=0.8 the index shrinks 5× and the candidate join output drops from
    * Σ df² to Σ pdf·df — the difference between a task-killer and a
    * bounded join at 100 TB. Exact intersections then come from one
    * array_intersect over the (much smaller) deduped candidate set; the
    * epsilon in the prefix length only ever lengthens it (more
    * candidates, never fewer — exactness is preserved by construction).
    *
    * Returns (a, b, inter, na, nb) for a < b. */
  /** Per-doc sorted shingle arrays (doc, set, n_sh) folded from a
    * posting stream — the threshold-INDEPENDENT compact form every pair
    * path derives from with narrow explodes. Exposed so one
    * session-shared build ([[graft.queries.ShingleShared]]) can serve
    * consumers at DIFFERENT thresholds (prefix-filtered at 0.5/0.8,
    * all-pairs at 0.0/0.1): the corpus pass is identical for all of
    * them, only the candidate generation downstream differs. */
  private[graft] def arraysOf(shr: DataFrame): DataFrame =
    shr.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("s"))).as("set"),
        count(lit(1)).as("n_sh"))

  /** The (doc, set, n_sh) corpus pass for `docs` — [[arraysOf]] over the
    * df-filtered distinct postings. NOT materialized here; the caller
    * checkpoints or session-shares it. */
  def docShingleArrays(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, maxDf: Int = 50): DataFrame =
    arraysOf(filteredPostings(docs, idCol, textCol, n, maxDf))

  private def prefixCandidateCounts(shr: DataFrame, threshold: Double): DataFrame =
    // The ONLY materialization barrier on this path: per-doc sorted
    // shingle arrays (one compact row per doc). Everything downstream —
    // the prefix index, the FULL posting side of the candidate join, and
    // the exact-intersection array lookups — re-derives from this frame
    // with narrow explodes, so the raw (doc, s) posting stream is never
    // checkpointed or shuffled a second time.
    prefixPairsFromArrays(arraysOf(shr).localCheckpoint(true), threshold)

  /** PPJoin prefix-filtered exact pair counts from a PREBUILT (and
    * already materialized) per-doc array frame — see
    * [[prefixCandidateCounts]] for the algorithm. */
  private[graft] def prefixPairsFromArrays(arrs: DataFrame,
                                           threshold: Double): DataFrame = {
    val prefLen =
      (floor((lit(1.0) - lit(threshold)) * col("n_sh") + lit(1e-4)) + 1).cast("int")
    val pref = arrs.select(col("doc"), explode(slice(col("set"), lit(1), prefLen)).as("s"))
    val full = arrs.select(col("doc"), explode(col("set")).as("s"))
    val cand = pref.select(col("doc").as("a"), col("s"))
      .join(full.select(col("doc").as("b"), col("s")), Seq("s"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    cand
      .join(arrs.select(col("doc").as("a"), col("set").as("sa"), col("n_sh").as("na")), Seq("a"))
      .join(arrs.select(col("doc").as("b"), col("set").as("sb"), col("n_sh").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        col("na"), col("nb"))
  }

  /** All-pairs exact intersection counts via the full posting self-join —
    * the only complete shape when the threshold is too low for prefix
    * filtering to prune anything. Returns (a, b, inter, na, nb), a < b. */
  private def allPairCounts(shrRaw: DataFrame): DataFrame = {
    // Referenced three times (sizes + both self-join sides) — materialize
    // once so the tokenize/shingle/hash/df pipeline doesn't re-run.
    val shr = shrRaw.localCheckpoint(true)
    val sizes = shr.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    shr.select(col("doc").as("a"), col("s"))
      .join(shr.select(col("doc").as("b"), col("s")), Seq("s"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(sizes.select(col("doc").as("b"), col("n_sh").as("nb")), Seq("b"))
  }

  /** [[allPairCounts]] from a PREBUILT materialized per-doc array frame:
    * postings re-derive by a narrow explode and the sizes are the
    * arrays' own n_sh (count of df-filtered distinct shingles per doc —
    * the identical value the posting groupBy recomputed). Rows and
    * values are bit-equal to the posting-stream form. */
  private[graft] def allPairCountsFromArrays(arrs: DataFrame): DataFrame = {
    val shr = arrs.select(col("doc"), explode(col("set")).as("s"))
    shr.select(col("doc").as("a"), col("s"))
      .join(shr.select(col("doc").as("b"), col("s")), Seq("s"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(arrs.select(col("doc").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(arrs.select(col("doc").as("b"), col("n_sh").as("nb")), Seq("b"))
  }

  /** Jaccard scoring + threshold over a pair-count frame
    * (a, b, inter, na, nb) — the tail of [[ngramJaccardPairs]], split
    * out so session-shared pair counts can serve several thresholds. */
  private[graft] def jaccardFromCounts(pc: DataFrame,
                                       threshold: Double): DataFrame =
    pc.withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= lit(threshold))
      .select(col("a"), col("b"), col("inter"), col("jaccard"))

  /** N-gram CONTAINMENT scoring + threshold over a pair-count frame
    * (a, b, inter, na, nb) — the asymmetric near-dup test Jaccard
    * misses: a short doc pasted inside a long one has tiny Jaccard
    * (union is dominated by the long doc) but containment
    * inter/min(|A|,|B|) ≈ 1. */
  private[graft] def containmentFromCounts(pc: DataFrame,
                                           threshold: Double): DataFrame =
    pc.withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= lit(threshold))
      .select(col("a"), col("b"), col("inter"), col("containment"))

  /** Below this threshold the prefix is nearly the whole set and the
    * array-carrying candidate join costs more than it saves. */
  private val PrefixFilterMinThreshold = 0.3

  private def pairCounts(shr: DataFrame, threshold: Double): DataFrame =
    if (threshold >= PrefixFilterMinThreshold) prefixCandidateCounts(shr, threshold)
    else allPairCounts(shr)

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double, maxDf: Int = 50): DataFrame =
    jaccardFromCounts(
      pairCounts(filteredPostings(docs, idCol, textCol, n, maxDf), threshold),
      threshold)

  /** The Jaccard candidate-pair index as a BUILD-ONCE, reusable frame:
    * [[ngramJaccardPairs]] materialized behind a localCheckpoint so the
    * whole cluster family — label propagation ([[minLabelClusters]]),
    * exact components ([[connectedComponents]]), canonical-keeper picks,
    * cluster-size stats — can share a single index build in pipeline
    * use. Rebuilding the index per consumer costs ~4× the candidate
    * generation (the dominant cost of every clustering query); sharing
    * it prices each additional consumer at one aggregate over the tiny
    * pair frame. The checkpoint also truncates lineage, so per-round
    * references inside iterative consumers never replay the shingle
    * pipeline. */
  def pairIndex(docs: DataFrame, idCol: String, textCol: String,
                n: Int, threshold: Double, maxDf: Int = 50): DataFrame =
    ngramJaccardPairs(docs, idCol, textCol, n, threshold, maxDf)
      .localCheckpoint(true)

  /** Duplicate-cluster assembly from candidate pairs: `iters` rounds of
    * min-label propagation (each node takes the least label among itself
    * and its neighbors). Fixed iteration count keeps the operator
    * deterministic and oracle-reproducible; components whose graph
    * diameter exceeds `iters` hops from their minimum converge in a
    * follow-up run. Each round is one shuffle-join + one aggregate —
    * the standard scalable connected-components shape (no driver loop
    * over data, only over the round counter). */
  def minLabelClusters(pairs: DataFrame, iters: Int): DataFrame = {
    // materialize the edge list once and truncate its lineage: the loop
    // references edges in every round, and without this the (possibly
    // expensive) candidate-pair pipeline re-executes per reference.
    // Partitioned + sorted on the join key so no round pays an edge-side
    // exchange or sort (the r18 connectedComponents discipline).
    val edges = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("b")).sortWithinPartitions(col("b"))
      .localCheckpoint(true)
    val nodes = edges.select(col("a").as("id")).distinct()
    var labels = nodes.withColumn("label", col("id"))
    for (_ <- 1 to iters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("nl")).as("mn"))
      labels = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("mn"), col("label"))).as("label"))
    }
    labels
  }

  /** Connected components run TO CONVERGENCE — the scale-correct upgrade
    * of [[minLabelClusters]]'s fixed round count. Convergence is
    * detected by a SCALAR fixpoint probe, not a data comparison: labels
    * only ever decrease (monotone min-propagation), so the label sum is
    * strictly decreasing until the fixpoint. The per-round driver work
    * is one DECIMAL(38,0) aggregate — a scalar action, never a collect.
    *
    * Round 17: `hopsPerRound` edge-hops compose inside ONE lazy plan per
    * round (round count ÷ hops; fixpoint is hop-count-invariant), the
    * per-round `localCheckpoint` is LAZY and materialized by the probe
    * (1 job/round), and a SELF-LOOP per node folds min(own, neighbors)
    * into one join + one aggregate per hop.
    *
    * Round 18: the edge frame is REPARTITIONED BY THE JOIN KEY and
    * sorted within partitions BEFORE its one-time checkpoint. The
    * checkpointed LogicalRDD keeps that partitioning and ordering, so
    * every hop's sort-merge join needs NO exchange and NO sort on the
    * |E|-sized side — only the |V|-sized label side moves, every hop,
    * every round. Measured on the 33-hop sim_knn_cc graph at sf0.1:
    * job count ~flat (~114; AQE runs each shuffle stage as its own job
    * and the hop count is unchanged) and warm seconds within box noise
    * (3.2-5.2 s across runs) — the win is the removed per-hop |E|-sized
    * exchange+sort, a stage-shape change that grows with scale, not a
    * local-mode latency change. hopsPerRound=8 was measured and is
    * WORSE (87-90 jobs but 6.6 s warm / 25 s cold — the 8-join-deep
    * per-round plan pays more in planning+codegen than the saved
    * probes). A DELTA iteration (frontier-only propagation)
    * was built and measured this round and REJECTED: per-hop union-min
    * bookkeeping cost more than frontier shrink saved at every tested
    * checkpoint discipline (116 jobs/3.7 s full-prop vs 126-151 jobs /
    * 6.6-8.1 s delta on sim_knn_cc) — the notes stay in
    * OPTIMIZATION_r18.md; pointer doubling was likewise tried and
    * reverted in round 16 (label-of-label jump is a no-op on the
    * adversarial chain tail while paying a keyed join per round).
    *
    * Rounds needed = ⌈eccentricity of the component minima /
    * hopsPerRound⌉, so near-dup clusters (tiny diameters) converge in
    * 1-2 rounds; `maxIters` is a runaway bound for pathological chains.
    * Labels are checkpointed per round: iterative self-referencing
    * lineage otherwise grows the plan (and recomputation) per round. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          hopsPerRound: Int = 4): DataFrame = {
    // both directions PLUS a self-loop per node: min(own label, neighbor
    // labels) folds into ONE join + ONE aggregate per hop (r17). The
    // checkpointed frame is partitioned+sorted on the join key `b` so
    // hops pay no edge-side exchange or sort (r18).
    val und = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
    val edges = und.unionByName(
        pairs.select(col("a")).unionByName(pairs.select(col("b").as("a")))
          .distinct().withColumn("b", col("a")))
      .repartition(col("b")).sortWithinPartitions(col("b"))
      .localCheckpoint(true)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false) // materialized by the first labelSum() job
    def labelSum(): BigDecimal =
      Option(labels.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0))
        .map(BigDecimal(_)).getOrElse(BigDecimal(0))
    var prev = labelSum()
    var iter = 0
    // an empty graph converges on the first probe (sum stays 0) — no
    // separate isEmpty() job
    var converged = false
    while (iter < maxIters && !converged) {
      var next = labels
      // 8 hops per round measured slower (OPTIMIZATION_r18.md)
      for (_ <- 1 to hopsPerRound) {
        next = edges
          .join(next.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
          .groupBy(col("a").as("id")).agg(min(col("nl")).as("label"))
      }
      labels = next.localCheckpoint(false) // materialized by labelSum()
      val now = labelSum()
      converged = now == prev
      prev = now
      iter += 1
    }
    labels
  }

  /** SemDeDup-style semantic dedup: cluster the embedding space into
    * `cells` k-means (IVF) cells, then drop any vector whose cosine to
    * one of its cell's `reps` LOWEST-ID representatives meets
    * `threshold` (the representative — the earliest-ingested claimant —
    * is what survives). Output: one row per DROPPED vector with the
    * representative that claimed it.
    *
    * Scale shape — this is the whole point of SemDeDup: clustering first
    * makes dedup LINEAR. The representative set is `cells`·`reps` rows
    * (broadcast), so after the one cell-assignment map stage every
    * vector does ≤ `reps` broadcast cosine comparisons inside its scan
    * partition; no pairwise self-join ever materializes, so a 100 TB
    * corpus costs O(n·reps) comparisons instead of O(Σ cell²).
    */
  def semantic(emb: DataFrame, idCol: String, vecCol: String,
               cells: Int, reps: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one assignment pass feeds both the representative pick and the
    // probe side — checkpointed so the seeds cross-join isn't replayed
    val assigned = Similarity.ivfAssignAll(emb, idCol, vecCol, cells)
      .select(col(idCol), col(vecCol), col("cell"))
      .localCheckpoint(true)
    // membership and emission in integer basis points (Similarity.cosBp):
    // a rounded-double threshold can flip which representative claims a
    // duplicate on engine round-boundary values (the r6 hash-break class)
    val repsDf = assigned
      .withColumn("rrn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col(idCol))))
      .where(col("rrn") <= reps)
      .select(col("cell"), col(idCol).as("rep_id"),
        Similarity.milliQuant(col(vecCol)).as("rep_mq"))
      .withColumn("rep_nsq", Similarity.normSqMilli(col("rep_mq")))
    assigned
      .withColumn("mq", Similarity.milliQuant(col(vecCol)))
      .withColumn("nsq", Similarity.normSqMilli(col("mq")))
      .join(broadcast(repsDf), Seq("cell"))
      .where(col("rep_id") < col(idCol))
      .withColumn("cos_bp", Similarity.cosBp(
        Similarity.dotMilli(col("mq"), col("rep_mq")), col("nsq"), col("rep_nsq")))
      .where(col("cos_bp") >= lit(math.round(threshold * 10000)))
      // the earliest matching representative claims the duplicate
      .withColumn("prn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("rep_id"))))
      .where(col("prn") === 1)
      .select(col(idCol), col("cell"), col("rep_id").as("kept_by"), col("cos_bp"))
  }

  /** Embedding-cosine near-duplicate pairs, partitioned by a blocking
    * column (e.g. cluster label) so the pairwise join stays within blocks.
    * Norms are computed once per row BEFORE the join; each pair then costs
    * a single unrolled (codegen'd) dot product. */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     blockCol: String, threshold: Double): DataFrame = {
    // membership AND emission in integer basis points (Similarity.cosBp):
    // a rounded-double threshold can flip pair membership on engine
    // round-boundary values (the r6 hash-break class); the milli-basis
    // integer cosine is bit-stable, and carrying ONE long array per side
    // through the pair join is narrower than float vector + double norm
    val q = emb.select(col(blockCol).as("blk"), col(idCol),
        Similarity.milliQuant(col(vecCol)).as("mq"))
      .withColumn("nsq", Similarity.normSqMilli(col("mq")))
    val l = q.select(col("blk"), col(idCol).as("a"), col("mq").as("qa"), col("nsq").as("na"))
    val r = q.select(col("blk"), col(idCol).as("b"), col("mq").as("qb"), col("nsq").as("nb"))
    l.join(r, Seq("blk")).where(col("a") < col("b"))
      .withColumn("cos_bp", Similarity.cosBp(
        Similarity.dotMilli(col("qa"), col("qb")), col("na"), col("nb")))
      .where(col("cos_bp") >= lit(math.round(threshold * 10000)))
      .select(col("a"), col("b"), col("cos_bp"))
  }

  /** Sorted-neighborhood (SNM) near-dup pairs — the classic ER
    * alternative to LSH blocking: sort docs by their winnowing
    * fingerprint (min shingle md5) and verify each doc only against its
    * next `window` neighbors in GLOBAL sort order, so candidates are
    * O(n·w) EVEN WHEN every doc is identical (the LSH worst case that
    * needs bucket caps). The sort is blocked by the key's two leading
    * hex digits (256-way parallel — each window task sorts one block,
    * never the corpus, and the stage widens with the cluster), and the
    * pairs that straddle block edges are recovered by a BOUNDARY CARRY:
    * each block's first/last `window` rows (≤ 2w·256 rows total at any
    * corpus size) re-sort in one bounded frame whose cross-block lead
    * pairs are exactly the global-order pairs the blocked phase misses
    * (frame distance = global distance because every intermediate block
    * small enough to be spanned is fully present in the frame). Local +
    * carry together equal the UNBLOCKED w-neighbor semantics — nothing
    * straddling an edge is lost. Verification is per-pair trigram
    * Jaccard ≥ 0.5 as integer cross-multiplication over the carried
    * shingle arrays — no second shuffle.
    * Each verified pair is tagged by its GLOBAL-sort-order
    * neighbor offset `dist` ∈ [1, window] (blocks are contiguous key
    * ranges of the global order, so block-local and carry offsets are the
    * same coordinate; a pair appears at exactly one offset). The w-sweep
    * audit reads this once and evaluates every w ≤ window from the same
    * frame — pricing the SNM operating point costs ONE pair build, not
    * one per candidate w. Returns (a, b, inter, uni, jaccard_bp) plus
    * `dist`, a < b. */
  def snmPairsDist(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, window: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col(idCol).as("did"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("sh", array_distinct(TextAnalysis.shinglesOf(col("toks"), n)))
      .where(size(col("sh")) > 0)
      .withColumn("key", graft.functions.TextFunctions.md5Min(col("sh")))
      .withColumn("blk", substring(col("key"), 1, 2))
    val w = Window.partitionBy(col("blk")).orderBy(col("key"), col("did"))
    var nbr = d.select(col("blk"), col("key"), col("did"), col("sh"))
      .withColumn("rn", row_number().over(w))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("blk"))))
    (1 to window).foreach { i =>
      nbr = nbr.withColumn(s"nid$i", lead(col("did"), i).over(w))
        .withColumn(s"nsh$i", lead(col("sh"), i).over(w))
    }
    // materialized ONCE (the pair-generator house convention): the
    // local branches and the boundary carry would otherwise each
    // re-derive the scan + shingle build + 256-way window sort
    nbr = nbr.localCheckpoint(true)
    val local = (1 to window).map { i =>
      nbr.where(col(s"nid$i").isNotNull)
        .select(col("did").as("da"), col("sh").as("sha"),
          col(s"nid$i").as("db"), col(s"nsh$i").as("shb"),
          lit(i.toLong).as("dist"))
    }.reduce(_ unionAll _)
    // boundary carry: first/last `window` rows per block (≤ 2w·256 rows
    // forever), one bounded global re-sort, keep only cross-block leads
    val wg = Window.orderBy(col("key"), col("did"))
    var bnd = nbr.where(col("rn") <= window || col("rn") > col("bn") - window)
      .select(col("blk"), col("key"), col("did"), col("sh"))
    (1 to window).foreach { i =>
      bnd = bnd.withColumn(s"nid$i", lead(col("did"), i).over(wg))
        .withColumn(s"nsh$i", lead(col("sh"), i).over(wg))
        .withColumn(s"nblk$i", lead(col("blk"), i).over(wg))
    }
    val carry = (1 to window).map { i =>
      bnd.where(col(s"nid$i").isNotNull && col(s"nblk$i") =!= col("blk"))
        .select(col("did").as("da"), col("sh").as("sha"),
          col(s"nid$i").as("db"), col(s"nsh$i").as("shb"),
          lit(i.toLong).as("dist"))
    }.reduce(_ unionAll _)
    local.unionAll(carry)
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("uni",
        size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter"))
      .where(col("uni") > 0 && col("inter") * 2 >= col("uni"))
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("dist"),
        col("inter"), col("uni"),
        graft.queries.idiv(col("inter") * 10000, col("uni")).as("jaccard_bp"))
  }

  /** Block-capped candidate self-join — the blocking stage every
    * record-linkage scorer (Fellegi–Sunter et al.) runs first: rows
    * join only within equal `blockCols` values, and blocks over `cap`
    * members are DROPPED (the capped-postings house rule: an over-cap
    * block is boilerplate, and its C(m,2) fan-out would dominate the
    * shuffle while adding no match evidence — per-block work is ≤
    * C(cap,2) at any corpus size). The blocked frame is materialized
    * ONCE (localCheckpoint) so the self-join's two sides never
    * re-derive the input scan. Non-block payload columns come back
    * suffixed `_a`/`_b`; pairs are ordered `idCol_a` < `idCol_b`.
    * The kernel of the registered query (dedup_linkage_fs). */
  def blockedPairs(d: DataFrame, blockCols: Seq[String], idCol: String,
                   cap: Int): DataFrame = {
    val blk = d.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("bn")).where(col("bn") <= cap)
      .select(blockCols.map(col): _*)
    val db = d.join(blk, blockCols).localCheckpoint(true)
    def side(s: String) =
      db.toDF(db.columns.map(c => if (blockCols.contains(c)) c else c + s): _*)
    side("_a").join(side("_b"), blockCols)
      .where(col(idCol + "_a") < col(idCol + "_b"))
  }
}
