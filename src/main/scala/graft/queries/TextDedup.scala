package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{TextAnalysis => TA, Dedup, Urls}

/** Text analysis (SURVEY §2.5) + deduplication (§2.3) over `documents`.
  * All hashes are md5 hex strings so DuckDB reproduces them exactly.
  */
object TextDedup extends Module {

  /** The t=0.5 trigram Jaccard pair index shared by the cluster family
    * (dedup_clusters / dedup_cc / corpus_canonical / dedup_cluster_stats
    * / dedup_source_matrix), one per (session, dataset), so five
    * consumers in one run pay
    * for ONE candidate-generation build (Dedup.pairIndex — the dominant
    * cost of every clustering query) instead of four identical ones.
    * The map holds a handful of checkpointed pair frames (pairs are
    * orders of magnitude smaller than the corpus), never raw data. */
  private[graft] val sharedPairs05 =
    new graft.Caches.SessionMemo[String, org.apache.spark.sql.DataFrame]((s, dir) =>
      // rides the shared (doc, set, n_sh) array frame (ShingleShared):
      // the t=0.5 prefix candidate join + Jaccard tail is all this
      // build still pays — the corpus pass is shared with the t=0.8
      // containment and the all-pairs consumers
      graft.Caches.shared(
        Dedup.jaccardFromCounts(
          Dedup.prefixPairsFromArrays(ShingleShared.arrs(s, dir), 0.5), 0.5)))

  /** Materialize the shared t=0.5 pair index (bench warmup). The build is
    * one-time pipeline infrastructure amortized over its five consumers
    * (dedup_clusters / dedup_cc / corpus_canonical / dedup_cluster_stats
    * / dedup_source_matrix);
    * without the warmup, whichever family member runs first in an
    * alphabetical registry sweep absorbs the whole build (~23 s at sf0.1)
    * and its single-shot time reads 15× its steady-state cost. */
  def warmSharedIndex(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    sharedPairs05(s, dir).count(); ()
  }

  /** First-failing admission gate per doc — ONE definition shared by
    * corpus_reject_report (global rollup) and corpus_reject_by_source
    * (per-source breakdown) so the gate chain cannot drift. */
  private def withRejectReason(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text")))
    df.withColumn("keeper", min(col("doc_id")).over(w))
      .withColumn("reason",
        when(col("doc_id") =!= col("keeper"), lit("dup_exact"))
          .when(TA.tokenCount(col("text")) < 20, lit("too_short"))
          .when(!TA.meanTokenLen(col("text")).between(3.0, 10.0) ||
                TA.symbolRatio(col("text")) > 0.1, lit("low_quality"))
          .when(TA.distinctStopwordCount(col("text")) < 2, lit("few_stopwords"))
          .otherwise(lit("kept")))
  }

  val queries: Map[String, Q] = Map(
    // Token counting + per-lang corpus stats.
    "text_token_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text"))).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("text_len"))
        .orderBy(col("lang"))),

    // Quality scoring: token/stopword/punctuation ratios + accept flag.
    "text_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_tok"),
        TA.stopwordCount(col("text")).as("n_stop"),
        TA.stopwordRatio(col("text")).as("stop_ratio"),
        TA.punctCount(col("text")).as("n_punct"),
        when(TA.tokenCount(col("text")).between(5, 1000) &&
             TA.stopwordRatio(col("text")) < 0.5, lit(1)).otherwise(lit(0)).as("ok"))
        .orderBy(col("doc_id"))),

    // Marker-word language-ID heuristic vs the labeled lang.
    "text_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TA.langId(col("text")).as("pred"),
        when(TA.langId(col("text")) === col("lang"), lit(1)).otherwise(lit(0)).as("hit"))
        .orderBy(col("doc_id"))),

    // Shingle document-frequency histogram on log2 buckets — the
    // index-planning audit behind the dedup df cap (how heavy is the
    // stop-shingle tail, what does maxDf=50 actually drop). One narrow
    // df aggregate + a constant-size rollup.
    "dedup_shingle_df_hist" -> ((s, dir) =>
      Dedup.shingleHashes(Tables.documents(s, dir), "doc_id", "text", 3)
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
        .groupBy(length(bin(col("df"))).cast("long").as("df_bucket"))
        .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings"))
        .orderBy(col("df_bucket"))),

    // Token-length histogram: corpus-wide distribution of token character
    // lengths with distinct-type counts — tokenizer diagnostics (a heavy
    // long tail means the whitespace tokenizer is gluing punctuation).
    "text_token_len_hist" -> ((s, dir) =>
      // occurrence counts = Σtf over the shared term-frequency frame
      TokShared.tf(s, dir)
        .groupBy(length(col("tok")).cast("long").as("tok_len"))
        .agg(sum(col("tf")).as("n_tokens"),
          count_distinct(col("tok")).as("n_types"))
        .orderBy(col("tok_len"))),

    // MinHash estimator-quality audit: for every LSH candidate pair, the
    // signature-agreement estimate of token Jaccard (matches/8 in bp)
    // next to the EXACT token Jaccard and the absolute error — the
    // "is k=8 enough seeds" calibration a pipeline checks before trusting
    // the sketch at scale. All work after candidate generation is
    // candidate-driven (joins land on the small pair set, never the
    // corpus); the seed comparison is an 8-slot array zip per pair.
    "dedup_minhash_est_vs_exact" -> ((s, dir) => {
      // both frames feed BOTH pair sides — the shared family frames
      // (LshShared) hold them materialized once per session, so the
      // k-seed fold and the tokenize run once, not per join side or
      // per registry entry
      val sigs = LshShared.sigs8(s, dir)
      val toksets = LshShared.toksets(s, dir)
      LshShared.pairs84(s, dir)
        .join(sigs.select(col("doc").as("a"), col("sig").as("siga")), Seq("a"))
        .join(sigs.select(col("doc").as("b"), col("sig").as("sigb")), Seq("b"))
        .join(toksets.select(col("doc").as("a"), col("ts").as("ta")), Seq("a"))
        .join(toksets.select(col("doc").as("b"), col("ts").as("tb")), Seq("b"))
        .withColumn("n_match",
          expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v))").cast("long"))
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .select(col("a"), col("b"), col("n_match"),
          (col("n_match") * 1250).as("est_bp"),
          // degenerate guard: two zero-token docs have union 0 — define
          // their Jaccard as 10000 (identical) instead of a null row
          // (the oracle's sizes CTE mirrors the same CASE)
          expr("CASE WHEN size(ta) + size(tb) - inter = 0 THEN CAST(10000 AS BIGINT) " +
            "ELSE (inter * 10000) div (size(ta) + size(tb) - inter) END").as("exact_bp"))
        .withColumn("err_bp", abs(col("est_bp") - col("exact_bp")))
        .orderBy(col("a"), col("b"))
    }),

    // Prefix dedup: documents grouped by the md5 of their first 16
    // tokens — catches shared boilerplate heads (crawl banners, license
    // headers) that full-content hashing misses and pairwise n-gram
    // methods pay quadratically for. One per-row kernel + one hash
    // rollup; only multi-member groups are emitted.
    "text_prefix_dup" -> ((s, dir) => {
      val pfx = concat_ws(" ", slice(TA.tokens(col("text")), 1, 16))
      Tables.documents(s, dir)
        .groupBy(md5(pfx).as("prefix_h"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .where(col("n") > 1)
        .orderBy(col("prefix_h"))
    }),

    // Language-ID confusion matrix: predicted vs labeled language with
    // each cell's share of its actual-language row in basis points — the
    // classifier-quality readout behind text_lang_id's per-doc verdicts.
    // Two keyed rollups plus a small broadcast join on the ≤5-row
    // per-language totals; output is ≤ langs² rows at any corpus size.
    "text_langid_confusion" -> ((s, dir) => {
      val p = Tables.documents(s, dir)
        .select(col("lang"), TA.langId(col("text")).as("pred"))
      val tot = p.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      p.groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
        .join(tot, Seq("lang"))
        .select(col("lang"), col("pred"), col("n"),
          expr("(n * 10000) div n_lang").as("share_bp"))
        .orderBy(col("lang"), col("pred"))
    }),

    // Document fingerprints: bag-of-words md5 + min-shingle-hash winnow.
    // Tokens are projected to a named attribute FIRST (SURVEY §6 rule):
    // an inline tokens(text) child under the shingle HOF re-splits the
    // full string per element_at — O(tokens²) per doc.
    "text_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          TA.bowFingerprintOf(col("toks")).as("fp_bow"),
          TA.minShingleFingerprintOf(col("toks"), 3).as("fp_winnow"))
        .orderBy(col("doc_id"))),

    // Exact dedup via content-hash groups.
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("h"))),

    // MinHash (k=8) + LSH banding (2 bands × 4 rows) candidate pairs —
    // served from the shared family frame (LshShared.pairs84).
    "dedup_minhash_lsh" -> ((s, dir) =>
      LshShared.pairs84(s, dir)
        .orderBy(col("a"), col("b"))),

    // 16-bit SimHash bucket summary.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashBuckets(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("simhash"))),

    // Word-3-gram Jaccard pairs — a threshold projection of the shared
    // all-pairs count frame (ShingleShared; t=0.1 < 0.3 rules out the
    // prefix filter, and the full self-join is threshold-independent).
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardFromCounts(ShingleShared.allPairCounts(s, dir), 0.1)
        .orderBy(col("a"), col("b"))),

    // Asymmetric containment pairs (inter/min) over the SAME inverted
    // index: catches a short doc pasted inside a long one, which Jaccard
    // (inter/union) structurally underscores.
    // t=0.8 ≥ 0.3 → the prefix-filtered path, from the SAME shared
    // per-doc array frame (only the t-dependent candidate join is paid
    // per query).
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentFromCounts(
        Dedup.prefixPairsFromArrays(ShingleShared.arrs(s, dir), 0.8), 0.8)
        .orderBy(col("a"), col("b"))),

    // Per-source near-dup rate report: docs sharing a 16-bit SimHash
    // fingerprint within a source count as dups. Fingerprints are one
    // native per-row pass (no explode), then two keyed aggregates —
    // the "how dirty is each crawl" dashboard row at any corpus size.
    "dedup_report" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.simhash16(d, "doc_id", "text")
        .join(d.select(col("doc_id").as("doc"), col("source")), Seq("doc"))
        .groupBy(col("source"), col("simhash")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_unique_fp"),
          (sum(col("c")) - count(lit(1))).as("n_dup_docs"))
        .withColumn("dup_bp", expr("(n_dup_docs * 10000) div n_docs"))
        .orderBy(col("source"))
    }),

    // Threshold-tuning sweep: pair counts per Jaccard band over the SAME
    // df-capped candidate set (threshold 0 keeps every candidate pair) —
    // the "what cutoff should this corpus use" report, priced at one
    // extra aggregate over pairs already generated.
    "dedup_threshold_sweep" -> ((s, dir) => {
      val bands = when(col("jaccard") >= 0.9, "0.9+")
        .when(col("jaccard") >= 0.7, "0.7-0.9")
        .when(col("jaccard") >= 0.5, "0.5-0.7")
        .when(col("jaccard") >= 0.3, "0.3-0.5")
        .when(col("jaccard") >= 0.1, "0.1-0.3")
        .otherwise("<0.1")
      Dedup.jaccardFromCounts(ShingleShared.allPairCounts(s, dir), 0.0)
        .groupBy(bands.as("band")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("band"))
    }),

    // Hashing-trick bag-of-tokens features (the fixed-width featurizer
    // upstream of linear quality classifiers): token → md5-derived bucket
    // in [0,64). Engine-portable hash (two hex nibbles — no engine-private
    // hash function), one explode + one keyed aggregate; output width is
    // bounded by 64·docs regardless of vocabulary size.
    "text_hash_features" -> ((s, dir) =>
      // occurrence counts = Σtf over the shared term-frequency frame
      TokShared.tf(s, dir)
        .withColumn("bucket",
          pmod(conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("int"), lit(64)))
        .groupBy(col("doc_id"), col("bucket")).agg(sum(col("tf")).as("cnt"))
        .orderBy(col("doc_id"), col("bucket"))),

    // Log-free TF-IDF salience: top-3 tokens per doc by tf·N/df (exact
    // integer numerator, one IEEE division — engine-stable, unlike
    // log-based idf whose libm differs across engines).
    "text_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // the (doc, tok, tf) rollup IS the shared term-frequency frame
      val tf = TokShared.tf(s, dir).select(col("doc_id"), col("tok"), col("tf"))
      // df falls out of tf (one row per (doc, tok)) — no second explode of
      // the corpus and no distinct: df = row count per token
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      tf.join(dfreq, Seq("tok")).crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"), col("rn"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // Corpus-familiarity quality score: the mean document-frequency of a
    // doc's DISTINCT tokens, as basis points of corpus size (integer
    // floor division — engine-stable). Rare-token-heavy docs (garbled
    // text, OCR noise, wrong-language fragments) score low; the mirror
    // image of tf-idf salience, used as a corpus-level quality gate.
    "text_familiarity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // per-doc DISTINCT tokens ≡ the shared tf frame's keys
      val tok = TokShared.tf(s, dir).select(col("doc_id"), col("tok"))
      // df falls out of the per-doc-distinct rows: count per token
      val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val num = col("sum_df") * 10000
      val den = col("n_toks") * col("n_docs")
      tok.join(dfreq, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("df")).as("sum_df"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("n_toks"), col("sum_df"),
          ((num - num % den) / den).cast("long").as("fam_bp"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: flag corpus docs sharing any word
    // 5-gram with a held-out benchmark set (doc_id % 50 == 0 stands in).
    // The check is an equality join on 64-bit shingle hashes — the same
    // inverted-index shape as dedup, never a text scan per pair.
    "text_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def sh(df: org.apache.spark.sql.DataFrame) =
        Dedup.shingleHashes(df, "doc_id", "text", 5)
      val benchSh = sh(docs.where(col("doc_id") % 50 === 0))
        .select(col("s")).distinct()
      sh(docs.where(col("doc_id") % 50 =!= 0))
        .join(benchSh, Seq("s"))
        .groupBy(col("doc").as("doc_id")).agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    }),

    // Duplicate clusters from high-similarity pairs: 3 rounds of
    // min-label propagation, summarized per cluster. Pairs come from the
    // build-once shared index (sharedPairs05).
    "dedup_clusters" -> ((s, dir) => {
      Dedup.minLabelClusters(sharedPairs05(s, dir), 3)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("lo"), max(col("id")).as("hi"))
        .orderBy(col("label"))
    }),

    // Canonical-document selection: within each duplicate cluster keep
    // the HIGHEST-QUALITY member (token count, id tiebreak), not the
    // lowest id — the curation policy that preserves the best copy of
    // boilerplate families. Cluster labels come from the same 3-round
    // min-label propagation as dedup_clusters; the keeper is a
    // deterministic lexicographic struct-min per label (one aggregate,
    // no second window pass).
    "corpus_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val q = docs.select(col("doc_id").as("id"),
        TA.tokenCount(col("text")).as("n_tok"))
      Dedup.minLabelClusters(sharedPairs05(s, dir), 3)
        .join(q, Seq("id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"),
          min(struct((-col("n_tok")).as("neg"), col("id"))).as("best"))
        .select(col("label"), col("n_members"),
          col("best.id").as("keeper"), (-col("best.neg")).as("keeper_tokens"))
        .orderBy(col("label"))
    }),

    // Cluster-size histogram over EXACT connected components — the
    // shape-of-duplication audit ("how big do boilerplate families
    // get"). Two keyed rollups on top of dedup_cc's labeling; output is
    // one row per distinct cluster size regardless of corpus size.
    "dedup_cluster_stats" -> ((s, dir) => {
      Dedup.connectedComponents(sharedPairs05(s, dir))
        .groupBy(col("label")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),

    // Train/val split with NEAR-DUP LEAKAGE audit: a deterministic
    // md5-bucket 90/10 split (the corpus_epoch_plan hash convention),
    // then the t=0.5 near-dup pairs (the build-once shared index) that
    // CROSS the split boundary — each one is an eval doc whose
    // near-duplicate sits in training, i.e. silent contamination. The
    // leak scalar broadcasts under the 2-row split rollup; pair-side
    // joins touch only the (small) pair set.
    "corpus_split_leakage" -> ((s, dir) => {
      val bucket = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long"), lit(10L))
      val d = Tables.documents(s, dir).select(col("doc_id"),
        when(bucket === 0, "val").otherwise("train").as("split"),
        TA.tokenCount(col("text")).as("nt"))
      val splits = d.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      val p = sharedPairs05(s, dir)
      val leak = p
        .join(d.select(col("doc_id").as("a"), col("split").as("sa")), Seq("a"))
        .join(d.select(col("doc_id").as("b"), col("split").as("sb")), Seq("b"))
        .agg(count(lit(1)).as("total_pairs"),
          coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)), lit(0L))
            .as("leak_pairs"))
      splits.crossJoin(broadcast(leak))
        .select(col("split"), col("n_docs"), col("n_tokens"), col("leak_pairs"),
          when(col("total_pairs") === 0, 0L)
            .otherwise(expr("(leak_pairs * 10000) div total_pairs")).as("leak_bp"))
        .orderBy(col("split"))
    }),

    // N-gram novelty: the share of a doc's DISTINCT bigrams that occur
    // in no other document (corpus df = 1) — the inverse of
    // text_familiarity, a memorization/contamination risk signal. One
    // distinct explode + one df aggregate + one per-doc rollup, all
    // keyed shuffles (a hot bigram costs df rows, never df²).
    "text_ngram_novelty" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("toks")) // split once
        .select(col("doc_id"), explode(array_distinct(
          TA.shinglesOf(col("toks"), 2))).as("bg"))
      val dfreq = bg.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      bg.join(dfreq, Seq("bg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bg"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_bg"), col("n_novel"),
          expr("(n_novel * 10000) div n_bg").as("novel_bp"))
        .orderBy(col("doc_id"))
    }),

    // PII redaction (email / IPv4 / phone → placeholder tokens). The
    // synthetic corpus carries no PII, so each doc's text is AUGMENTED
    // in-query with deterministic doc_id-derived PII — the oracle builds
    // the identical string, so the regex kernels are genuinely exercised
    // cross-engine (a scrub that matched nothing would prove nothing).
    "text_pii_scrub" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact agent"), col("doc_id").cast("string"),
        lit("@mail.example.com or +1-555-0"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit(" from 10.2."), (col("doc_id") % 256).cast("string"), lit(".9"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        TA.piiCount(aug, TA.emailPattern).as("n_email"),
        TA.piiCount(aug, TA.phonePattern).as("n_phone"),
        TA.piiCount(aug, TA.ipv4Pattern).as("n_ip"),
        md5(TA.scrubPii(aug)).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style quality gate: word count, mean word length, symbol
    // ratio, distinct-stopword presence — the classic pre-training filter
    // battery, each signal a codegen'd Column kernel. Ratios are emitted
    // in integer BASIS POINTS by truncating division over exact integer
    // char/token counts (round(double, 4) emission is the r6 hash-break
    // class), and the keep gate thresholds the same integers.
    "text_gopher_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_tok"),
        (length(trim(col("text"))) - (TA.tokenCount(col("text")) - lit(1)))
          .cast("long").as("tok_chars"),
        TA.punctCount(col("text")).cast("long").as("n_sym"),
        length(col("text")).cast("long").as("n_chars"),
        TA.distinctStopwordCount(col("text")).as("n_stop_uniq"))
        .withColumn("mean_wlen_bp",
          when(col("n_tok") === 0, lit(0L))
            .otherwise(expr("(tok_chars * 10000) div n_tok")))
        .withColumn("sym_ratio_bp",
          when(col("n_chars") === 0, lit(0L))
            .otherwise(expr("(n_sym * 10000) div n_chars")))
        .withColumn("keep",
          when(col("n_tok").between(20, 1000) &&
               col("mean_wlen_bp").between(30000L, 100000L) &&
               col("sym_ratio_bp") <= 1000L &&
               col("n_stop_uniq") >= 2, lit(1)).otherwise(lit(0)))
        .select(col("doc_id"), col("n_tok"), col("mean_wlen_bp"),
          col("sym_ratio_bp"), col("n_stop_uniq"), col("keep"))
        .orderBy(col("doc_id"))),

    // Rejection report: every doc lands in exactly one bucket — its FIRST
    // failing filter (dedup wins over quality, mirroring pipeline order) —
    // so the counts sum to the corpus size. The shape a 100 TB curation
    // run reports to its operator.
    "corpus_reject_report" -> ((s, dir) =>
      withRejectReason(Tables.documents(s, dir))
        .groupBy(col("reason"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("sample_doc"))
        .orderBy(col("reason"))),

    // Per-source breakdown of the SAME first-failing-gate chain (shared
    // helper — the two reports cannot drift): which crawl/feed is
    // producing the rejects. The crawl-triage readout next to the global
    // corpus_reject_report.
    "corpus_reject_by_source" -> ((s, dir) =>
      withRejectReason(Tables.documents(s, dir))
        .groupBy(col("source"), col("reason"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("sample_doc"))
        .orderBy(col("source"), col("reason"))),

    // Curation FUNNEL: cumulative survivor counts through the admission
    // gates in pipeline order (raw → exact-dedup keeper → min length →
    // quality → stopwords) — the "where do we lose documents" view that
    // corpus_reject_report's first-fail buckets can't give. ONE scan:
    // every stage is a flag product inside a single 1-row aggregate, then
    // the row pivots via a 5-element literal explode. Shares the gate
    // expressions with corpus_reject_report so the two reports reconcile.
    "corpus_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(md5(col("text")))
      val d = Tables.documents(s, dir)
        .withColumn("keeper", min(col("doc_id")).over(w))
      val s1 = (col("doc_id") === col("keeper")).cast("long")
      val s2 = s1 * (TA.tokenCount(col("text")) >= 20).cast("long")
      val s3 = s2 * (TA.meanTokenLen(col("text")).between(3.0, 10.0) &&
        TA.symbolRatio(col("text")) <= 0.1).cast("long")
      val s4 = s3 * (TA.distinctStopwordCount(col("text")) >= 2).cast("long")
      d.agg(count(lit(1)).as("n0"), sum(s1).as("n1"), sum(s2).as("n2"),
          sum(s3).as("n3"), sum(s4).as("n4"))
        .select(col("n0"), explode(array(
          struct(lit(0L).as("stage"), lit("raw").as("gate"), col("n0").as("n_docs")),
          struct(lit(1L).as("stage"), lit("dedup_exact").as("gate"), col("n1").as("n_docs")),
          struct(lit(2L).as("stage"), lit("min_length").as("gate"), col("n2").as("n_docs")),
          struct(lit(3L).as("stage"), lit("quality").as("gate"), col("n3").as("n_docs")),
          struct(lit(4L).as("stage"), lit("stopwords").as("gate"), col("n4").as("n_docs"))))
          .as("r"))
        .select(col("r.stage").as("stage"), col("r.gate").as("gate"),
          col("r.n_docs").as("n_docs"),
          expr("(r.n_docs * 10000) div n0").as("share_bp"))
        .orderBy(col("stage"))
    }),

    // Training-epoch plan: every document lands in one of 8 batches by an
    // engine-portable md5-derived hash (the deterministic "shuffle" of an
    // epoch — re-runnable, resumable, no RNG state). Output is the batch
    // balance audit (docs, tokens, share) a training job checks before
    // reading: one per-row map + one 8-row aggregate, zero wide shuffles
    // beyond the rollup.
    "corpus_epoch_plan" -> ((s, dir) => {
      val batch = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long"), lit(8L))
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), batch.as("batch"), TA.tokenCount(col("text")).as("nt"))
      val tot = d.agg(count(lit(1)).as("total"))
      d.groupBy(col("batch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .crossJoin(broadcast(tot))
        .select(col("batch"), col("n_docs"), col("n_tokens"),
          col("first_doc"), col("last_doc"),
          expr("(n_docs * 10000) div total").as("share_bp"))
        .orderBy(col("batch"))
    }),

    // Bigram language-model estimation: P(w2 | w1) in truncated basis
    // points, top-3 continuations per context among contexts seen >= 100
    // times — the n-gram-LM step of a data pipeline (perplexity filters,
    // contamination LMs). Two keyed aggregates over the SAME bigram
    // table (context totals are a rollup of the pair counts — the corpus
    // is never re-tokenized), a broadcast-sized rank window per context.
    "text_bigram_lm" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("w1")).orderBy(col("n2").desc, col("w2"))
      // (w1, w2) counts = Σc over the shared (source, bg, c) frame
      val big = BigramShared.counts(s, dir)
        .select(split(col("bg"), " ").getItem(0).as("w1"),
          split(col("bg"), " ").getItem(1).as("w2"), col("c"))
        .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("n2"))
      val uni = big.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
      big.join(uni, "w1")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3 && col("n1") >= 100)
        .select(col("w1"), col("w2"), col("n2"), col("n1"),
          expr("(n2 * 10000) div n1").as("p_bp"), col("rn"))
        .orderBy(col("w1"), col("rn"))
    }),

    // BPE-ish token counting next to the whitespace count — the cheap
    // "how many LLM tokens" proxy. The corpus is single-case letters, so
    // a mixed fragment (contractions, digits, punctuation) is appended
    // in-query to genuinely exercise the pre-tokenizer alternation in
    // both engines.
    "text_bpe_tokens" -> ((s, dir) => {
      val aug = concat(col("text"), lit(" it's 2024, v2.0 isn't bad!"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_ws"),
        TA.bpeTokenCount(aug).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // URL-canonicalization dedup (crawl-style): the corpus has no URL
    // column, so a messy URL is synthesized per doc (scheme, uppercase
    // host, www, utm params, fragment) from doc_id/source — both engines
    // build the identical string, normalize, and group.
    "dedup_url" -> ((s, dir) => {
      val url = concat(lit("https://WWW."), col("source"), lit(".Example.COM/p/"),
        (col("doc_id") % 7).cast("string"),
        lit("/?utm_source=feed&utm_campaign=c"), col("doc_id").cast("string"),
        lit("&ref="), (col("doc_id") % 3).cast("string"),
        lit("#sec"), col("doc_id").cast("string"))
      Tables.documents(s, dir)
        .withColumn("url_norm", Urls.normalizeUrl(url))
        .groupBy(col("url_norm"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .orderBy(col("url_norm"))
    }),

    // Gopher-style repetition signals per doc: distinct-token count and
    // the most-frequent token's share (in integer basis points — a
    // truncating integer division both engines compute identically). A
    // high top-token share marks boilerplate/spam; one explode + two
    // narrow aggregates. The first shuffles on (doc_id, tok), the doc_id
    // rollup gets its own exchange — partial aggregation keeps both cheap
    // (per-doc token-count rows, not raw tokens, cross the second wire).
    "text_repetition" -> ((s, dir) => {
      val bp = col("top_c") * 10000
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_c"),
          ((bp - bp % col("n_tokens")) / col("n_tokens")).cast("long").as("top_bp"))
        .orderBy(col("doc_id"))
    }),

    // Cross-document repeated-span detection — the Spark shape of exact
    // substring dedup: every rolling 8-token span, counted by how many
    // DISTINCT docs contain it, rolled back up to a per-doc duplicated-
    // span fraction. Linear (explode + two keyed aggregates): a span in
    // m docs costs m index rows, never m² pair rows, so hot boilerplate
    // spans are safe at any corpus size. Docs under 8 tokens have no
    // spans and drop out (mirrored in the oracle).
    "text_span_dedup" -> ((s, dir) => {
      val W = 8
      val t = split(trim(col("text")), " ")
      val idx = when(size(t) >= W, sequence(lit(0), size(t) - W))
        .otherwise(array().cast("array<integer>"))
      val spans = transform(idx, i => array_join(slice(t, i + lit(1), lit(W)), " "))
      val sp = Tables.documents(s, dir)
        .select(col("doc_id"), explode(spans).as("span"))
        .localCheckpoint(true) // feeds the span index AND the per-doc rollup
      val freq = sp.groupBy(col("span")).agg(countDistinct(col("doc_id")).as("nd"))
      val dup = col("n_dup") * 10000
      sp.join(freq, "span")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          count(when(col("nd") >= 2, 1)).as("n_dup"))
        .select(col("doc_id"), col("n_spans"), col("n_dup"),
          ((dup - dup % col("n_spans")) / col("n_spans")).cast("long").as("dup_bp"))
        .orderBy(col("doc_id"))
    }),

    // Duplicate clusters run TO CONVERGENCE (vs dedup_clusters' fixed 3
    // rounds): min-label propagation with a scalar sum-fixpoint probe, so
    // the labeling is the EXACT connected components of the pair graph —
    // the oracle is a recursive-CTE transitive closure, not an unrolled
    // round count. Same per-round cost (one join + one aggregate); deep
    // components just take more rounds instead of silently splitting.
    "dedup_cc" -> ((s, dir) => {
      Dedup.connectedComponents(sharedPairs05(s, dir))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("lo"), max(col("id")).as("hi"))
        .orderBy(col("label"))
    }),

    // Gopher-style duplicate-n-gram fraction: the share of a doc's word
    // bigrams that are repeats of an earlier bigram in the SAME doc (in
    // integer basis points). Pure per-row array kernel — size vs
    // array_distinct size over the shingle array — zero shuffles, runs
    // inside the scan at any corpus size.
    "text_dup_ngrams" -> ((s, dir) => {
      // tokens projected first (SURVEY §6): the shingle HOF over a
      // materialized array attribute is linear; an inline tokens(text)
      // child would re-split the full string per element_at
      val nBi = size(col("bi")).cast("long")
      val nUniq = size(array_distinct(col("bi"))).cast("long")
      val dup = (nBi - nUniq) * 10000
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TA.shinglesOf(col("toks"), 2).as("bi"))
        .select(
          col("doc_id"), nBi.as("n_bi"), nUniq.as("n_uniq"),
          when(nBi === 0, lit(0L))
            .otherwise(((dup - dup % nBi) / nBi).cast("long")).as("dup_bp"))
        .orderBy(col("doc_id"))
    }),

    // RAG-style chunking: 16-token windows on a 12-token stride (chunks
    // overlap by 4; tail windows shrink). Pure per-row array kernel —
    // explode(sequence) + slice runs inside the scan, no shuffle, so
    // chunking 100 TB is a single map stage feeding the embed step.
    "text_chunk" -> ((s, dir) => {
      val W = 16; val S = 12
      val chunk = slice(col("toks"), col("start") + 1, lit(W))
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(S))).as("start"))
        .select(col("doc_id"),
          (col("start") / S).cast("int").as("chunk_idx"),
          size(chunk).as("n_tok"),
          md5(array_join(chunk, " ")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Paragraph-block dedup (RefinedWeb/CCNet shape): each doc splits into
    // consecutive 10-token blocks; a block seen earlier ANYWHERE in the
    // corpus (first occurrence by (doc_id, block_idx)) is dropped, and the
    // doc is re-assembled from its kept blocks. One explode + one window
    // on the block text + one keyed aggregate — a block repeated in m docs
    // costs m index rows, never m² pairs.
    "text_para_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val B = 10
      val blocks = Tables.documents(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(B))).as("start"))
        .select(col("doc_id"),
          (col("start") / B).cast("int").as("blk"),
          array_join(slice(col("toks"), col("start") + 1, lit(B)), " ").as("block"))
      val w = Window.partitionBy(col("block")).orderBy(col("doc_id"), col("blk"))
      val bp = col("n_kept") * 10000
      blocks
        .withColumn("keep", (row_number().over(w) === 1).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("keep")).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("keep") === 1,
              struct(col("blk"), col("block"))))),
            x => x.getField("block")), " ")).as("kept_md5"))
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          ((bp - bp % col("n_blocks")) / col("n_blocks")).cast("long").as("kept_bp"),
          col("kept_md5"))
        .orderBy(col("doc_id"))
    }),

    // Per-language quality quartiles: ntile(4) over token count (doc_id
    // tiebreak), with per-band doc counts and token-count bounds — the
    // "how does quality distribute per language" report a curation run
    // uses to set per-lang thresholds.
    "corpus_quality_bands" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("n_tok"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TA.tokenCount(col("text")).as("n_tok"))
        .withColumn("band", ntile(4).over(w))
        .groupBy(col("lang"), col("band"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tok")).as("lo_tok"), max(col("n_tok")).as("hi_tok"))
        .orderBy(col("lang"), col("band"))
    })
  )

  private val toks = toksSql

  /** Oracle twin of [[withRejectReason]] — one CTE chain for both
    * rejection reports. */
  private lazy val rejectCtes: String = {
    val stopList = graft.ops.TextAnalysis.stopwords
      .map(s => s"'$s'").mkString("[", ", ", "]")
    s"""t AS (SELECT doc_id, source, text, $toks AS toks,
       |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM documents),
       |m AS (SELECT doc_id, source,
       |  CASE WHEN doc_id <> keeper THEN 'dup_exact'
       |       WHEN len(toks) < 20 THEN 'too_short'
       |       WHEN NOT (CAST(length(trim(text)) - (len(toks) - 1) AS DOUBLE) / len(toks)
       |                 BETWEEN 3.0 AND 10.0)
       |         OR CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
       |            / length(text) > 0.1 THEN 'low_quality'
       |       WHEN len(list_intersect(list_distinct(toks), $stopList)) < 2 THEN 'few_stopwords'
       |       ELSE 'kept' END AS reason
       |  FROM t)""".stripMargin
  }
  private val stopIn = stopInSql

  val oracle: Map[String, String] = Map(
    "text_token_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len($toks)) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(length(text)) AS BIGINT) AS text_len
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks, text FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tok,
         |  CAST(len(list_filter(toks, x -> x IN $stopIn)) AS BIGINT) AS n_stop,
         |  CAST(len(list_filter(toks, x -> x IN $stopIn)) AS DOUBLE) / len(toks) AS stop_ratio,
         |  CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
         |  CASE WHEN len(toks) BETWEEN 5 AND 1000
         |        AND CAST(len(list_filter(toks, x -> x IN $stopIn)) AS DOUBLE) / len(toks) < 0.5
         |       THEN 1 ELSE 0 END AS ok
         |FROM t ORDER BY doc_id""".stripMargin,

    "dedup_shingle_df_hist" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |sh0 AS (
         |  SELECT doc_id AS doc, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |  FROM t),
         |dfreq AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s)
         |SELECT CAST(length(bin(df)) AS BIGINT) AS df_bucket,
         |  count(*) AS n_shingles, CAST(sum(df) AS BIGINT) AS n_postings
         |FROM dfreq GROUP BY 1 ORDER BY df_bucket""".stripMargin,

    "text_token_len_hist" ->
      s"""WITH tok AS (SELECT unnest($toks) AS tok FROM documents)
         |SELECT CAST(length(tok) AS BIGINT) AS tok_len, count(*) AS n_tokens,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types
         |FROM tok GROUP BY 1 ORDER BY tok_len""".stripMargin,

    "dedup_minhash_est_vs_exact" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, unnest(list_distinct($toks)) AS tok FROM documents),
         |sigs AS (
         |  SELECT doc, s.range AS seed, min(md5(CAST(s.range AS VARCHAR) || ':' || tok)) AS mh
         |  FROM tok CROSS JOIN range(8) s GROUP BY doc, s.range),
         |bands AS (
         |  SELECT doc, CAST(seed // 4 AS INTEGER) AS band,
         |    string_agg(mh, ',' ORDER BY seed) AS bandkey
         |  FROM sigs GROUP BY doc, CAST(seed // 4 AS INTEGER)),
         |occ AS (SELECT band, bandkey, count(*) AS m FROM bands GROUP BY band, bandkey),
         |keep AS (
         |  SELECT b.doc, b.band, b.bandkey FROM bands b
         |  JOIN occ USING (band, bandkey) WHERE occ.m <= 50),
         |cand AS (
         |  SELECT DISTINCT l.doc AS a, r.doc AS b
         |  FROM keep l JOIN keep r ON l.band = r.band AND l.bandkey = r.bandkey
         |  WHERE l.doc < r.doc),
         |est AS (
         |  SELECT c.a, c.b,
         |    CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc = c.a
         |  JOIN sigs sb ON sb.doc = c.b AND sb.seed = sa.seed
         |  GROUP BY c.a, c.b),
         |sizes AS (SELECT doc_id AS doc, CAST(len(list_distinct($toks)) AS BIGINT) AS n
         |          FROM documents),
         |inter AS (
         |  SELECT c.a, c.b, count(*) AS inter
         |  FROM cand c
         |  JOIN tok ta ON ta.doc = c.a
         |  JOIN tok tb ON tb.doc = c.b AND tb.tok = ta.tok
         |  GROUP BY c.a, c.b),
         |ex AS (
         |  SELECT est.a, est.b, est.n_match, sa.n + sb.n - coalesce(inter.inter, 0) AS un,
         |    coalesce(inter.inter, 0) AS itr
         |  FROM est
         |  LEFT JOIN inter ON inter.a = est.a AND inter.b = est.b
         |  JOIN sizes sa ON sa.doc = est.a
         |  JOIN sizes sb ON sb.doc = est.b),
         |exb AS (
         |  SELECT a, b, n_match,
         |    CASE WHEN un = 0 THEN CAST(10000 AS BIGINT)
         |         ELSE CAST(itr * 10000 // un AS BIGINT) END AS exact_bp
         |  FROM ex)
         |SELECT a, b, n_match,
         |  CAST(n_match * 1250 AS BIGINT) AS est_bp,
         |  exact_bp,
         |  CAST(abs(n_match * 1250 - exact_bp) AS BIGINT) AS err_bp
         |FROM exb ORDER BY a, b""".stripMargin,

    "text_prefix_dup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |h AS (SELECT doc_id, md5(array_to_string(toks[1:16], ' ')) AS prefix_h FROM t)
         |SELECT prefix_h, count(*) AS n, min(doc_id) AS keeper
         |FROM h GROUP BY prefix_h HAVING count(*) > 1
         |ORDER BY prefix_h""".stripMargin,

    "text_langid_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  CAST(len(list_filter(toks, x -> x IN ('join', 'sort'))) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(toks, x -> x IN ('the', 'data'))) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(toks, x -> x IN ('key', 'row'))) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(toks, x -> x IN ('merge', 'scan'))) AS BIGINT) AS s_fr,
         |  CAST(len(list_filter(toks, x -> x IN ('query', 'hash'))) AS BIGINT) AS s_zh
         |  FROM t),
         |p AS (SELECT lang,
         |  CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS pred
         |  FROM sc),
         |tot AS (SELECT lang, count(*) AS n_lang FROM p GROUP BY lang)
         |SELECT p.lang, p.pred, count(*) AS n,
         |  CAST(count(*) * 10000 // tot.n_lang AS BIGINT) AS share_bp
         |FROM p JOIN tot USING (lang)
         |GROUP BY p.lang, p.pred, tot.n_lang ORDER BY lang, pred""".stripMargin,

    "text_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  CAST(len(list_filter(toks, x -> x IN ('join', 'sort'))) AS BIGINT) AS s_de,
         |  CAST(len(list_filter(toks, x -> x IN ('the', 'data'))) AS BIGINT) AS s_en,
         |  CAST(len(list_filter(toks, x -> x IN ('key', 'row'))) AS BIGINT) AS s_es,
         |  CAST(len(list_filter(toks, x -> x IN ('merge', 'scan'))) AS BIGINT) AS s_fr,
         |  CAST(len(list_filter(toks, x -> x IN ('query', 'hash'))) AS BIGINT) AS s_zh
         |  FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS pred,
         |  CASE WHEN (CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END) = lang THEN 1 ELSE 0 END AS hit
         |FROM sc ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
         |SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_bow,
         |  list_aggregate(list_transform(
         |    list_transform(range(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
         |    s -> md5(s)), 'min') AS fp_winnow
         |FROM t ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY h ORDER BY h""".stripMargin,

    // band-bucket cap mirrors Dedup.lshCandidatePairs(maxBucket = 50)
    "dedup_minhash_lsh" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, unnest(list_distinct($toks)) AS tok FROM documents),
         |sigs AS (
         |  SELECT doc, s.range AS seed, min(md5(CAST(s.range AS VARCHAR) || ':' || tok)) AS mh
         |  FROM tok CROSS JOIN range(8) s GROUP BY doc, s.range),
         |bands AS (
         |  SELECT doc, CAST(seed // 4 AS INTEGER) AS band,
         |    string_agg(mh, ',' ORDER BY seed) AS bandkey
         |  FROM sigs GROUP BY doc, CAST(seed // 4 AS INTEGER)),
         |occ AS (SELECT band, bandkey, count(*) AS m FROM bands GROUP BY band, bandkey),
         |keep AS (
         |  SELECT b.doc, b.band, b.bandkey FROM bands b
         |  JOIN occ USING (band, bandkey) WHERE occ.m <= 50)
         |SELECT DISTINCT l.doc AS a, r.doc AS b
         |FROM keep l JOIN keep r ON l.band = r.band AND l.bandkey = r.bandkey
         |WHERE l.doc < r.doc ORDER BY a, b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, md5(unnest($toks)) AS h FROM documents),
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
         |SELECT simhash, count(*) AS n, min(doc) AS keeper
         |FROM sh GROUP BY simhash ORDER BY simhash""".stripMargin,

    "text_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
         |    CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
         |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
         |rk AS (SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, tok) AS rn FROM scored)
         |SELECT doc_id, tok, tf, df, score, CAST(rn AS INTEGER) AS rn
         |FROM rk WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "text_familiarity" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest($toks) AS tok FROM documents) raw),
         |dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |per AS (
         |  SELECT doc_id, count(*) AS n_toks, CAST(sum(df) AS BIGINT) AS sum_df
         |  FROM tok JOIN dfreq USING (tok) GROUP BY doc_id)
         |SELECT doc_id, n_toks, sum_df,
         |  CAST(sum_df * 10000 // (n_toks * n.n_docs) AS BIGINT) AS fam_bp
         |FROM per CROSS JOIN n ORDER BY doc_id""".stripMargin,

    "text_contamination" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
         |  FROM t),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
         |SELECT doc_id, count(*) AS n_hits
         |FROM sh JOIN bench USING (s)
         |WHERE doc_id % 50 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_clusters" -> {
      val rounds = (1 to 3).map { i =>
        s"""l$i AS (
           |  SELECT n.id, least(n.label, coalesce(min(l.label), n.label)) AS label
           |  FROM l${i - 1} n
           |  LEFT JOIN edges e ON e.a = n.id
           |  LEFT JOIN l${i - 1} l ON l.id = e.b
           |  GROUP BY n.id, n.label)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
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
         |$rounds
         |SELECT label, count(*) AS n_members, min(id) AS lo, max(id) AS hi
         |FROM l3 GROUP BY label ORDER BY label""".stripMargin
    },

    "text_pii_scrub" -> {
      val aug = """text || ' contact agent' || CAST(doc_id AS VARCHAR)
        | || '@mail.example.com or +1-555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        | || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.9'""".stripMargin.replace("\n", "")
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val ip = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
      val phone = """\+\d{1,3}-\d{3}-\d{3,6}"""
      s"""WITH a AS (SELECT doc_id, $aug AS aug FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(aug, '$phone')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(aug, '$ip')) AS BIGINT) AS n_ip,
         |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
         |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g')) AS clean_md5
         |FROM a ORDER BY doc_id""".stripMargin
    },

    "text_gopher_quality" -> {
      val stopList = graft.ops.TextAnalysis.stopwords
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tok,
         |  CAST(length(trim(text)) - (len(toks) - 1) AS BIGINT) AS tok_chars,
         |  CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT) AS n_sym,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(list_intersect(list_distinct(toks), $stopList)) AS BIGINT) AS n_stop_uniq
         |  FROM t),
         |b AS (SELECT doc_id, n_tok, n_stop_uniq,
         |  CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(tok_chars * 10000 // n_tok AS BIGINT) END AS mean_wlen_bp,
         |  CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(n_sym * 10000 // n_chars AS BIGINT) END AS sym_ratio_bp
         |  FROM m)
         |SELECT doc_id, n_tok, mean_wlen_bp, sym_ratio_bp, n_stop_uniq,
         |  CASE WHEN n_tok BETWEEN 20 AND 1000 AND mean_wlen_bp BETWEEN 30000 AND 100000
         |        AND sym_ratio_bp <= 1000 AND n_stop_uniq >= 2 THEN 1 ELSE 0 END AS keep
         |FROM b ORDER BY doc_id""".stripMargin
    },

    "corpus_reject_report" ->
      s"""WITH $rejectCtes
         |SELECT reason, count(*) AS n_docs, min(doc_id) AS sample_doc
         |FROM m GROUP BY reason ORDER BY reason""".stripMargin,

    "corpus_reject_by_source" ->
      s"""WITH $rejectCtes
         |SELECT source, reason, count(*) AS n_docs, min(doc_id) AS sample_doc
         |FROM m GROUP BY source, reason ORDER BY source, reason""".stripMargin,

    "corpus_funnel" -> {
      val stopList = graft.ops.TextAnalysis.stopwords
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, text, $toks AS toksv,
         |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM documents),
         |f AS (SELECT
         |    CASE WHEN doc_id = keeper THEN 1 ELSE 0 END AS s1,
         |    CASE WHEN doc_id = keeper AND len(toksv) >= 20 THEN 1 ELSE 0 END AS s2,
         |    CASE WHEN doc_id = keeper AND len(toksv) >= 20
         |         AND CAST(length(trim(text)) - (len(toksv) - 1) AS DOUBLE) / len(toksv)
         |             BETWEEN 3.0 AND 10.0
         |         AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |             / length(text) <= 0.1 THEN 1 ELSE 0 END AS s3,
         |    CASE WHEN doc_id = keeper AND len(toksv) >= 20
         |         AND CAST(length(trim(text)) - (len(toksv) - 1) AS DOUBLE) / len(toksv)
         |             BETWEEN 3.0 AND 10.0
         |         AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |             / length(text) <= 0.1
         |         AND len(list_intersect(list_distinct(toksv), $stopList)) >= 2
         |         THEN 1 ELSE 0 END AS s4
         |  FROM t),
         |a AS (SELECT count(*) AS n0, sum(s1) AS n1, sum(s2) AS n2,
         |             sum(s3) AS n3, sum(s4) AS n4 FROM f)
         |SELECT CAST(r.stage AS BIGINT) AS stage, r.gate,
         |  CAST(r.n_docs AS BIGINT) AS n_docs,
         |  CAST(r.n_docs * 10000 // a.n0 AS BIGINT) AS share_bp
         |FROM a, LATERAL (VALUES
         |  (0, 'raw', n0), (1, 'dedup_exact', n1), (2, 'min_length', n2),
         |  (3, 'quality', n3), (4, 'stopwords', n4)) AS r(stage, gate, n_docs)
         |ORDER BY stage""".stripMargin
    },

    "corpus_epoch_plan" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 8
        |      AS batch,
        |    len(string_split(trim(text), ' ')) AS nt
        |  FROM documents),
        |t AS (SELECT count(*) AS total FROM d)
        |SELECT CAST(batch AS BIGINT) AS batch, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(count(*) * 10000 // t.total AS BIGINT) AS share_bp
        |FROM d, t GROUP BY batch, t.total ORDER BY batch""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH t AS (SELECT $toks AS toksv FROM documents),
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(toksv)),
         |    i -> toksv[i] || ' ' || toksv[i+1])) AS bgs
         |  FROM t),
         |p AS (SELECT string_split(bgs, ' ')[1] AS w1, string_split(bgs, ' ')[2] AS w2
         |      FROM bg),
         |c2 AS (SELECT w1, w2, count(*) AS n2 FROM p GROUP BY w1, w2),
         |c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY w1),
         |rk AS (SELECT c2.w1, w2, n2, n1,
         |  row_number() OVER (PARTITION BY c2.w1 ORDER BY n2 DESC, w2) AS rn
         |  FROM c2 JOIN c1 USING (w1))
         |SELECT w1, w2, CAST(n2 AS BIGINT) AS n2, CAST(n1 AS BIGINT) AS n1,
         |  CAST(n2 * 10000 // n1 AS BIGINT) AS p_bp, CAST(rn AS INTEGER) AS rn
         |FROM rk WHERE rn <= 3 AND n1 >= 100 ORDER BY w1, rn""".stripMargin,

    "text_bpe_tokens" -> {
      val pat = graft.ops.TextAnalysis.bpePattern.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text || ' it''s 2024, v2.0 isn''t bad!', '$pat')) AS BIGINT) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "dedup_url" ->
      s"""WITH u AS (SELECT doc_id,
         |  'https://WWW.' || source || '.Example.COM/p/' || CAST(doc_id % 7 AS VARCHAR)
         |    || '/?utm_source=feed&utm_campaign=c' || CAST(doc_id AS VARCHAR)
         |    || '&ref=' || CAST(doc_id % 3 AS VARCHAR)
         |    || '#sec' || CAST(doc_id AS VARCHAR) AS url FROM documents),
         |n1 AS (SELECT doc_id, regexp_replace(trim(url), '^https?://', '') AS u FROM u),
         |n2 AS (SELECT doc_id,
         |  lower(regexp_extract(u, '^[^/?#]*')) || regexp_replace(u, '^[^/?#]*', '') AS u FROM n1),
         |n3 AS (SELECT doc_id, regexp_replace(u, '^www\\.', '') AS u FROM n2),
         |n4 AS (SELECT doc_id, regexp_replace(u, '#.*$$', '') AS u FROM n3),
         |n5 AS (SELECT doc_id, regexp_replace(u, '([?&])utm_[A-Za-z0-9_]+=[^&#]*', '\\1', 'g') AS u FROM n4),
         |n6 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(u,
         |  '&&+', '&', 'g'), '\\?&', '?'), '[?&]+$$', ''), '/\\?', '?'), '/$$', '') AS u FROM n5)
         |SELECT u AS url_norm, count(*) AS n, min(doc_id) AS keeper
         |FROM n6 GROUP BY u ORDER BY url_norm""".stripMargin,

    // df cap mirrors Dedup.ngramJaccardPairs(maxDf = 50)
    "dedup_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |sh0 AS (
         |  SELECT doc_id AS doc, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |  FROM t),
         |dfreq AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
         |sh AS (SELECT doc, sh0.s AS s FROM sh0 JOIN dfreq USING (s) WHERE df <= 50),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |inter AS (
         |  SELECT l.doc AS a, r.doc AS b, count(*) AS inter
         |  FROM sh l JOIN sh r ON l.s = r.s WHERE l.doc < r.doc GROUP BY l.doc, r.doc)
         |SELECT a, b, inter,
         |  CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc = a JOIN sizes sb ON sb.doc = b
         |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.1
         |ORDER BY a, b""".stripMargin,

    "dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |sh0 AS (
         |  SELECT doc_id AS doc, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
         |  FROM t),
         |dfreq AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
         |sh AS (SELECT doc, sh0.s AS s FROM sh0 JOIN dfreq USING (s) WHERE df <= 50),
         |sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
         |inter AS (
         |  SELECT l.doc AS a, r.doc AS b, count(*) AS inter
         |  FROM sh l JOIN sh r ON l.s = r.s WHERE l.doc < r.doc GROUP BY l.doc, r.doc)
         |SELECT a, b, inter,
         |  CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
         |FROM inter JOIN sizes sa ON sa.doc = a JOIN sizes sb ON sb.doc = b
         |WHERE CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.8
         |ORDER BY a, b""".stripMargin,

    // same simhash CTE as dedup_simhash / sim_hamming, rolled up per source
    "dedup_report" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, md5(unnest($toks)) AS h FROM documents),
         |bits AS (
         |  SELECT doc, h, j.range AS j,
         |    strpos('0123456789abcdef', substring(h, 1 + CAST(j.range // 4 AS INTEGER), 1)) - 1 AS nib
         |  FROM tok CROSS JOIN range(16) j),
         |votes AS (
         |  SELECT doc, j, sum(CASE WHEN (nib >> CAST(j % 4 AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM bits GROUP BY doc, j),
         |sh AS (
         |  SELECT doc, CAST(sum(CASE WHEN v > 0 THEN 1 << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY doc),
         |g AS (
         |  SELECT d.source, s.simhash, count(*) AS c
         |  FROM sh s JOIN documents d ON s.doc = d.doc_id
         |  GROUP BY d.source, s.simhash)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_unique_fp,
         |  CAST(sum(c) - count(*) AS BIGINT) AS n_dup_docs,
         |  CAST(((sum(c) - count(*)) * 10000) // sum(c) AS BIGINT) AS dup_bp
         |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "dedup_threshold_sweep" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
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
         |j AS (
         |  SELECT CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jac
         |  FROM inter JOIN sizes sa ON sa.doc = a JOIN sizes sb ON sb.doc = b)
         |SELECT
         |  CASE WHEN jac >= 0.9 THEN '0.9+' WHEN jac >= 0.7 THEN '0.7-0.9'
         |       WHEN jac >= 0.5 THEN '0.5-0.7' WHEN jac >= 0.3 THEN '0.3-0.5'
         |       WHEN jac >= 0.1 THEN '0.1-0.3' ELSE '<0.1' END AS band,
         |  count(*) AS n_pairs
         |FROM j GROUP BY 1 ORDER BY band""".stripMargin,

    "text_hash_features" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |h AS (SELECT doc_id,
         |  ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16 +
         |   (strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1)) % 64 AS bucket
         |  FROM tok)
         |SELECT doc_id, CAST(bucket AS INTEGER) AS bucket, count(*) AS cnt
         |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "text_repetition" ->
      s"""WITH tc AS (
         |  SELECT doc_id, tok, count(*) AS c FROM (
         |    SELECT doc_id, unnest($toks) AS tok FROM documents) t
         |  GROUP BY doc_id, tok)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
         |  max(c) AS top_c,
         |  CAST((max(c) * 10000) // sum(c) AS BIGINT) AS top_bp
         |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // exact connected components: recursive-CTE transitive closure over
    // the same df-capped jaccard-0.5 pair graph the Spark side uses
    "dedup_cc" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS toks FROM documents),
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
         |labels AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a)
         |SELECT label, count(*) AS n_members, min(id) AS lo, max(id) AS hi
         |FROM labels GROUP BY label ORDER BY label""".stripMargin,

    "corpus_canonical" -> {
      val rounds = (1 to 3).map { i =>
        s"""l$i AS (
           |  SELECT n.id, least(n.label, coalesce(min(l.label), n.label)) AS label
           |  FROM l${i - 1} n
           |  LEFT JOIN edges e ON e.a = n.id
           |  LEFT JOIN l${i - 1} l ON l.id = e.b
           |  GROUP BY n.id, n.label)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
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
         |q AS (SELECT doc_id AS id, CAST(len($toks) AS BIGINT) AS n_tok FROM documents),
         |j AS (SELECT l3.label, l3.id, q.n_tok FROM l3 JOIN q USING (id)),
         |rk AS (SELECT *, row_number() OVER (
         |    PARTITION BY label ORDER BY n_tok DESC, id) AS rn FROM j)
         |SELECT label, count(*) AS n_members,
         |  max(CASE WHEN rn = 1 THEN id END) AS keeper,
         |  max(CASE WHEN rn = 1 THEN n_tok END) AS keeper_tokens
         |FROM rk GROUP BY label ORDER BY label""".stripMargin
    },

    "corpus_split_leakage" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
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
         |sp AS (SELECT doc_id,
         |  CASE WHEN ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
         |             (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 10 = 0
         |       THEN 'val' ELSE 'train' END AS split,
         |  CAST(len($toks) AS BIGINT) AS nt
         |  FROM documents),
         |splits AS (SELECT split, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens FROM sp GROUP BY split),
         |leak AS (
         |  SELECT count(*) AS total_pairs,
         |    CAST(coalesce(sum(CASE WHEN a_s.split <> b_s.split THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS leak_pairs
         |  FROM pairs JOIN sp a_s ON a_s.doc_id = pairs.a
         |             JOIN sp b_s ON b_s.doc_id = pairs.b)
         |SELECT split, n_docs, n_tokens, leak_pairs,
         |  CASE WHEN total_pairs = 0 THEN 0
         |       ELSE (leak_pairs * 10000) // total_pairs END AS leak_bp
         |FROM splits, leak ORDER BY split""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, $toks AS toks FROM documents),
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
         |csz AS (SELECT label, count(*) AS sz FROM labels GROUP BY label)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs
         |FROM csz GROUP BY sz ORDER BY cluster_size""".stripMargin,

    "text_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |b AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i+1]))) AS bg FROM t),
         |dfreq AS (SELECT bg, count(*) AS df FROM b GROUP BY bg)
         |SELECT doc_id, count(*) AS n_bg,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         |    AS novel_bp
         |FROM b JOIN dfreq USING (bg) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_dup_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |b AS (SELECT doc_id,
         |  list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bis
         |  FROM t)
         |SELECT doc_id, CAST(len(bis) AS BIGINT) AS n_bi,
         |  CAST(len(list_distinct(bis)) AS BIGINT) AS n_uniq,
         |  CASE WHEN len(bis) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(((len(bis) - len(list_distinct(bis))) * 10000) // len(bis) AS BIGINT)
         |  END AS dup_bp
         |FROM b ORDER BY doc_id""".stripMargin,

    "text_chunk" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |st AS (
         |  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 12)) AS start
         |  FROM t)
         |SELECT doc_id, CAST(start // 12 AS INTEGER) AS chunk_idx,
         |  CAST(len(toks[start + 1 : start + 16]) AS INTEGER) AS n_tok,
         |  md5(array_to_string(toks[start + 1 : start + 16], ' ')) AS chunk_md5
         |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_para_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |blk AS (
         |  SELECT doc_id, CAST(start // 10 AS INTEGER) AS blk,
         |    array_to_string(toks[start + 1 : start + 10], ' ') AS block
         |  FROM (SELECT doc_id, toks,
         |          unnest(generate_series(0, len(toks) - 1, 10)) AS start FROM t) s),
         |k AS (
         |  SELECT doc_id, blk, block,
         |    CASE WHEN row_number() OVER (PARTITION BY block ORDER BY doc_id, blk) = 1
         |         THEN 1 ELSE 0 END AS keep
         |  FROM blk)
         |SELECT doc_id, count(*) AS n_blocks, CAST(sum(keep) AS BIGINT) AS n_kept,
         |  CAST((sum(keep) * 10000) // count(*) AS BIGINT) AS kept_bp,
         |  md5(coalesce(string_agg(CASE WHEN keep = 1 THEN block END, ' ' ORDER BY blk), '')) AS kept_md5
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "corpus_quality_bands" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toks) AS BIGINT) AS n_tok FROM documents),
         |b AS (SELECT lang, n_tok,
         |  ntile(4) OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS band FROM t)
         |SELECT lang, CAST(band AS INTEGER) AS band, count(*) AS n_docs,
         |  min(n_tok) AS lo_tok, max(n_tok) AS hi_tok
         |FROM b GROUP BY lang, band ORDER BY lang, band""".stripMargin,

    "text_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |sp AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
         |    i -> array_to_string(toks[i:i+7], ' '))) AS span
         |  FROM t),
         |freq AS (SELECT span, count(DISTINCT doc_id) AS nd FROM sp GROUP BY span)
         |SELECT doc_id, count(*) AS n_spans,
         |  count(CASE WHEN nd >= 2 THEN 1 END) AS n_dup,
         |  CAST((count(CASE WHEN nd >= 2 THEN 1 END) * 10000) // count(*) AS BIGINT) AS dup_bp
         |FROM sp JOIN freq USING (span)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
