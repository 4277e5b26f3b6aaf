package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.etl.Normalize
import graft.ops.{TextAnalysis => TA, Multimodal => Multi}

/** Advanced relational + pipeline operators (SURVEY §2.8): as-of join,
  * range join, cube, exact percentiles, SCD-2 history, funnel analytics,
  * corpus curation.
  *
  * Scale notes: the as-of join is the union+window shape (ONE shuffle by
  * key; never a point-in-time range join, which multiplies rows before
  * filtering). SCD-2 is a lead() window over the CDC stream. The range
  * join carries an equi key (orderkey) so the range predicate only prunes
  * within equi-matches — no interval explosion.
  */
object Advanced extends Module {

  val queries: Map[String, Q] = Map(
    // As-of join: for each 'error' event, the value of that user's most
    // recent earlier 'purchase'. Union+window: one shuffle by user_id.
    "q_asof_join" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .where(col("event_type").isin("error", "purchase"))
        .withColumn("prev_purchase",
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
        .where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("prev_purchase"))
        .orderBy(col("event_id"))
    }),

    // Native as-of join (custom LogicalPlan + Strategy + SparkPlan,
    // graft.plans.AsOfJoin): for each error event, the user's latest
    // purchase AT-OR-BEFORE it. One shuffle+sort per side, single merge
    // pass — no union materialization, no window over the merged stream.
    // The right side is pre-aggregated to unique (user, ts) so the
    // backward pick is unambiguous in every engine.
    "q_asof_join_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("p_value"))
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("p_value"))
      val errors = ev.where(col("event_type") === "error")
      graft.plans.AsOf.joinBackward(errors, purchases, "user_id", "p_user", "ts", "p_ts")
        .select(col("event_id"), col("user_id"), col("p_value"))
        .orderBy(col("event_id"))
    }),

    // Equi + range join: lineitems shipped within 90 days of their order.
    "q_range_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("mon"))
    }),

    // Full cube over two dimensions (all marginals).
    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("qty"))
        .orderBy(col("rf"), col("ls"))),

    // Exact percentiles (linear interpolation — same formula both engines).
    "q_percentile" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.5)).as("med_qty"),
          percentile(col("l_quantity"), lit(0.9)).as("p90_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // SCD-2 history build from the CDC event stream: each record version
    // is valid [ts, next ts); the open version is flagged current.
    "etl_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_id"),
          Normalize.isoDateTimeOrNull(col("ts")).as("valid_from"),
          coalesce(Normalize.isoDateTimeOrNull(col("next_ts")), lit("9999-12-31 00:00:00")).as("valid_to"),
          when(col("next_ts").isNull, lit(1)).otherwise(lit(0)).as("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    }),

    // Conversion funnel: users who signed up, then purchased afterwards.
    "events_funnel" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
          max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase"),
          count(lit(1)).as("n_events"))
        .agg(count(lit(1)).as("n_users"),
          count(col("first_signup")).as("n_signed"),
          count(when(col("first_signup").isNotNull &&
            col("last_purchase") > col("first_signup"), 1)).as("n_converted"),
          sum(col("n_events")).as("total_events"))),

    // Corpus curation: language filter + quality gates + exact-dup keeper
    // selection in one pass (the LLM-training-data admission pipeline).
    "corpus_curate" -> ((s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      Tables.documents(s, dir)
        .withColumn("keeper", min(col("doc_id")).over(w))
        .where(col("doc_id") === col("keeper") && col("lang") === "en")
        .withColumn("n_tok", TA.tokenCount(col("text")))
        .where(col("n_tok").between(5, 1000) && TA.stopwordRatio(col("text")) < 0.5)
        .select(col("doc_id"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // True pivot (wide conditional aggregation with a fixed value list).
    "q_pivot" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy(col("o_orderpriority"))),

    // Correlated-subquery shape: customers above their nation's average
    // balance (per-group avg joined back; dims broadcast by AQE).
    "q_correlated" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val nav = c.groupBy(col("c_nationkey"))
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("nation_avg"))
      c.join(nav, Seq("c_nationkey"))
        .where(col("c_acctbal") > col("nation_avg"))
        .select(col("c_custkey"), col("c_acctbal"), col("nation_avg"))
        .orderBy(col("c_custkey"))
    }),

    // Deterministic arg-max per group: lexicographic max over a struct
    // (value, then unique keys) — stable under ties, unlike max_by.
    "q_minmax_by" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(max(struct(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))).as("m"))
        .select(col("l_returnflag"), col("m.l_extendedprice").as("best_price"),
          col("m.l_orderkey").as("best_orderkey"), col("m.l_linenumber").as("best_linenumber"))
        .orderBy(col("l_returnflag"))),

    // Top-5 word bigrams per language (corpus n-gram frequency table).
    "text_ngram_freq" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("s"))
      Tables.documents(s, dir)
        .select(col("lang"), TA.tokens(col("text")).as("toks")) // split once
        .select(col("lang"), explode(TA.shinglesOf(col("toks"), 2)).as("s"))
        .groupBy(col("lang"), col("s")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .orderBy(col("lang"), col("rn"))
    }),

    // Hour-over-hour retention: users active in hour h who were also
    // active in hour h-1 (cohort-retention kernel).
    "events_retention" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val cur = e.select(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("h"),
        col("user_id")).distinct()
      val fromPrev = e.select(
        date_format(date_trunc("hour", col("ts") + expr("INTERVAL 1 HOUR")), "yyyy-MM-dd HH").as("ph"),
        col("user_id").as("pu")).distinct()
      cur.join(fromPrev, col("h") === col("ph") && col("user_id") === col("pu"), "left")
        .groupBy(col("h"))
        .agg(count(lit(1)).as("active"), count(col("pu")).as("retained"))
        .orderBy(col("h"))
    }),

    // Histogram: fixed-width value bucketing of order totals.
    "q_histogram" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("bucket"))),

    // Cross-document chunk dedup: identical payload chunks shared between
    // documents (multimodal-column dedup at chunk granularity).
    "mm_chunk_dedup" -> ((s, dir) =>
      Multi.sampleChunks(Tables.documents(s, dir), "doc_id", "text", 1)
        .groupBy(col("chunk_md5"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keeper"))
        .where(col("n") > 1)
        .orderBy(col("chunk_md5"))),

    // Perceptual-style near-dup fingerprint for binary payloads: a 16-bit
    // SimHash over the payload's CHUNK hashes (order-independent bit
    // votes, so two files sharing most chunks land in the same or a
    // near bucket — the content-defined-chunking analog of an image
    // pHash, using the same native simhash16 kernel as text).
    "mm_phash_dedup" -> ((s, dir) =>
      Multi.sampleChunks(Tables.documents(s, dir), "doc_id", "text", 1)
        .groupBy(col("doc_id"))
        .agg(collect_list(col("chunk_md5")).as("chunks"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.simhash16(col("chunks")).as("phash"))
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .orderBy(col("phash"))),

    // Deterministic hash sampling (~10%): stable across engines, runs and
    // partitionings, unlike TABLESAMPLE. Fixed-width lowercase hex compares
    // lexicographically = numerically.
    "q_sample_stable" -> ((s, dir) =>
      Tables.orders(s, dir)
        .where(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "1a")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // HLL++ sketch distinct count, audited in-query: the engine's sketch
    // value can't be reproduced by another engine, so the output carries
    // the exact twin plus `ok` = sketch within 5% of exact (rsd=0.02 →
    // the 5% bound is a 2.5σ margin; measured max error on this data is
    // 1.7%, and rsd=0.01's 4× register file costs 2.5× the wall time)
    // and the oracle checks the deterministic columns with ok as literal
    // TRUE — a drifting sketch turns the hash gate red. At 100 TB you'd
    // run ONLY the sketch; the exact twin here is the audit apparatus.
    "q_approx_distinct" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("n_approx"),
          countDistinct(col("o_custkey")).as("n_exact"),
          count(lit(1)).as("n_rows"))
        .select(col("o_orderstatus"), col("n_exact"), col("n_rows"),
          // an all-NULL key group has n_exact = 0; the ratio would be NULL
          // (0/0 with ANSI off) and fail the TRUE-literal oracle, so the
          // zero case is judged by exact agreement instead
          when(col("n_exact") === 0, col("n_approx") === 0)
            .otherwise(abs(col("n_approx") - col("n_exact")).cast("double")
              / col("n_exact") <= 0.05).as("ok"))
        .orderBy(col("o_orderstatus"))),

    // Time-series gap fill: the hourly 'error' series with EVERY hour of
    // the observed span present — missing hours emitted as zeros. The
    // spine is generated from a 1-row min/max aggregate (sequence +
    // explode — no calendar table to maintain), left-joined to the
    // hourly rollup; dashboards and rate alerts need the dense series,
    // and 42 of this corpus's 720 hours are genuinely absent.
    "events_gap_fill" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .where(col("event_type") === "error")
        .withColumn("hr", date_trunc("hour", col("ts")))
      val hourly = e.groupBy(col("hr"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      val spine = e.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hr"))
      spine.join(hourly, Seq("hr"), "left")
        .select(date_format(col("hr"), "yyyy-MM-dd HH:00:00").as("hr"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("total"), lit(0.0)).as("total"))
        .orderBy(col("hr"))
    }),

    // Z-score anomaly ranking: per event type, the 5 most anomalous
    // values. Mean and variance come from exact DECIMAL sums (E[x²]−E[x]²)
    // so the scores are bit-stable across engines and partitionings.
    "events_zscore" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val stats = e.groupBy(col("event_type")).agg(
        (dsum(col("value")) / count(lit(1))).as("mean"),
        (sum((col("value") * col("value")).cast("decimal(28,4)")).cast("double") / count(lit(1))).as("meansq"))
        .withColumn("std", sqrt(col("meansq") - col("mean") * col("mean")))
      val w = Window.partitionBy(col("event_type")).orderBy(abs(col("z")).desc, col("event_id"))
      e.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - col("mean")) / col("std"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("event_type"), col("event_id"), col("value"), col("z"), col("rn"))
        .orderBy(col("event_type"), col("rn"))
    }),

    // Stratified corpus sample: at most 50 docs per language, chosen by
    // deterministic hash rank — the balancing step of a training-data
    // mix (quota per stratum, stable across engines/runs/partitionings).
    "corpus_sample_stratified" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 50)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    }),

    // Arbitrary grouping sets (the rollup/cube generalization), via the
    // SQL surface: per-status and per-priority marginals WITHOUT the
    // cross product or grand total. grouping() disambiguates a real NULL
    // group from a marginal row.
    "q_grouping_sets" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_prio,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM graft_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""")
    }),

    // Salted hot-key join: result must be IDENTICAL to the plain join
    // (the oracle runs the unsalted SQL), with a hot probe key spread
    // over 8 salt tasks. The agg makes the equivalence hash-checkable.
    "q_skew_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_extendedprice"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.ops.Skew.saltedJoin(li, ord, Seq("l_orderkey"), 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("o_orderstatus"))
    }),

    // Two-phase exact distinct (skew-immune countDistinct twin).
    "q_distinct_twophase" -> ((s, dir) =>
      graft.ops.Skew.distinctCountTwoPhase(Tables.events(s, dir), "event_type", "user_id")
        .orderBy(col("event_type"))),

    // Event-path transitions (Markov edges): each user's consecutive
    // event-type pairs via ONE lead window (never a self-join on
    // adjacent rows), counted globally — the path-analysis primitive
    // behind funnels and session flow graphs.
    "events_path" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("from_type"), col("to_type"))
    }),

    // Incremental-load watermark: rows past the previous sync's
    // high-water mark plus the NEW per-entity watermark to persist — the
    // incremental extract pattern for sources WITHOUT a changelog (the
    // reference's changelog drive is the CDC variant; both end in the
    // same keyed upsert). One pushed-down range filter, one narrow agg.
    "etl_watermark" -> ((s, dir) => {
      val wm = lit("2024-01-20 00:00:00").cast("timestamp")
      Tables.events(s, dir)
        .where(col("ts") > wm)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_new"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("new_watermark"))
        .orderBy(col("event_type"))
    }),

    // Approximate percentile sketch, audited in-query like
    // q_approx_distinct: exact median (quantile_cont-parity, proven by
    // q_percentile) + `ok` = sketch within 5% of exact; the sketch value
    // itself stays out of the cross-engine hash.
    "q_approx_quantile" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("med_approx"),
          percentile(col("o_totalprice"), lit(0.5)).as("med_exact"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("med_exact"), col("n"),
          // guard the zero/NULL-median case the same way as the sketch
          // count: relative error is undefined there, so require agreement
          when(col("med_exact").isNull || col("med_exact") === 0,
            col("med_approx") <=> col("med_exact"))
            .otherwise(abs(col("med_approx") - col("med_exact"))
              / col("med_exact") <= 0.05).as("ok"))
        .orderBy(col("o_orderstatus"))),

    // Bloom-filter semi-join pruning — the runtime-filter shape for a
    // 100 TB probe: the build side (urgent orders' custkeys) is folded
    // into a position table of ≤ 2^20 distinct slots (k=4 hashes each),
    // broadcast, and the probe keeps rows whose every position hits.
    // The bloom verdict is hash-dependent, so (like q_approx_distinct)
    // the output carries the EXACT twin plus audited flags: ok_no_miss
    // asserts the structural no-false-negative property (a true member's
    // positions are present by construction), ok_fp bounds false
    // positives at 5% of the probe. The oracle checks the exact columns
    // and expects both flags literally TRUE — a broken filter turns the
    // hash gate red. At 100 TB you'd keep ONLY the bloom prune (before
    // the expensive join); the exact semi-join here is the audit.
    "q_bloom_prune" -> ((s, dir) => {
      val m = 1L << 20
      val k = 4
      def positionsOf(c: Column): Column =
        array_distinct(transform(sequence(lit(0), lit(k - 1)),
          sd => pmod(xxhash64(c, sd), lit(m))))
      val urgent = Tables.orders(s, dir)
        .where(col("o_orderpriority") === "1-URGENT" && col("o_custkey").isNotNull)
        .select(col("o_custkey"))
      val bits = urgent.select(explode(positionsOf(col("o_custkey"))).as("p")).distinct()
      // ONE probe-side scan: explode each key's distinct positions, LEFT
      // join the broadcast position table, and fold back per key —
      // claimed-member iff every position hit. (Per-key position arrays
      // may have < k entries when two seeds collide, hence hits == np,
      // not hits == k.)
      val probeP = Tables.customer(s, dir)
        .select(col("c_custkey"), positionsOf(col("c_custkey")).as("ps"))
        .select(col("c_custkey"), size(col("ps")).as("np"), explode(col("ps")).as("p"))
      val perKey = probeP
        .join(broadcast(bits.withColumn("hit", lit(1))), Seq("p"), "left")
        .groupBy(col("c_custkey"), col("np")).agg(count(col("hit")).as("hits"))
        .select(col("c_custkey"), (col("hits") === col("np")).as("bloom"))
      perKey
        .join(urgent.select(col("o_custkey").as("c_custkey")).distinct()
          .withColumn("member", lit(1)), Seq("c_custkey"), "left")
        .agg(count(lit(1)).as("n_probe"),
          count(col("member")).as("n_members"),
          count(when(col("member").isNotNull && !col("bloom"), 1)).as("n_missed"),
          count(when(col("bloom") && col("member").isNull, 1)).as("n_fp"))
        .select(col("n_probe"), col("n_members"),
          (col("n_missed") === 0).as("ok_no_miss"),
          (col("n_fp") * 20 <= col("n_probe")).as("ok_fp"))
    }),

    // Z-order (Morton) layout key: interleave the bits of two filter
    // columns so a sort by zkey clusters BOTH dimensions — each file's
    // min/max rectangle is tight in custkey AND order date, and a
    // predicate on either prunes files (single-column sort gives pruning
    // on that column only). The key is codegen'd shift/mask arithmetic
    // (ops/Layout.scala) computed inside the scan; the query proves the
    // clustering by aggregating each coarse z-bucket's min/max per
    // dimension. Layout step at 100 TB: repartitionByRange(zkey) +
    // sortWithinPartitions(zkey) before the write.
    "q_zorder_key" -> ((s, dir) => {
      val x = pmod(col("o_custkey"), lit(65536L))
      val y = pmod(datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long"), lit(65536L))
      Tables.orders(s, dir)
        .withColumn("zkey", graft.ops.Layout.mortonKey(x, y))
        .withColumn("zbucket", shiftright(col("zkey"), 20))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(x).as("min_ck"), max(x).as("max_ck"),
          min(y).as("min_dy"), max(y).as("max_dy"))
        .orderBy(col("zbucket"))
    }),

    // Data-mixing step of a training run: per-language TOKEN budgets
    // (not doc quotas — mixing is specified in tokens), filled greedily
    // in deterministic hash-rank order so the admitted prefix is stable
    // across engines, runs, and partitionings. One window + one
    // aggregate; the rank hash makes the sample reproducible when the
    // corpus grows — early docs keep their rank.
    "corpus_mix_budget" -> ((s, dir) => {
      val quota = when(col("lang") === "en", lit(5000L))
        .when(col("lang") === "de", lit(4000L)).otherwise(lit(2500L))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), TA.tokenCount(col("text")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .where(col("cum") <= quota)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs_kept"), sum(col("n_tok")).as("tokens_kept"))
        .select(col("lang"), col("docs_kept"), col("tokens_kept"), quota.as("quota"))
        .orderBy(col("lang"))
    }),

    // Robust anomaly detection: per-type median + MAD (median absolute
    // deviation), flag events beyond 3 MADs. Values quantize to exact
    // milli-units first, so medians land on .0/.5 exactly and the 3·MAD
    // comparison is bit-stable cross-engine (a raw double median would
    // sit one ulp from the oracle's). Three passes over a 5-key table —
    // each a map-side-combinable aggregate.
    "events_anomaly_mad" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), floor(col("value") * 1000).cast("long").as("vq"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(vq, 0.5)").as("med"))
      // materialized once: feeds BOTH the MAD aggregate and the anomaly
      // count (same pattern as text_span_dedup's span index)
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("vq") - col("med")))
        .localCheckpoint(true)
      val mads = dev.groupBy(col("event_type"), col("med"))
        .agg(expr("percentile(dev, 0.5)").as("mad"), count(lit(1)).as("n"))
      dev.join(broadcast(mads.select(col("event_type"), col("mad"))), "event_type")
        .groupBy(col("event_type"))
        .agg(count(when(col("dev") > lit(3) * col("mad"), 1)).as("n_anom"))
        .join(mads, "event_type")
        .select(col("event_type"), col("n"), col("med"), col("mad"), col("n_anom"))
        .orderBy(col("event_type"))
    }),

    // Time-weighted average value per user: each reading holds until the
    // user's next event (lead), weighted by its duration in seconds —
    // the standard irregular-time-series aggregate. Milli-quantized
    // values × integer seconds keep the weighted sum exact; one shuffle
    // by user_id for the window, reused by the aggregate.
    "events_twa" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sws = col("sws")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") * 1000).cast("long").as("vq"))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .where(col("next_ts").isNotNull)
        .withColumn("dur_s", unix_timestamp(col("next_ts")) - unix_timestamp(col("ts")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"), sum(col("dur_s")).as("total_s"),
          sum(col("vq") * col("dur_s")).as("sws"))
        .where(col("total_s") > 0)
        .select(col("user_id"), col("n_intervals"), col("total_s"),
          ((sws - sws % col("total_s")) / col("total_s")).cast("long").as("twa_milli"))
        .orderBy(col("user_id"))
    }),

    // End-to-end curation pipeline: exact-dedup keepers → quality gate →
    // per-language doc cap (deterministic doc_id order) → per-(lang,
    // source) summary. The composition the other corpus_* queries are
    // stages of — windows and aggregates only, no pair generation.
    "corpus_pipeline" -> ((s, dir) => {
      val wDup = Window.partitionBy(md5(col("text")))
      val wCap = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("keeper", min(col("doc_id")).over(wDup))
        .where(col("doc_id") === col("keeper"))
        .where(TA.tokenCount(col("text")).between(20, 1000) &&
               TA.symbolRatio(col("text")) <= 0.1)
        .withColumn("rn", row_number().over(wCap))
        .where(col("rn") <= 80)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text"))).as("n_tokens"))
        .orderBy(col("lang"), col("source"))
    })
  )

  private val toks = toksSql

  val oracle: Map[String, String] = Map(
    // DuckDB's native ASOF JOIN is the oracle for the custom operator
    "q_asof_join_native" ->
      """WITH p AS (
        |  SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts, max(value) AS p_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ets
        |      FROM events WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, p.p_value
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.p_user AND e.ets >= p.p_ts
        |ORDER BY e.event_id""".stripMargin,

    "q_asof_join" ->
      """SELECT event_id, user_id, prev_purchase FROM (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase
        |  FROM events WHERE event_type IN ('error', 'purchase')) t
        |WHERE event_type = 'error' ORDER BY event_id""".stripMargin,

    "q_range_join" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS mon, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY mon ORDER BY mon""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "etl_scd2" ->
      """SELECT user_id, event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  coalesce(strftime(lead(CAST(ts AS TIMESTAMP)) OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id),
        |    '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00') AS valid_to,
        |  CASE WHEN lead(CAST(ts AS TIMESTAMP)) OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
        |    THEN 1 ELSE 0 END AS is_current
        |FROM events ORDER BY user_id, valid_from, event_id""".stripMargin,

    "events_funnel" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) AS first_signup,
        |    max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS last_purchase,
        |    count(*) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users, count(first_signup) AS n_signed,
        |  count(*) FILTER (WHERE first_signup IS NOT NULL
        |    AND last_purchase > first_signup) AS n_converted,
        |  CAST(sum(n_events) AS BIGINT) AS total_events
        |FROM pu""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "F",
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "O",
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_correlated" ->
      """WITH nav AS (
        |  SELECT c_nationkey,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS nation_avg
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c_custkey, c_acctbal, nation_avg
        |FROM customer JOIN nav USING (c_nationkey)
        |WHERE c_acctbal > nation_avg ORDER BY c_custkey""".stripMargin,

    "q_minmax_by" ->
      """SELECT l_returnflag, l_extendedprice AS best_price,
        |  l_orderkey AS best_orderkey, l_linenumber AS best_linenumber
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC) AS rn
        |  FROM lineitem) t
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    "text_ngram_freq" ->
      s"""WITH t AS (SELECT lang, $toks AS toksv FROM documents),
         |bg AS (
         |  SELECT lang, unnest(list_transform(range(1, len(toksv)),
         |    i -> toksv[i] || ' ' || toksv[i+1])) AS s
         |  FROM t),
         |cnt AS (SELECT lang, s, count(*) AS n FROM bg GROUP BY lang, s),
         |rk AS (SELECT lang, s, n,
         |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, s) AS rn FROM cnt)
         |SELECT lang, s, n, CAST(rn AS INTEGER) AS rn FROM rk WHERE rn <= 5
         |ORDER BY lang, rn""".stripMargin,

    "events_retention" ->
      """WITH cur AS (
        |  SELECT DISTINCT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H') AS h,
        |    user_id
        |  FROM events),
        |prv AS (
        |  SELECT DISTINCT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR), '%Y-%m-%d %H') AS ph,
        |    user_id AS pu
        |  FROM events)
        |SELECT h, count(*) AS active, count(pu) AS retained
        |FROM cur LEFT JOIN prv ON h = ph AND user_id = pu
        |GROUP BY h ORDER BY h""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |  count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "mm_chunk_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST((length(text) + 63) // 64 AS BIGINT) AS nch FROM documents),
        |ch AS (
        |  SELECT doc_id, text, unnest(range(0, nch)) AS ci FROM d)
        |SELECT md5(substring(text, CAST(ci * 64 + 1 AS INTEGER), 64)) AS chunk_md5,
        |  count(*) AS n, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper
        |FROM ch GROUP BY chunk_md5 HAVING count(*) > 1 ORDER BY chunk_md5""".stripMargin,

    // chunk-hash SimHash per payload, same bit-vote CTE as dedup_simhash
    "mm_phash_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST((length(text) + 63) // 64 AS BIGINT) AS nch FROM documents),
        |ch AS (
        |  -- inner md5 = the chunk id; outer md5 = simhash16's per-token
        |  -- hash (the kernel hashes each input element itself)
        |  SELECT doc_id, md5(md5(substring(text, CAST(ci * 64 + 1 AS INTEGER), 64))) AS h
        |  FROM (SELECT doc_id, text, unnest(range(0, nch)) AS ci FROM d)),
        |bits AS (
        |  SELECT doc_id, h, j.range AS j,
        |    strpos('0123456789abcdef', substring(h, 1 + CAST(j.range // 4 AS INTEGER), 1)) - 1 AS nib
        |  FROM ch CROSS JOIN range(16) j),
        |votes AS (
        |  SELECT doc_id, j, sum(CASE WHEN (nib >> CAST(j % 4 AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM bits GROUP BY doc_id, j),
        |sh AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1 << CAST(j AS INTEGER) ELSE 0 END) AS BIGINT) AS phash
        |  FROM votes GROUP BY doc_id)
        |SELECT phash, count(*) AS n, min(doc_id) AS keeper
        |FROM sh GROUP BY phash ORDER BY phash""".stripMargin,

    "events_gap_fill" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, value
        |  FROM events WHERE event_type = 'error'),
        |h AS (
        |  SELECT hr, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM e GROUP BY hr),
        |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM e),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b)
        |SELECT strftime(s.hr, '%Y-%m-%d %H:00:00') AS hr,
        |  coalesce(h.n, 0) AS n, coalesce(h.total, 0.0) AS total
        |FROM spine s LEFT JOIN h ON h.hr = s.hr ORDER BY hr""".stripMargin,

    "events_zscore" ->
      """WITH stats AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean,
        |    CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS meansq
        |  FROM events GROUP BY event_type),
        |z AS (
        |  SELECT e.event_type, e.event_id, e.value,
        |    (e.value - s.mean) / sqrt(s.meansq - s.mean * s.mean) AS z
        |  FROM events e JOIN stats s USING (event_type)),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY abs(z) DESC, event_id) AS rn FROM z)
        |SELECT event_type, event_id, value, z, CAST(rn AS INTEGER) AS rn
        |FROM rk WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin,

    "q_sample_stable" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY o_orderkey""".stripMargin,

    "corpus_curate" ->
      s"""WITH k AS (
         |  SELECT doc_id, lang, text,
         |    CAST(len($toks) AS BIGINT) AS n_tok,
         |    CAST(len(list_filter($toks, x -> x IN $stopInSql)) AS DOUBLE)
         |      / len($toks) AS stop_ratio,
         |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |  FROM documents)
         |SELECT doc_id, n_tok FROM k
         |WHERE doc_id = keeper AND lang = 'en'
         |  AND n_tok BETWEEN 5 AND 1000 AND stop_ratio < 0.5
         |ORDER BY doc_id""".stripMargin,

    "corpus_sample_stratified" ->
      """SELECT lang, doc_id, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 50 ORDER BY lang, rn""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin,

    // The salted join must be INVISIBLE in the result: the oracle is the
    // plain unsalted join.
    "q_skew_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_distinct_twophase" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Sketch audits: the oracle checks the DETERMINISTIC columns (exact
    // twins) and asserts the in-query sketch-vs-exact bound held (ok=TRUE
    // — the Spark side computes it from the sketch, so a drifting sketch
    // fails the hash compare).
    "q_approx_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact,
        |  count(*) AS n_rows, TRUE AS ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_approx_quantile" ->
      """SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med_exact,
        |  count(*) AS n, TRUE AS ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // exact twin of the bloom prune; the audited flags are literal TRUE
    "q_bloom_prune" ->
      """WITH u AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_custkey IS NOT NULL)
        |SELECT count(*) AS n_probe, count(u.o_custkey) AS n_members,
        |  TRUE AS ok_no_miss, TRUE AS ok_fp
        |FROM customer LEFT JOIN u ON c_custkey = u.o_custkey""".stripMargin,

    "q_zorder_key" -> {
      val xs = "(o_custkey % 65536)"
      val ys = "(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 65536)"
      val z = graft.ops.Layout.mortonKeySql(xs, ys)
      s"""WITH z AS (SELECT $xs AS x, $ys AS y, $z AS zkey FROM orders)
         |SELECT (zkey >> 20) AS zbucket, count(*) AS n,
         |  min(x) AS min_ck, max(x) AS max_ck, min(y) AS min_dy, max(y) AS max_dy
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin
    },

    "corpus_mix_budget" ->
      s"""WITH t AS (SELECT lang, doc_id, CAST(len($toks) AS BIGINT) AS n_tok FROM documents),
         |c AS (SELECT lang, doc_id, n_tok, sum(n_tok) OVER (
         |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT lang, count(*) AS docs_kept, CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
         |  CAST(CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 4000 ELSE 2500 END AS BIGINT) AS quota
         |FROM c
         |WHERE cum <= CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 4000 ELSE 2500 END
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "events_path" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n
        |FROM t WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY n DESC, from_type, to_type""".stripMargin,

    "etl_watermark" ->
      """SELECT event_type, count(*) AS n_new,
        |  strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS new_watermark
        |FROM events WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // quantile_cont = Spark's exact `percentile` (linear interpolation at
    // (n-1)·q); milli-quantized inputs keep every median on .0/.5 exactly
    "events_anomaly_mad" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vq FROM events),
        |m AS (SELECT event_type, quantile_cont(vq, 0.5) AS med FROM e GROUP BY event_type),
        |d AS (SELECT e.event_type, abs(vq - med) AS dev, med
        |      FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, med, quantile_cont(dev, 0.5) AS mad, count(*) AS n
        |       FROM d GROUP BY event_type, med)
        |SELECT md.event_type, CAST(max(md.n) AS BIGINT) AS n, max(md.med) AS med,
        |  max(md.mad) AS mad,
        |  CAST(count(CASE WHEN d.dev > 3 * md.mad THEN 1 END) AS BIGINT) AS n_anom
        |FROM d JOIN md USING (event_type)
        |GROUP BY md.event_type ORDER BY md.event_type""".stripMargin,

    "events_twa" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vq
        |  FROM events),
        |iv AS (
        |  -- floor each epoch BEFORE differencing: Spark's unix_timestamp
        |  -- truncates per-timestamp; epoch() carries the fraction
        |  SELECT user_id, vq,
        |    CAST(floor(epoch(lead(ts) OVER w)) - floor(epoch(ts)) AS BIGINT) AS dur_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, count(*) AS n_intervals,
        |    CAST(sum(dur_s) AS BIGINT) AS total_s,
        |    CAST(sum(vq * dur_s) AS BIGINT) AS sws
        |  FROM iv WHERE dur_s IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_intervals, total_s,
        |  CAST(sws // total_s AS BIGINT) AS twa_milli
        |FROM g WHERE total_s > 0 ORDER BY user_id""".stripMargin,

    "corpus_pipeline" -> {
      s"""WITH t AS (
         |  SELECT doc_id, lang, source, text, $toks AS toks,
         |    min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, lang, source, CAST(len(toks) AS BIGINT) AS n_tok
         |  FROM t
         |  WHERE doc_id = keeper
         |    AND len(toks) BETWEEN 20 AND 1000
         |    AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |        / length(text) <= 0.1),
         |capped AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn FROM q)
         |SELECT lang, source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM capped WHERE rn <= 80
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin
    }
  )
}
