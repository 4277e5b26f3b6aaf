package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.ops.{TextAnalysis => TA, Dedup}

/** Round-9 additions: weighted quantiles, Pareto frontier, Hamming-band
  * SimHash dedup, and token-budget shard packing — each in the
  * two-phase / pigeonhole shapes that survive a 100× scale-up (no global
  * unpartitioned windows over row-proportional sets, no distance scans).
  */
object Round9 extends Module {

  val queries: Map[String, Q] = Map(

    // Weighted median (P50 of price weighted by quantity) per return
    // flag — the weighted-quantile shape feature stores need. Built on
    // the TWO-PHASE cumulative weight (per-(group, value-block) partial
    // sums + broadcast prefix offsets, the q_percent_rank pattern), so
    // no window ever sorts a whole group's rows in one task. The median
    // is min value v with 2·W(≤v) ≥ W_total — picking min(v) over
    // qualifying ROWS is tiebreak-independent because a value's max-cum
    // row qualifies iff 2·W(≤v) ≥ tot.
    "q_weighted_percentile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("rf"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_quantity")).cast("long").as("w"),
        col("l_orderkey"), col("l_linenumber"))
        .withColumn("blk", expr("cents div 100000"))
      // feeds offsets AND group totals — both consumers sit in the one
      // final action, so the aggregate's exchange is AQE-reused there;
      // an eager checkpoint would serialize an extra job for a frame
      // whose two readers already share the shuffle (r17)
      val grp = li.groupBy(col("rf"), col("blk"))
        .agg(sum(col("w")).as("bw"))
      val wB = Window.partitionBy(col("rf")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = grp.withColumn("off", coalesce(sum(col("bw")).over(wB), lit(0L)))
        .select(col("rf"), col("blk"), col("off"))
      val tot = grp.groupBy(col("rf")).agg(sum(col("bw")).as("tot"))
      val wIn = Window.partitionBy(col("rf"), col("blk"))
        .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.join(broadcast(offs), Seq("rf", "blk"))
        .withColumn("cum", col("off") + sum(col("w")).over(wIn))
        .join(broadcast(tot), Seq("rf"))
        .groupBy(col("rf"))
        .agg(count(lit(1)).as("n_items"), max(col("tot")).as("total_w"),
          min(when(col("cum") * 2 >= col("tot"), col("cents"))).as("median_cents"))
        .orderBy(col("rf"))
    }),

    // 2-D Pareto frontier (skyline): orders minimizing (price, date) —
    // the points no other order beats on both axes. Group to one row per
    // distinct price first (min date per cents), then a TWO-PHASE
    // strict-prefix min over the cents ordering (per-block min + bounded
    // window over blocks + within-block prefix): the frontier test
    // `mind < min(mind | cents' < cents)` without a global window over
    // all distinct prices. Dates are integer epoch-days
    // (engine-portable); ties on both axes are kept (neither dominates).
    "q_skyline" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
        .localCheckpoint(true) // scanned by the frontier AND the point-count join
      val g = o.groupBy(col("cents")).agg(min(col("d")).as("mind"))
        .withColumn("blk", expr("cents div 1000000"))
      val bmin = g.groupBy(col("blk")).agg(min(col("mind")).as("bm"))
      val wB = Window.orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1) // over blocks: bounded
      val boff = bmin.withColumn("pmB", min(col("bm")).over(wB))
        .select(col("blk"), col("pmB"))
      val wIn = Window.partitionBy(col("blk")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = g.join(broadcast(boff), Seq("blk"))
        .withColumn("pmIn", min(col("mind")).over(wIn))
        .withColumn("pmin", least(col("pmB"), col("pmIn"))) // least skips nulls
        .where(col("pmin").isNull || col("mind") < col("pmin"))
        .select(col("cents"), col("mind"))
      frontier.join(o, frontier("cents") === o("cents") && o("d") === frontier("mind"))
        .groupBy(frontier("cents"), col("mind").as("day_epoch"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("cents"))
    }),

    // SimHash near-dup PAIRS at Hamming distance ≤ 3 — what the
    // equality-bucket dedup_simhash can't see (one flipped bit = missed
    // pair). Band pigeonhole over the 64-bit fingerprint: 4 disjoint
    // 16-bit bands, ≤3 flips leave ≥1 band identical, so candidates come
    // from 4 capped equality self-joins and are verified with an exact
    // popcount. See graft.ops.Dedup.simhashHammingPairs.
    "dedup_simhash_hamming" -> ((s, dir) =>
      Dedup.simhashHammingPairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("a"), col("b"))),

    // Token-budget shard packing: docs in doc_id order packed greedily
    // into fixed 20k-token shards (shard = tokens-before-doc div budget)
    // — the "write the corpus as N-token training shards" step. The
    // global prefix sum is TWO-PHASE (per-block partials + broadcast
    // offsets + within-block running sum); output is one row per shard,
    // ∝ corpus tokens / budget, never per doc.
    "corpus_pack_budget" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        col("doc_id"), TA.tokenCount(col("text")).as("nt"))
        .withColumn("blk", expr("doc_id div 256"))
      val grp = d.groupBy(col("blk")).agg(sum(col("nt")).as("bn"))
      val wB = Window.orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1) // over blocks: bounded
      val offs = grp.withColumn("off", coalesce(sum(col("bn")).over(wB), lit(0L)))
        .select(col("blk"), col("off"))
      val wIn = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.join(broadcast(offs), Seq("blk"))
        .withColumn("prev",
          col("off") + coalesce(sum(col("nt")).over(wIn), lit(0L)))
        .withColumn("shard", expr("prev div 20000"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"))
    }),

    // Lag-{1,7} autocorrelation INGREDIENTS of the daily event series —
    // exact integer moment sums (n, Σx, Σy, Σxy, Σx², Σy²) from which a
    // client derives Pearson r; no double ever crosses the engine
    // boundary. The lag join runs over the daily ROLLUP (bounded by the
    // time range, never event-sized) keyed on epoch-day equality.
    "events_autocorr" -> ((s, dir) => {
      import s.implicits._
      val d = Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // both sides of the lag join
      val lags = Seq(1L, 7L).toDF("lg")
      val y = d.select(col("d").as("dy"), col("n").as("y"))
      d.select(col("d"), col("n").as("x"))
        .crossJoin(broadcast(lags))
        .join(y, col("dy") === col("d") + col("lg"))
        .groupBy(col("lg"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"),
          sum(col("y") * col("y")).as("sum_y2"))
        .orderBy(col("lg"))
    }),

    // Changepoint scan over the daily series: for every split day, the
    // cross-multiplied before/after mean difference
    // |n_b·Σ_a − n_a·Σ_b| (integer, no division) — the CUSUM-style
    // level-shift score. Prefix sums ride a window over the bounded day
    // spine; totals broadcast from a 1-row aggregate.
    "events_changepoint" -> ((s, dir) => {
      val d = Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // feeds the prefix window AND the totals
      val w = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = d.agg(sum(col("n")).as("tot_n"), count(lit(1)).as("tot_c"))
      d.withColumn("sum_before", sum(col("n")).over(w))
        .withColumn("n_before", count(lit(1)).over(w))
        .crossJoin(broadcast(tot))
        .withColumn("n_after", col("tot_c") - col("n_before"))
        .withColumn("sum_after", col("tot_n") - col("sum_before"))
        .where(col("n_after") > 0)
        .select(col("d").as("day_epoch"), col("n_before"), col("sum_before"),
          col("n_after"), col("sum_after"),
          abs(col("n_before") * col("sum_after") -
            col("n_after") * col("sum_before")).as("score"))
        .orderBy(col("day_epoch"))
    }),

    // Readability banding: vowels-per-word and words-per-"sentence" in
    // integer basis points (the Flesch ingredients without its float
    // constants), banded and rolled up — a per-row kernel + keyed agg,
    // the ideal 100 TB shape.
    "text_readability_bands" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        TA.tokenCount(col("text")).as("w"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.!?]", ""))).cast("long").as("sents"),
        length(regexp_replace(lower(col("text")), "[^aeiou]", ""))
          .cast("long").as("vowels"))
        .withColumn("wps_bp", expr("(w * 10000) div greatest(sents, 1L)"))
        .withColumn("vpw_bp", expr("(vowels * 10000) div greatest(w, 1L)"))
      d.groupBy(expr("vpw_bp div 1000").as("band"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_words"),
          sum(col("wps_bp")).as("sum_wps_bp"),
          min(col("vpw_bp")).as("min_vpw_bp"), max(col("vpw_bp")).as("max_vpw_bp"))
        .orderBy(col("band"))
    }),

    // Source-interleave fairness audit: position-within-source via the
    // TWO-PHASE rank (per-(source, doc-block) counts + broadcast
    // offsets + within-block row_number — no source-sized window
    // partition), then per 50-position stripe × source counts. Equal
    // per-stripe counts until a source exhausts = a fair round-robin
    // training order.
    "corpus_interleave_plan" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .withColumn("blk", expr("doc_id div 256"))
      val grp = d.groupBy(col("source"), col("blk")).agg(count(lit(1)).as("bn"))
      val wB = Window.partitionBy(col("source")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1) // over blocks: bounded
      val offs = grp.withColumn("off", coalesce(sum(col("bn")).over(wB), lit(0L)))
        .select(col("source"), col("blk"), col("off"))
      val wIn = Window.partitionBy(col("source"), col("blk")).orderBy(col("doc_id"))
      d.join(broadcast(offs), Seq("source", "blk"))
        .withColumn("pos", col("off") + row_number().over(wIn) - 1)
        .groupBy(expr("pos div 50").as("pos_blk"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("pos_blk"), col("source"))
    }),

    // TTL retention-policy audit: per event type, how many rows a sweep
    // with per-type TTLs (errors 30 d, views/clicks 90 d, else 365 d)
    // would expire, anchored at the corpus max timestamp. Millisecond
    // epoch comparison (unix_millis ↔ epoch_ms — both truncate µs), so
    // the expiry predicate is engine-exact.
    "etl_ttl_sweep" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("ts").isNotNull)
      val ref = ev.agg(max(unix_millis(col("ts"))).as("ref"))
      ev.crossJoin(broadcast(ref))
        .withColumn("ttl_days",
          when(col("event_type") === "error", lit(30L))
            .when(col("event_type").isin("view", "click"), lit(90L))
            .otherwise(lit(365L)))
        .withColumn("expired",
          (unix_millis(col("ts")) < col("ref") - col("ttl_days") * 86400000L)
            .cast("long"))
        .groupBy(col("event_type"), col("ttl_days"))
        .agg(count(lit(1)).as("n_total"), sum(col("expired")).as("n_expired"),
          (count(lit(1)) - sum(col("expired"))).as("n_retained"),
          min(when(col("expired") === 0,
            date_format(col("ts"), "yyyy-MM-dd"))).as("oldest_retained"))
        .orderBy(col("event_type"))
    }),

    // Event-type audience overlap as a BITMASK HISTOGRAM: each user
    // folds to one bit_or'd mask (alphabetical bit order), masks roll up
    // to ≤ 2⁵−1 rows — the full inclusion/exclusion overlap matrix for
    // any type subset is derivable client-side from this bounded table,
    // with no pairwise user-set self-joins anywhere.
    "events_type_overlap" -> ((s, dir) => {
      val bit = when(col("event_type") === "click", 1L)
        .when(col("event_type") === "error", 2L)
        .when(col("event_type") === "purchase", 4L)
        .when(col("event_type") === "signup", 8L)
        .when(col("event_type") === "view", 16L).otherwise(0L)
      Tables.events(s, dir).where(col("user_id").isNotNull)
        .select(col("user_id"), bit.as("bit"))
        .groupBy(col("user_id")).agg(expr("bit_or(bit)").as("mask"))
        .groupBy(col("mask"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("mask"), bit_count(col("mask")).cast("long").as("n_types"),
          col("n_users"))
        .orderBy(col("mask"))
    }),

    // Integer EWMA over the last 8 OBSERVED days (weights 2⁷…2⁰ —
    // halving decay with an exact dyadic numerator/denominator; the
    // emitted ewma_milli is truncating integer division). Eight lag()
    // taps over the bounded day spine; missing history shortens the
    // window (den shrinks to the observed weights), so early days are
    // well-defined without NULL arithmetic.
    "events_ewma" -> ((s, dir) => {
      val d = Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("d"))
      val taps = (0 to 7).map { i =>
        val weight = 1L << (7 - i)
        val x = if (i == 0) col("n") else lag(col("n"), i).over(w)
        (when(x.isNotNull, x * weight).otherwise(lit(0L)),
          when(x.isNotNull, lit(weight)).otherwise(lit(0L)))
      }
      d.withColumn("num", taps.map(_._1).reduce(_ + _))
        .withColumn("den", taps.map(_._2).reduce(_ + _))
        .select(col("d").as("day_epoch"), col("n"), col("num"), col("den"),
          expr("(num * 1000) div den").as("ewma_milli"))
        .orderBy(col("day_epoch"))
    }),

    // Exact covariance INGREDIENTS of the embedding space: Σ xᵢ·xⱼ over
    // the milli-quantized components for every dimension pair i ≤ j
    // (2080 cells) — the Gram/covariance input to whitening or OPQ
    // rotation fit. The cells are the shared GramShared triangle (ONE
    // corpus pass per session serves the whole second-moment family);
    // this entry is a projection + sort of that 2080-row pinned frame.
    "sim_cov_moments" -> ((s, dir) =>
      GramShared.gram(s, dir)
        .select(col("d1"), col("d2"), col("n"), col("sum_xy"))
        .orderBy(col("d1"), col("d2"))),

    // TPC-H Q7 shape: bilateral trade volume — revenue between every
    // (supplier nation, customer nation) pair by ship year. Fact-side
    // shuffle join lineitem⋈orders; supplier and both nation legs
    // broadcast; customer is left to AQE (broadcast at test SF, shuffle
    // at 100 TB — the plan adapts, the declaration doesn't change).
    "q7_trade_volume" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("yr"),
        col("l_extendedprice"), col("l_discount"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("c_nk"))
      val su = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("s_nk"))
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), Seq("s_nk")).join(broadcast(n2), Seq("c_nk"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("yr"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
    }),

    // TPC-H Q8 shape: market share per (order year, supplier nation) in
    // integer basis points. Revenue accumulates as EXACT integer
    // micro-cents (price_cents · (100 − disc_bp): both factors are
    // exact 2-dp decimals, so no float product ever rounds), then
    // truncates to cents BEFORE the share division — identical
    // truncation order on both engines, and the ×10000 numerator stays
    // far inside LONG at any scale. Yearly totals re-aggregate the
    // nation rollup (bounded), never the fact table twice.
    "q8_market_share" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_micro"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("yr"))
      val su = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("s_nk"))
      val n = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
      val nat = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), Seq("s_nk"))
        .groupBy(col("yr"), col("nation"))
        .agg(count(lit(1)).as("n_items"),
          expr("sum(rev_micro) div 100").as("nat_cents"))
      // yearly totals via a window over the BOUNDED nation rollup
      // (≤ nations rows per year) — one fact pass, no second aggregate
      nat.withColumn("tot_cents",
          sum(col("nat_cents")).over(Window.partitionBy(col("yr"))))
        .select(col("yr"), col("nation"), col("n_items"), col("nat_cents"),
          expr("(nat_cents * 10000) div tot_cents").as("share_bp"))
        .orderBy(col("yr"), col("nation"))
    }),

    // Weekday-baseline anomaly: a day is HIGH when its count beats 1.5×
    // its own weekday's mean, LOW when it drops below half — the
    // seasonality-adjusted complement of the IQR/MAD fences (a quiet
    // Sunday is normal; a Sunday at Tuesday volume is not). Weekday is
    // engine-free arithmetic on the epoch day ((d+4) mod 7; day 0 was a
    // Thursday), and both tests are integer cross-multiplications
    // against the per-dow (sum, count) rolled up from the bounded day
    // spine.
    "events_dow_anomaly" -> ((s, dir) => {
      val d = Tables.events(s, dir).where(col("ts").isNotNull)
        .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", expr("(d + 4) % 7"))
      val w = Window.partitionBy(col("dow")) // ≤ 7 partitions of the day spine
      d.withColumn("dow_sum", sum(col("n")).over(w))
        .withColumn("dow_cnt", count(lit(1)).over(w))
        .select(col("d").as("day_epoch"), col("n"), col("dow"),
          col("dow_sum"), col("dow_cnt"),
          when(col("n") * col("dow_cnt") * 2 > col("dow_sum") * 3, 1L)
            .otherwise(0L).as("hi_flag"),
          when(col("n") * col("dow_cnt") * 2 < col("dow_sum"), 1L)
            .otherwise(0L).as("lo_flag"))
        .orderBy(col("day_epoch"))
    }),

    // Integer LM surprisal: per-bigram bits = floor(log2 c(w1·)) −
    // floor(log2 c(w1w2)) ≈ log2(1/p) within 1 bit, computed as
    // length(bin(n)) differences — EXACT integers, so the
    // perplexity-proxy histogram is engine-stable where a float log
    // never is. Corpus counts are keyed rollups; the occurrence⋈count
    // joins shuffle on token keys (the inverted-index shape).
    "text_surprisal_bits" -> ((s, dir) => {
      // one per-(doc, bigram) pre-aggregate feeds BOTH the count model
      // and the scoring join; joins ride 64-bit hashes, not bigram
      // strings (the shingle-postings convention — collision odds are
      // ~|vocab|²/2⁶⁵, the accepted trade everywhere else in Dedup)
      val occ = Tables.documents(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(TA.shinglesOf(col("toks"), 2)).as("bg"))
        .groupBy(col("doc_id"), xxhash64(col("bg")).as("bh"),
          xxhash64(split(col("bg"), " ").getItem(0)).as("w1h"))
        .agg(count(lit(1)).as("k"))
        .localCheckpoint(true)
      val c2 = occ.groupBy(col("bh"), col("w1h")).agg(sum(col("k")).as("n2"))
      val c1 = c2.groupBy(col("w1h")).agg(sum(col("n2")).as("n1"))
      val model = c2.join(c1, Seq("w1h")).select(col("bh"), col("n2"), col("n1"))
      val perDoc = occ.join(model, Seq("bh"))
        .select(col("doc_id"), col("k"),
          ((length(bin(col("n1"))) - length(bin(col("n2")))).cast("long") *
            col("k")).as("bits"))
        .groupBy(col("doc_id"))
        .agg(sum(col("bits")).as("sum_bits"), sum(col("k")).as("nb"))
      perDoc.groupBy(expr("sum_bits div nb").as("band"))
        .agg(count(lit(1)).as("n_docs"), sum(col("sum_bits")).as("sum_bits"),
          sum(col("nb")).as("sum_bigrams"))
        .orderBy(col("band"))
    }),

    // Source-priority exact-dedup policy: duplicate groups keep the copy
    // from the lexicographically-least source (doc_id tiebreak) instead
    // of the global min-id — the "prefer curated feeds over crawl"
    // keeper rule. Emits the per-source win/drop ledger (≤ sources
    // rows): one md5 groupBy + a struct-min, no window over the corpus.
    "dedup_priority_keeper" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .localCheckpoint(true) // feeds the keeper pick AND the drop ledger
      val g = d.groupBy(col("h"))
        .agg(count(lit(1)).as("n"),
          min(struct(col("source"), col("doc_id"))).as("k"))
        .where(col("n") > 1)
        .select(col("h"), col("k.source").as("ksrc"), col("k.doc_id").as("kid"))
        .localCheckpoint(true) // dup-group set is ≪ corpus
      val wins = g.groupBy(col("ksrc").as("source"))
        .agg(count(lit(1)).as("n_wins"))
      val drops = d.join(g, Seq("h"))
        .where(col("doc_id") =!= col("kid"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_dropped"))
      wins.join(drops, Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("n_wins"), lit(0L)).as("n_wins"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy(col("source"))
    }),

    // Sequence packing WITH splitting: tokens stream contiguously into
    // fixed 20k shards and a doc may straddle the boundary (the real
    // training-shard writer, vs corpus_pack_budget's whole-doc greedy).
    // Prefix sums are the two-phase shape; each doc explodes into only
    // the shards its span touches (fan-out ≤ 1 + nt/20000), and the
    // per-shard token total must land exactly at the budget for every
    // non-final shard — an in-query conservation audit.
    "corpus_pack_split" -> ((s, dir) => {
      val B = 20000L
      val d = Tables.documents(s, dir).select(
        col("doc_id"), TA.tokenCount(col("text")).as("nt"))
        .withColumn("blk", expr("doc_id div 256"))
      val grp = d.groupBy(col("blk")).agg(sum(col("nt")).as("bn"))
      val wB = Window.orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1) // over blocks: bounded
      val offs = grp.withColumn("off", coalesce(sum(col("bn")).over(wB), lit(0L)))
        .select(col("blk"), col("off"))
      val wIn = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      d.join(broadcast(offs), Seq("blk"))
        .withColumn("prev",
          col("off") + coalesce(sum(col("nt")).over(wIn), lit(0L)))
        .where(col("nt") > 0)
        .withColumn("s0", expr(s"prev div $B"))
        .withColumn("s1", expr(s"(prev + nt - 1) div $B"))
        .select(col("doc_id"), col("nt"), col("prev"), col("s0"),
          explode(sequence(col("s0"), col("s1"))).as("shard"))
        .withColumn("contrib",
          least(col("prev") + col("nt"), (col("shard") + 1) * B) -
            greatest(col("prev"), col("shard") * B))
        .groupBy(col("shard"))
        .agg(sum(when(col("s0") === col("shard"), 1L).otherwise(0L)).as("n_started"),
          sum(when(col("s0") < col("shard"), 1L).otherwise(0L)).as("n_carried_in"),
          sum(col("contrib")).as("n_tokens"))
        .orderBy(col("shard"))
    }),

    // Deterministic quality-WEIGHTED sampling: each doc's keep-rate in
    // basis points derives from integer quality signals (stopword share
    // capped at 4000 bp + 4000 bp for sane length + 2000 bp floor), and
    // the doc keeps iff its md5 draw (4 hex digits mod 10⁴) lands under
    // the rate — the reproducible "sample better data more" policy
    // (quality-proportional mixing). Pure per-row kernel + per-source
    // rollup.
    "corpus_quality_sample" -> ((s, dir) => {
      val nt = TA.tokenCount(col("text"))
      val stopBp = expr("(n_stop * 10000) div greatest(n_tok, 1L)")
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), nt.as("n_tok"),
        TA.stopwordCount(col("text")).as("n_stop"))
        .withColumn("keep_bp",
          lit(2000L) + least(stopBp, lit(4000L)) +
            when(col("n_tok").between(5, 1000), lit(4000L)).otherwise(lit(0L)))
        .withColumn("draw_bp",
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long"), lit(10000L)))
        .withColumn("kept", when(col("draw_bp") < col("keep_bp"), 1L).otherwise(0L))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("kept")).as("n_kept"),
          sum(when(col("kept") === 1, col("n_tok")).otherwise(0L)).as("kept_tokens"),
          expr("(sum(kept) * 10000) div count(1)").as("keep_share_bp"))
        .orderBy(col("source"))
    }),
  )

  val oracle: Map[String, String] = Map(

    "q_weighted_percentile" ->
      """WITH li AS (
        |  SELECT l_returnflag AS rf,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_quantity) AS BIGINT) AS w, l_orderkey, l_linenumber
        |  FROM lineitem),
        |c AS (SELECT rf, cents, w,
        |  sum(w) OVER (PARTITION BY rf ORDER BY cents, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(w) OVER (PARTITION BY rf) AS tot
        |  FROM li)
        |SELECT rf, count(*) AS n_items, CAST(max(tot) AS BIGINT) AS total_w,
        |  CAST(min(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT)
        |    AS median_cents
        |FROM c GROUP BY rf ORDER BY rf""".stripMargin,

    "q_skyline" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM orders),
        |g AS (SELECT cents, min(d) AS mind FROM o GROUP BY cents),
        |p AS (SELECT cents, mind, min(mind) OVER (ORDER BY cents
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin FROM g),
        |f AS (SELECT cents, mind FROM p WHERE pmin IS NULL OR mind < pmin)
        |SELECT f.cents, f.mind AS day_epoch, count(*) AS n_orders
        |FROM f JOIN o ON o.cents = f.cents AND o.d = f.mind
        |GROUP BY f.cents, f.mind ORDER BY f.cents""".stripMargin,

    // Same md5 nibble-vote SimHash as the dedup_simhash oracle, extended
    // to 64 bits (first 16 hex digits); bit 63 assembles through HUGEINT
    // with an explicit signed-64 wrap (1::BIGINT << 63 overflows).
    // Arithmetic >> on negative BIGINT matches Java's sign-extending
    // shift (verified), so band keys agree bit-for-bit.
    "dedup_simhash_hamming" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, md5(unnest($toksSql)) AS h FROM documents),
         |bits AS (
         |  SELECT doc, h, j.range AS j,
         |    strpos('0123456789abcdef', substring(h, 1 + CAST(j.range // 4 AS INTEGER), 1)) - 1 AS nib
         |  FROM tok CROSS JOIN range(64) j),
         |votes AS (
         |  SELECT doc, j, sum(CASE WHEN (nib >> CAST(j % 4 AS INTEGER)) % 2 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM bits GROUP BY doc, j),
         |raw AS (
         |  SELECT doc, sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << CAST(j AS INTEGER) ELSE 0 END) AS s
         |  FROM votes GROUP BY doc),
         |sh AS (
         |  SELECT doc, CAST(CASE WHEN s >= 9223372036854775808 THEN s - 18446744073709551616
         |    ELSE s END AS BIGINT) AS fp FROM raw),
         |bands AS (
         |  SELECT doc, fp, b.range AS band,
         |    (fp >> CAST(16 * b.range AS INTEGER)) & 65535 AS key
         |  FROM sh CROSS JOIN range(4) b),
         |occ AS (SELECT band, key, count(*) AS m FROM bands GROUP BY band, key),
         |kept AS (
         |  SELECT b.doc, b.fp, b.band, b.key FROM bands b
         |  JOIN occ USING (band, key) WHERE occ.m <= 200),
         |cand AS (
         |  SELECT DISTINCT l.doc AS a, r.doc AS b, l.fp AS fa, r.fp AS fb
         |  FROM kept l JOIN kept r ON l.band = r.band AND l.key = r.key
         |  WHERE l.doc < r.doc)
         |SELECT a, b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(fa, fb)) <= 3 ORDER BY a, b""".stripMargin,

    "corpus_pack_budget" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
         |c AS (SELECT doc_id, nt,
         |  COALESCE(sum(nt) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM d)
         |SELECT CAST(prev // 20000 AS BIGINT) AS shard, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_autocorr" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |l AS (SELECT CAST(lg AS BIGINT) AS lg
        |      FROM (VALUES (1), (7)) t(lg)),
        |p AS (SELECT l.lg, a.n AS x, b.n AS y
        |      FROM daily a CROSS JOIN l JOIN daily b ON b.d = a.d + l.lg)
        |SELECT lg, count(*) AS n_pairs,
        |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |  CAST(sum(x * x) AS BIGINT) AS sum_x2,
        |  CAST(sum(y * y) AS BIGINT) AS sum_y2
        |FROM p GROUP BY lg ORDER BY lg""".stripMargin,

    "events_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |pre AS (SELECT d, n,
        |  sum(n) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_before,
        |  count(*) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_before
        |  FROM daily),
        |tot AS (SELECT sum(n) AS tot_n, count(*) AS tot_c FROM daily)
        |SELECT d AS day_epoch, n_before,
        |  CAST(sum_before AS BIGINT) AS sum_before,
        |  tot_c - n_before AS n_after,
        |  CAST(tot_n - sum_before AS BIGINT) AS sum_after,
        |  CAST(abs(n_before * (tot_n - sum_before) -
        |    (tot_c - n_before) * sum_before) AS BIGINT) AS score
        |FROM pre, tot WHERE tot_c - n_before > 0 ORDER BY day_epoch""".stripMargin,

    "text_readability_bands" ->
      s"""WITH d AS (
         |  SELECT CAST(len($toksSql) AS BIGINT) AS w,
         |    CAST(length(text) -
         |      length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT) AS sents,
         |    CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
         |      AS BIGINT) AS vowels
         |  FROM documents),
         |r AS (SELECT w,
         |  (w * 10000) // greatest(sents, 1) AS wps_bp,
         |  (vowels * 10000) // greatest(w, 1) AS vpw_bp FROM d)
         |SELECT vpw_bp // 1000 AS band, count(*) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS sum_words,
         |  CAST(sum(wps_bp) AS BIGINT) AS sum_wps_bp,
         |  min(vpw_bp) AS min_vpw_bp, max(vpw_bp) AS max_vpw_bp
         |FROM r GROUP BY 1 ORDER BY band""".stripMargin,

    "corpus_interleave_plan" ->
      """WITH p AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS pos
        |  FROM documents)
        |SELECT pos // 50 AS pos_blk, source, count(*) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY 1, 2 ORDER BY pos_blk, source""".stripMargin,

    "etl_ttl_sweep" ->
      """WITH r AS (SELECT max(epoch_ms(CAST(ts AS TIMESTAMP))) AS ref
        |           FROM events WHERE ts IS NOT NULL),
        |e AS (SELECT event_type, ts, epoch_ms(CAST(ts AS TIMESTAMP)) AS ems,
        |  CAST(CASE WHEN event_type = 'error' THEN 30
        |       WHEN event_type IN ('view', 'click') THEN 90
        |       ELSE 365 END AS BIGINT) AS ttl_days
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type, ttl_days, count(*) AS n_total,
        |  CAST(sum(CASE WHEN ems < r.ref - ttl_days * 86400000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_expired,
        |  CAST(count(*) - sum(CASE WHEN ems < r.ref - ttl_days * 86400000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  min(CASE WHEN ems >= r.ref - ttl_days * 86400000
        |    THEN strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') END) AS oldest_retained
        |FROM e, r GROUP BY event_type, ttl_days ORDER BY event_type""".stripMargin,

    "events_type_overlap" ->
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
        |      WHEN 'view' THEN 16 ELSE 0 END AS BIGINT) AS bit
        |  FROM events WHERE user_id IS NOT NULL),
        |m AS (SELECT user_id, bit_or(bit) AS mask FROM b GROUP BY user_id)
        |SELECT mask, CAST(bit_count(mask) AS BIGINT) AS n_types,
        |  count(*) AS n_users
        |FROM m GROUP BY mask ORDER BY mask""".stripMargin,

    "events_ewma" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (SELECT d, n,
        |  lag(n, 1) OVER w AS n1, lag(n, 2) OVER w AS n2,
        |  lag(n, 3) OVER w AS n3, lag(n, 4) OVER w AS n4,
        |  lag(n, 5) OVER w AS n5, lag(n, 6) OVER w AS n6,
        |  lag(n, 7) OVER w AS n7
        |  FROM daily WINDOW w AS (ORDER BY d)),
        |e AS (SELECT d, n,
        |  n * 128 + coalesce(n1, 0) * 64 + coalesce(n2, 0) * 32 +
        |  coalesce(n3, 0) * 16 + coalesce(n4, 0) * 8 + coalesce(n5, 0) * 4 +
        |  coalesce(n6, 0) * 2 + coalesce(n7, 0) AS num,
        |  128 + CASE WHEN n1 IS NULL THEN 0 ELSE 64 END +
        |  CASE WHEN n2 IS NULL THEN 0 ELSE 32 END +
        |  CASE WHEN n3 IS NULL THEN 0 ELSE 16 END +
        |  CASE WHEN n4 IS NULL THEN 0 ELSE 8 END +
        |  CASE WHEN n5 IS NULL THEN 0 ELSE 4 END +
        |  CASE WHEN n6 IS NULL THEN 0 ELSE 2 END +
        |  CASE WHEN n7 IS NULL THEN 0 ELSE 1 END AS den
        |  FROM t)
        |SELECT d AS day_epoch, n, CAST(num AS BIGINT) AS num,
        |  CAST(den AS BIGINT) AS den,
        |  CAST((num * 1000) // den AS BIGINT) AS ewma_milli
        |FROM e ORDER BY day_epoch""".stripMargin,

    "sim_cov_moments" ->
      """WITH mil AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 3) AS DECIMAL(7,3)) * 1000 AS BIGINT)) AS mq
        |  FROM embeddings),
        |p AS (
        |  SELECT CAST(i.range AS BIGINT) AS d1, CAST(j.range AS BIGINT) AS d2,
        |    mq[CAST(i.range AS INTEGER) + 1] * mq[CAST(j.range AS INTEGER) + 1] AS xy
        |  FROM mil CROSS JOIN range(64) i CROSS JOIN range(64) j
        |  WHERE j.range >= i.range)
        |SELECT d1, d2, count(*) AS n, CAST(sum(xy) AS BIGINT) AS sum_xy
        |FROM p GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin,

    "q7_trade_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS yr, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, yr""".stripMargin,

    "q8_market_share" ->
      """WITH f AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, n_name AS nation,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_micro
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey),
        |nat AS (
        |  SELECT yr, nation, count(*) AS n_items,
        |    CAST(sum(rev_micro) AS BIGINT) // 100 AS nat_cents
        |  FROM f GROUP BY yr, nation),
        |tot AS (SELECT yr, CAST(sum(nat_cents) AS BIGINT) AS tot_cents
        |        FROM nat GROUP BY yr)
        |SELECT n.yr, n.nation, n.n_items, n.nat_cents,
        |  (n.nat_cents * 10000) // t.tot_cents AS share_bp
        |FROM nat n JOIN tot t ON n.yr = t.yr
        |ORDER BY n.yr, n.nation""".stripMargin,

    "events_dow_anomaly" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (SELECT d, n, (d + 4) % 7 AS dow FROM daily),
        |g AS (SELECT dow, CAST(sum(n) AS BIGINT) AS dow_sum,
        |      count(*) AS dow_cnt FROM t GROUP BY dow)
        |SELECT t.d AS day_epoch, t.n, t.dow, g.dow_sum, g.dow_cnt,
        |  CAST(CASE WHEN t.n * g.dow_cnt * 2 > g.dow_sum * 3 THEN 1 ELSE 0 END
        |    AS BIGINT) AS hi_flag,
        |  CAST(CASE WHEN t.n * g.dow_cnt * 2 < g.dow_sum THEN 1 ELSE 0 END
        |    AS BIGINT) AS lo_flag
        |FROM t JOIN g USING (dow) ORDER BY day_epoch""".stripMargin,

    "text_surprisal_bits" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toksv FROM documents),
         |occ AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(toksv)),
         |    i -> toksv[i] || ' ' || toksv[i+1])) AS bg
         |  FROM t),
         |o2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM occ),
         |c2 AS (SELECT bg, count(*) AS n2 FROM occ GROUP BY bg),
         |c1 AS (SELECT string_split(bg, ' ')[1] AS w1,
         |       CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
         |sc AS (
         |  SELECT doc_id,
         |    CAST(length(bin(n1)) - length(bin(n2)) AS BIGINT) AS bits
         |  FROM o2 JOIN c2 USING (bg) JOIN c1 USING (w1)),
         |d AS (SELECT doc_id, CAST(sum(bits) AS BIGINT) AS sum_bits,
         |      count(*) AS nb FROM sc GROUP BY doc_id)
         |SELECT sum_bits // nb AS band, count(*) AS n_docs,
         |  CAST(sum(sum_bits) AS BIGINT) AS sum_bits,
         |  CAST(sum(nb) AS BIGINT) AS sum_bigrams
         |FROM d GROUP BY 1 ORDER BY band""".stripMargin,

    "dedup_priority_keeper" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |grp AS (SELECT h FROM d GROUP BY h HAVING count(*) > 1),
        |rk AS (
        |  SELECT d.h, d.source, d.doc_id,
        |    row_number() OVER (PARTITION BY d.h ORDER BY d.source, d.doc_id) AS rn
        |  FROM d JOIN grp USING (h)),
        |g AS (SELECT h, source AS ksrc, doc_id AS kid FROM rk WHERE rn = 1),
        |wins AS (SELECT ksrc AS source, count(*) AS n_wins FROM g GROUP BY 1),
        |drops AS (
        |  SELECT d.source, count(*) AS n_dropped
        |  FROM d JOIN g USING (h) WHERE d.doc_id <> g.kid GROUP BY 1)
        |SELECT coalesce(w.source, dr.source) AS source,
        |  CAST(coalesce(w.n_wins, 0) AS BIGINT) AS n_wins,
        |  CAST(coalesce(dr.n_dropped, 0) AS BIGINT) AS n_dropped
        |FROM wins w FULL OUTER JOIN drops dr ON w.source = dr.source
        |ORDER BY source""".stripMargin,

    "corpus_pack_split" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
         |c AS (SELECT doc_id, nt,
         |  COALESCE(sum(nt) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM d),
         |sp AS (SELECT doc_id, nt, CAST(prev AS BIGINT) AS prev,
         |  CAST(prev AS BIGINT) // 20000 AS s0,
         |  (CAST(prev AS BIGINT) + nt - 1) // 20000 AS s1
         |  FROM c WHERE nt > 0),
         |ex AS (SELECT doc_id, nt, prev, s0,
         |  CAST(sh.range AS BIGINT) AS shard
         |  FROM sp CROSS JOIN range(64) sh
         |  WHERE sh.range BETWEEN s0 AND s1)
         |SELECT shard,
         |  CAST(sum(CASE WHEN s0 = shard THEN 1 ELSE 0 END) AS BIGINT) AS n_started,
         |  CAST(sum(CASE WHEN s0 < shard THEN 1 ELSE 0 END) AS BIGINT) AS n_carried_in,
         |  CAST(sum(least(prev + nt, (shard + 1) * 20000) -
         |           greatest(prev, shard * 20000)) AS BIGINT) AS n_tokens
         |FROM ex GROUP BY shard ORDER BY shard""".stripMargin,

    "corpus_quality_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS n_tok,
         |    CAST(len(list_filter($toksSql, t -> t IN $stopInSql)) AS BIGINT) AS n_stop
         |  FROM documents),
         |k AS (SELECT doc_id, source, n_tok,
         |  2000 + least((n_stop * 10000) // greatest(n_tok, 1), 4000) +
         |    CASE WHEN n_tok BETWEEN 5 AND 1000 THEN 4000 ELSE 0 END AS keep_bp,
         |  (((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096 +
         |    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256 +
         |    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16 +
         |    (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1))) % 10000 AS draw_bp
         |  FROM d),
         |f AS (SELECT source, n_tok,
         |  CASE WHEN draw_bp < keep_bp THEN 1 ELSE 0 END AS kept FROM k)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
         |  CAST(sum(kept) AS BIGINT) * 10000 // count(*) AS keep_share_bp
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
  )
}
