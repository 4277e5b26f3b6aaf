package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{Dedup, TextAnalysis => TA}

/** Round-8 additions: activity-streak (gaps-and-islands) analytics, burst
  * detection, integer percent-rank/cume-dist, null-safe join semantics,
  * table-freshness and reconciliation-checksum audits, exact per-group
  * mode, and a distributed equi-depth histogram.
  *
  * Same house rules as every other query file: exact integer/decimal
  * aggregation, truncating-div basis points, doubles only in final
  * expressions over bit-identical operands, deterministic tiebreaks.
  */
object Round8 extends Module {

  val queries: Map[String, Q] = Map(
    // Gaps-and-islands: per-user runs of CONSECUTIVE active days (the
    // classic streak query — retention/habit features). day - row_number
    // is constant within a consecutive run, so one partitioned window +
    // two keyed aggregates produce streak stats; nothing in the plan is
    // ever user-corpus-sized in one partition.
    "q_gaps_islands" -> ((s, dir) => {
      val days = Tables.events(s, dir)
        .where(col("ts").isNotNull)
        .select(col("user_id"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days.withColumn("isl", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("isl"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(sum(col("len")).as("active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest_streak"))
        .orderBy(col("user_id"))
    }),

    // Burst detection on the hourly rollup: an hour is a burst when its
    // count is >= 2x the mean of the trailing 24 OBSERVED hours (integer
    // cross-multiplication, no division) with at least 12 hours of
    // history. The window runs over the hourly ROLLUP (bounded by the
    // time range, never event-sized), like the q_backlog month spine.
    "events_burst" -> ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .where(col("ts").isNotNull)
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("hr")).rowsBetween(-24, -1)
      hourly
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("win_sum", coalesce(sum(col("n")).over(w), lit(0L)))
        .select(date_format(col("hr"), "yyyy-MM-dd HH:00").as("hr"),
          col("n"), col("win_n"), col("win_sum"),
          when(col("win_n") >= 12 &&
               col("n") * col("win_n") >= col("win_sum") * 2, lit(1L))
            .otherwise(lit(0L)).as("burst"))
        .orderBy(col("hr"))
    }),

    // percent_rank / cume_dist in integer basis points (per-priority
    // price position — the feature-scaling shape). Built from a TWO-PHASE
    // rank (per-(priority, value-block) row_number + broadcast block
    // offsets — the events_pareto pattern) instead of a window
    // partitioned by the 5-value priority column, which would sort each
    // priority's full order set in ONE task at scale; and from truncating
    // div instead of the built-in DOUBLE percent_rank, so the output is
    // bit-stable cross-engine.
    "q_percent_rank" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("blk", expr("cents div 100000"))
      // ONE (priority)-partitioned window pass over the block rollup
      // yields both the prefix offsets AND the per-priority totals
      // (whole-partition sum) — r18: the separate `tot` aggregation, its
      // broadcast and the eager mid-plan checkpoint are gone (2
      // broadcast joins → 1, and the rollup subtree appears once so
      // nothing needs checkpointing for reuse).
      val wB = Window.partitionBy(col("o_orderpriority")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wP = Window.partitionBy(col("o_orderpriority"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val offs = o.groupBy(col("o_orderpriority"), col("blk"))
        .agg(count(lit(1)).as("bn"))
        .withColumn("off", coalesce(sum(col("bn")).over(wB), lit(0L)))
        .withColumn("n", sum(col("bn")).over(wP))
        .select(col("o_orderpriority"), col("blk"), col("off"), col("n"))
      val wIn = Window.partitionBy(col("o_orderpriority"), col("blk"))
        .orderBy(col("cents"), col("o_orderkey"))
      o.join(broadcast(offs), Seq("o_orderpriority", "blk"))
        .withColumn("rk", col("off") + row_number().over(wIn))
        .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
          col("rk").cast("long").as("rk"),
          when(col("n") > 1,
            expr("((rk - 1) * 10000) div (n - 1)")).otherwise(lit(0L))
            .as("pct_bp"),
          expr("(rk * 10000) div n").as("cume_bp"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // Null-safe equi-join (<=> / IS NOT DISTINCT FROM): the NULL-keyed
    // rows MATCH each other instead of silently dropping — the semantics
    // a keyed reconciliation needs when the key itself is nullable. The
    // dim side is a keyed rollup of the same table, so every group
    // (including the NULL group) must find exactly one dim row.
    "q_null_safe_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        expr("nullif(day(o_orderdate) % 7, 0)").as("k"))
      val dim = o.groupBy(col("k")).agg(count(lit(1)).as("dim_n"))
        .withColumnRenamed("k", "dk")
      o.join(broadcast(dim), col("k") <=> col("dk"), "left")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_orders"),
          max(col("dim_n")).as("dim_n"),
          sum(col("cents")).as("cents"))
        .select(col("k").cast("long").as("k"), col("n_orders"),
          col("dim_n"), col("cents"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // Table-freshness audit: per event type, last event time (epoch
    // seconds) and staleness vs the freshest type — the first thing an
    // on-call checks when a CDC feed stalls (reference runs on a cron;
    // this is the "did every table sync" readout). 1-row global max is
    // broadcast; integer-seconds arithmetic end to end.
    "etl_freshness" -> ((s, dir) => {
      val mx = Tables.events(s, dir)
        .where(col("ts").isNotNull)
        .groupBy(col("event_type"))
        .agg(max(col("ts")).as("max_ts"), count(lit(1)).as("n"))
      val g = mx.agg(max(col("max_ts")).as("global_ts"))
      mx.crossJoin(broadcast(g))
        .select(col("event_type"), col("n"),
          expr("unix_micros(max_ts) div 1000000").as("max_ts_s"),
          expr("(unix_micros(global_ts) - unix_micros(max_ts)) div 1000000")
            .as("stale_s"))
        .withColumn("is_stale",
          when(col("stale_s") > 86400, lit(1L)).otherwise(lit(0L)))
        .orderBy(col("event_type"))
    }),

    // Reconciliation checksums: order-independent per-bucket row digests
    // (row -> md5 -> 24-bit int -> SUM) over the canonical field string.
    // Two systems loading the same table compare 16 (bucket, n, checksum)
    // rows instead of re-reading each other's data — the cheap answer to
    // "did the upsert land identically". 24-bit terms keep the BIGINT sum
    // overflow-free to ~3x10^11 rows per bucket.
    "etl_row_checksum" -> ((s, dir) => {
      val line = concat_ws("|", col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long"), col("c_mktsegment"))
      Tables.customer(s, dir)
        .select(col("c_custkey"), line.as("line"))
        .select(
          pmod(conv(substring(md5(col("c_custkey").cast("string")), 1, 2),
            16, 10).cast("long"), lit(16)).as("bucket"),
          conv(substring(md5(col("line")), 1, 6), 16, 10).cast("long").as("sig"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("sig")).as("checksum"))
        .orderBy(col("bucket"))
    }),

    // Exact per-group mode with a deterministic tiebreak (most frequent
    // order priority per month; ties break to the lexicographically
    // smallest value). count rollup -> rank-1 filter rides Spark 4's
    // WindowGroupLimit pushdown, so no month's full distribution is ever
    // materialized through the sort.
    "q_mode" -> ((s, dir) => {
      val cnt = Tables.orders(s, dir)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("month"))
        .orderBy(col("n").desc, col("o_orderpriority"))
      cnt.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("month"), col("o_orderpriority").as("mode_priority"),
          col("n"))
        .orderBy(col("month"))
    }),

    // Equi-depth histogram (quartiles of line-item price) via the same
    // TWO-PHASE distributed rank as events_pareto: per-block partial
    // counts + broadcast offsets + in-block row_number — a global sort's
    // semantics without a global single-partition sort. bucket =
    // (rank-1)*4 div n; emits each quartile's bounds and mass.
    "q_hist_equidepth" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .withColumn("blk", expr("cents div 100000"))
      // one rollup pass yields prefix offsets AND the grand total (a
      // whole-frame window over the bounded block rollup) — r18: the
      // separate count aggregate, its lineitem scan and the crossJoin
      // are gone (the q_percent_rank shape)
      val wBlk = Window.orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val offs = li.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
        .withColumn("off", coalesce(sum(col("bn")).over(wBlk), lit(0L)))
        .withColumn("n_tot", sum(col("bn")).over(wAll))
        .select(col("blk"), col("off"), col("n_tot"))
      val wIn = Window.partitionBy(col("blk"))
        .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
      li.join(broadcast(offs), "blk")
        .withColumn("rk", col("off") + row_number().over(wIn))
        .withColumn("bucket", expr("((rk - 1) * 4) div n_tot"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"),
          sum(col("cents")).as("sum_cents"))
        .select(col("bucket").cast("long").as("bucket"), col("n"),
          col("lo_cents"), col("hi_cents"), col("sum_cents"))
        .orderBy(col("bucket"))
    }),

    // Fuzzy (edit-distance) near-dup pairs: candidates come from the SAME
    // MinHash-LSH band buckets as dedup_minhash_lsh (capped, never all
    // pairs), then exact Levenshtein verifies each candidate — the
    // OCR-noise/typo dedup layer that token-set Jaccard can't see. The
    // length gate (<= 400 chars both sides) bounds the O(len²) DP per
    // pair; similarity is integer basis points of (1 - dist/max_len).
    "text_edit_distance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val t = docs.select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
      LshShared.pairs84(s, dir)
        .join(t.select(col("doc_id").as("a"), col("text").as("ta"),
          col("len").as("la")), "a")
        .join(t.select(col("doc_id").as("b"), col("text").as("tb"),
          col("len").as("lb")), "b")
        .where(col("la") <= 400 && col("lb") <= 400)
        // the DP is CPU-bound, not byte-bound: AQE coalesces the ~MBs of
        // candidate pairs into one or two partitions, which would run the
        // whole O(len²) kernel on one core — spread to full width first
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("a"), col("b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("dist"),
          greatest(col("la"), col("lb")).as("max_len"))
        .withColumn("sim_bp", when(col("max_len") === 0, lit(10000L))
          .otherwise(expr("((max_len - dist) * 10000) div max_len")))
        .orderBy(col("a"), col("b"))
    }),

    // Zipf rank-frequency audit over the corpus vocabulary: top-30 tokens
    // with corpus share, cumulative share, and rank-to-next frequency
    // ratio in integer basis points — the sanity check that token
    // frequencies follow the expected power law (a broken crawl or
    // boilerplate flood shows up as a flat head). TakeOrdered top-30;
    // the 30-row windows never see the full vocab.
    "text_zipf_audit" -> ((s, dir) => {
      // corpus occurrence counts off the shared term-frequency frame
      val freq = TokShared.tokenCounts(s, dir)
      val tot = freq.agg(sum(col("n")).as("total"))
      val top = freq.orderBy(col("n").desc, col("tok")).limit(30)
      val w = Window.orderBy(col("n").desc, col("tok"))
      top
        .withColumn("rank", row_number().over(w))
        .withColumn("next_n", lead(col("n"), 1).over(w))
        .withColumn("cum", sum(col("n")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select(col("rank").cast("long").as("rank"), col("tok"), col("n"),
          expr("(n * 10000) div total").as("share_bp"),
          when(col("next_n").isNull, lit(0L))
            .otherwise(expr("(n * 10000) div next_n")).as("ratio_next_bp"),
          expr("(cum * 10000) div total").as("cum_bp"))
        .orderBy(col("rank"))
    }),

    // Vocabulary-tail audit: token types bucketed by occurrence count
    // (hapax = 1, rare = 2-10, mid = 11-100, head > 100) with type and
    // volume shares in bp — the tail-side complement of text_zipf_audit's
    // head (a fat hapax band is the classic OCR-noise / tokenizer-damage
    // signal). One freq aggregate + one 4-row rollup.
    "text_hapax_rate" -> ((s, dir) => {
      // corpus occurrence counts off the shared term-frequency frame
      val freq = TokShared.tokenCounts(s, dir)
      val band = when(col("n") === 1, "1_hapax")
        .when(col("n") <= 10, "2_rare")
        .when(col("n") <= 100, "3_mid")
        .otherwise("4_head")
      val tot = freq.agg(count(lit(1)).as("n_types"), sum(col("n")).as("volume"))
      freq.groupBy(band.as("band"))
        .agg(count(lit(1)).as("n_types_band"), sum(col("n")).as("vol_band"))
        .crossJoin(broadcast(tot))
        .select(col("band"), col("n_types_band"), col("vol_band"),
          expr("(n_types_band * 10000) div n_types").as("type_share_bp"),
          expr("(vol_band * 10000) div volume").as("vol_share_bp"))
        .orderBy(col("band"))
    }),

    // Language-rebalance plan: per-language doc share and the sampling
    // weight (in bp) that would flatten the mix to uniform — the
    // data-mixing knob next to corpus_mix_budget's hard budget. Integer
    // arithmetic end to end; output is one row per language.
    "corpus_lang_balance" -> ((s, dir) => {
      val pl = Tables.documents(s, dir)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = pl.agg(sum(col("n_docs")).as("n_total"),
        count(lit(1)).as("n_langs"))
      pl.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          expr("(n_docs * 10000) div n_total").as("share_bp"),
          expr("n_total div n_langs").as("target_n"),
          expr("((n_total div n_langs) * 10000) div n_docs").as("weight_bp"))
        .orderBy(col("lang"))
    }),

    // LSH band/row tuning sweep: from ONE set of k=8 MinHash signatures,
    // evaluate rows-per-band r ∈ {2,4,8} — bucket count, over-cap
    // buckets, total candidate checks Σ m(m-1)/2 (the index COST curve),
    // and distinct under-cap candidate pairs (the RECALL curve). This is
    // the table you read before picking the production banding; one
    // signature build feeds all three configurations. The audit's
    // `distinct` runs over the cap-bounded candidate stream (≤ m(m-1)/2
    // per ≤50-occupant bucket, ≤4 bands), mirrored in the oracle — the
    // PRODUCTION pair generator (Dedup.lshCandidatePairs) still dedups
    // locally via its first-matching-band rule, never a global distinct.
    "dedup_lsh_tune" -> ((s, dir) => {
      // signatures from the shared family frame (LshShared.sigs8);
      // the per-config occupancy rollup is NOT checkpointed — both its
      // consumers sit in the one final action, where AQE's
      // ReusedExchange serves the aggregate's shuffle to the stats agg
      // and the kept-bucket join alike, and the three r-configs'
      // independent stages then schedule concurrently instead of being
      // serialized behind per-config eager materialization barriers
      val sigs = LshShared.sigs8(s, dir)
      val perR = Seq(2, 4, 8).map { r =>
        val nB = 8 / r
        val bandKeys = (0 until nB).map(b =>
          concat_ws(",", slice(col("sig"), b * r + 1, r)))
        val bands = sigs.select(col("doc"),
          posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
        val occ = bands.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("m"))
        val stats = occ.agg(
          count(lit(1)).as("n_buckets"),
          count(when(col("m") > 50, 1)).as("n_overcap"),
          sum(expr("(m * (m - 1)) div 2")).as("cand_checks"))
        val kept = bands.join(
          occ.where(col("m") <= 50).select(col("band"), col("key")),
          Seq("band", "key"))
        val cnt = kept.as("l").join(kept.as("r"), Seq("band", "key"))
          .where(col("l.doc") < col("r.doc"))
          .select(col("l.doc").as("a"), col("r.doc").as("b")).distinct()
          .agg(count(lit(1)).as("n_pairs"))
        stats.crossJoin(cnt).select(
          lit(r).cast("long").as("r"), lit(nB).cast("long").as("n_bands"),
          col("n_buckets"), col("n_overcap"), col("cand_checks"),
          col("n_pairs"))
      }
      perR.reduce(_ unionAll _).orderBy(col("r"))
    }),

    // Per-user spend drawdown: running-sum cents, running max, and the
    // largest peak-to-trough gap — the churn/fraud analytic that needs
    // BOTH running aggregates over one shared per-user sort (one window
    // shuffle on user_id, integer cents end to end).
    "events_drawdown" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .where(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("cum", sum(col("cents")).over(w))
        .withColumn("runmax", max(col("cum")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("runmax") - col("cum")).as("max_drawdown_cents"),
          max(col("cum")).as("peak_cents"),
          sum(col("cents")).as("total_cents"))
        .orderBy(col("user_id"))
    }),

    // Sliding 24-hour distinct users per observed hour WITHOUT an
    // inequality join: each distinct (user, hour) EXPLODES to the 24
    // spine hours it covers (bounded fan-out, pure equality groupBy),
    // then a semi join restricts output to observed hours. The shape that
    // replaces a range self-join at 100 TB. Hours are integer epoch-hour
    // indices (engine-portable).
    "events_sliding_users" -> ((s, dir) => {
      // Round 17: the 24×-explode + count_distinct over the user-hour
      // stream is replaced by value-grain arithmetic (guide §2.3 —
      // shuffle proxies, not payloads):
      //   n_user_hours(sh) = Σ hourly actives over [sh-23, sh] — a
      //     rangeBetween rolling sum over the HOURLY rollup;
      //   n_users(sh) = # users with ≥1 active hour in the window —
      //     per-user activity ISLANDS (gap > 23 h starts a new one;
      //     island [a, b] covers exactly the windows sh ∈ [a, b+23])
      //     folded to ±1 deltas at hour grain, then one cumulative sum
      //     over the hour axis. Both windows run over hour-grain frames
      //     (bounded by the time span), never the user-hour stream —
      //     results are row-identical to the exploded form.
      val uh = Tables.events(s, dir)
        .where(col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(ts) div 3600000000").as("h"))
        .distinct()
        .localCheckpoint(true) // feeds the hourly rollup AND the islands
      val hourly = uh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      val nuh = hourly
        .withColumn("n_user_hours",
          sum(col("c")).over(Window.orderBy(col("h")).rangeBetween(-23, 0)))
        .select(col("h").as("sh"), col("n_user_hours"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("h"))
      val isl = uh
        .withColumn("brk",
          when(col("h") - lag(col("h"), 1).over(wU) > 23, 1L).otherwise(0L))
        .withColumn("isl", sum(col("brk")).over(
          wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("h")).as("a"), max(col("h")).as("b"))
      val deltas = isl.select(col("a").as("h"), lit(1L).as("d"))
        .unionByName(isl.select((col("b") + 24).as("h"), lit(-1L).as("d")))
        .groupBy(col("h")).agg(sum(col("d")).as("d"))
      val nus = deltas
        .join(hourly.select(col("h"), lit(1L).as("in_spine")), Seq("h"), "full_outer")
        .withColumn("n_users", sum(coalesce(col("d"), lit(0L))).over(
          Window.orderBy(col("h"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("in_spine") === 1L)
        .select(col("h").as("sh"), col("n_users"))
      nus.join(nuh, Seq("sh"))
        .select(col("sh"), col("n_users"), col("n_user_hours"))
        .orderBy(col("sh"))
    }),

    // Conversion-latency histogram: first signup → first subsequent
    // purchase per user, seconds bucketed on integer-exact log2 bins —
    // the attribution-window evidence behind events_funnel_windows'
    // fixed sweep. Two keyed min-aggregates + one join, never a per-pair
    // explosion.
    "events_convert_latency" -> ((s, dir) => {
      val e = Tables.events(s, dir).where(col("ts").isNotNull)
      val su = e.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      val pu = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      su.join(pu, Seq("user_id"))
        .where(col("p_ts") >= col("s_ts"))
        .groupBy(col("user_id")).agg(min(col("s_ts")).as("s_ts"),
          min(col("p_ts")).as("p_ts"))
        .select(col("user_id"),
          expr("(unix_micros(p_ts) - unix_micros(s_ts)) div 1000000").as("lat_s"))
        .withColumn("bucket", length(bin(col("lat_s") + 1)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_users"),
          min(col("lat_s")).as("min_s"), max(col("lat_s")).as("max_s"))
        .orderBy(col("bucket"))
    }),

    // Vocabulary-truncation coverage: share of corpus bigram VOLUME
    // covered by the top-k bigrams for k ∈ {1,4,16,64} — the curve that
    // decides how big an n-gram table (or tokenizer merge list) needs to
    // be. TakeOrdered top-64; the windows only ever see 64 rows.
    "text_bigram_coverage" -> ((s, dir) => {
      // corpus-wide bigram counts = Σc over the shared (source, bg, c)
      // frame (BigramShared)
      val bi = BigramShared.counts(s, dir)
        .groupBy(col("bg")).agg(sum(col("c")).as("n"))
      val tot = bi.agg(sum(col("n")).as("total"))
      val w = Window.orderBy(col("n").desc, col("bg"))
      val top = bi.orderBy(col("n").desc, col("bg")).limit(64)
        .withColumn("rank", row_number().over(w))
      top.select(col("rank"), col("n"),
          explode(array(Seq(1, 4, 16, 64).map(lit): _*)).as("k"))
        .where(col("rank") <= col("k"))
        .groupBy(col("k"))
        .agg(sum(col("n")).as("top_n"))
        .crossJoin(broadcast(tot))
        .select(col("k").cast("long").as("k"), col("top_n"),
          expr("(top_n * 10000) div total").as("covered_bp"))
        .orderBy(col("k"))
    }),

    // Exact-dedup savings report: bytes a content-hash dedup would
    // reclaim, attributed to the source of each NON-KEEPER copy (keeper =
    // lowest doc_id per hash, the dedup_exact contract). The
    // storage-and-cost readout behind the dedup family.
    "corpus_dedup_savings" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("bytes"), md5(col("text")).as("h"))
      val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
      d.join(keep, Seq("h"))
        .withColumn("dup", when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("bytes"),
          sum(col("dup")).as("n_dups"),
          coalesce(sum(when(col("dup") === 1L, col("bytes"))), lit(0L)).as("bytes_saved"))
        .select(col("source"), col("n_docs"), col("bytes"), col("n_dups"),
          col("bytes_saved"),
          expr("(bytes_saved * 10000) div bytes").as("savings_bp"))
        .orderBy(col("source"))
    }),

    // Interval coalescing (merge-overlapping-ranges): each order opens a
    // 7-day coverage window; per customer, overlapping/adjacent windows
    // merge into maximal intervals — the classic SQL range-merge pattern
    // (entitlement windows, on-call coverage, session stitching). A new
    // interval starts exactly when a start exceeds the running max end
    // so far; two stacked per-customer windows over one shared sort, all
    // integer day arithmetic.
    "q_merge_intervals" -> ((s, dir) => {
      val iv = Tables.orders(s, dir).select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("s"))
        .withColumn("e", col("s") + 7)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("s"), col("e"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      iv.withColumn("maxe", max(col("e")).over(wPrev))
        .withColumn("new_iv",
          when(col("maxe").isNull || col("s") > col("maxe"), 1L).otherwise(0L))
        .withColumn("isl", sum(col("new_iv")).over(wRun))
        .groupBy(col("o_custkey"), col("isl"))
        .agg(min(col("s")).as("ivs"), max(col("e")).as("ive"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_windows"),
          sum(col("ive") - col("ivs")).as("covered_days"),
          max(col("ive") - col("ivs")).as("longest_days"),
          min(col("ivs")).as("first_day"))
        .orderBy(col("o_custkey"))
    }),

    // Changelog paging profile — the reference pages its change log in
    // fixed id batches and skips NULL-key rows before extract
    // (models/EtlLogger.js:6-27: 100k pages, reference_no/table NOT NULL
    // filter). Same semantics on the events-as-changelog mapping: pure
    // integer id paging (no window, no shuffle beyond the rollup), per
    // batch row/distinct-ref/skip counts — the table an operator reads
    // to size extract batches.
    "etl_changelog_stats" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("batch", expr("event_id div 1000"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("user_id")).as("n_refs"),
          count(when(col("user_id").isNull || col("event_type").isNull, 1))
            .as("n_skips"),
          min(col("event_id")).as("lo_id"), max(col("event_id")).as("hi_id"))
        .orderBy(col("batch"))),

    // Partition-layout planning stats: per order month — row count,
    // distinct customers, active days, exact total cents — the rollup a
    // partitioned-table writer consults to pick partition grain before a
    // backfill. One keyed aggregate; months are bounded.
    "etl_partition_stats" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("o_custkey")).as("n_custs"),
          count_distinct(to_date(col("o_orderdate"))).as("n_days"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
          min(col("o_orderkey")).as("lo_key"), max(col("o_orderkey")).as("hi_key"))
        .orderBy(col("month"))),

    // Cross-source duplication matrix: how many exact-dup content hashes
    // each PAIR of sources shares — the contamination/provenance audit
    // behind a multi-crawl merge. The self-join runs on the DISTINCT
    // (hash, source) set, so a hash shared by s sources costs s(s-1)/2
    // rows (s = #sources, a constant), never doc².
    "text_dedup_xsource" -> ((s, dir) => {
      val hs = Tables.documents(s, dir)
        .select(md5(col("text")).as("h"), col("source")).distinct()
        .localCheckpoint(true) // both sides of the self-join
      hs.as("l").join(hs.as("r"), col("l.h") === col("r.h"))
        .where(col("l.source") < col("r.source"))
        .groupBy(col("l.source").as("src_a"), col("r.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Concentration thresholds: the SMALLEST user prefix (by spend rank)
    // covering ≥ {25,50,75,90}% of total value — "how many whales pay
    // for everything". Same two-phase distributed rank AND prefix sum as
    // events_pareto (block partials + broadcast offsets), so the global
    // cumulative curve exists without a global single-partition sort.
    "events_top_coverage" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .withColumn("blk", expr("cents div 1000"))
        .localCheckpoint(true)
      val tot = perUser.agg(sum(col("cents")).as("total_cents"),
        count(lit(1)).as("n_users_tot"))
      val wBlk = Window.orderBy(col("blk").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = perUser.groupBy(col("blk"))
        .agg(count(lit(1)).as("bn"), sum(col("cents")).as("bc"))
        .withColumn("offN", coalesce(sum(col("bn")).over(wBlk), lit(0L)))
        .withColumn("offC", coalesce(sum(col("bc")).over(wBlk), lit(0L)))
        .select(col("blk"), col("offN"), col("offC"))
      val wIn = Window.partitionBy(col("blk"))
        .orderBy(col("cents").desc, col("user_id"))
      perUser.join(broadcast(offs), "blk")
        .withColumn("rk", col("offN") + row_number().over(wIn))
        .withColumn("cum", col("offC") + sum(col("cents"))
          .over(wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select(col("rk"), col("cum"), col("total_cents"), col("n_users_tot"),
          explode(array(Seq(2500, 5000, 7500, 9000).map(lit): _*)).as("thr_bp"))
        .where(col("cum") * 10000 >= col("thr_bp") * col("total_cents"))
        .groupBy(col("thr_bp"))
        .agg(min(col("rk")).as("n_users"),
          max(col("n_users_tot")).as("n_users_tot"))
        .select(col("thr_bp").cast("long").as("thr_bp"), col("n_users"),
          expr("(n_users * 10000) div n_users_tot").as("users_share_bp"))
        .orderBy(col("thr_bp"))
    }),

    // Robust outlier bounds per event type via discrete quartiles and the
    // 1.5×IQR fence — the box-plot complement of events_anomaly_mad's
    // median/MAD flags, in exact integer cents (discrete percentile =
    // value at rank ceil(p·n), integer rank math, no interpolation).
    // Ranks come from the TWO-PHASE per-(type, value-block) pattern, not
    // a window partitioned by the handful of event types (which would
    // sort each type's full event set in one task at scale). Equal values
    // share a block, so the value AT a rank is deterministic even though
    // tie order inside a block is not.
    "events_anomaly_iqr" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cv"))
        .withColumn("blk", expr("cv div 1000"))
      val grp = e.groupBy(col("event_type"), col("blk"))
        .agg(count(lit(1)).as("bn"))
        .localCheckpoint(true) // feeds offsets AND per-type totals
      val wB = Window.partitionBy(col("event_type")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = grp.withColumn("off", coalesce(sum(col("bn")).over(wB), lit(0L)))
        .select(col("event_type"), col("blk"), col("off"))
      val tot = grp.groupBy(col("event_type")).agg(sum(col("bn")).as("n"))
      val wIn = Window.partitionBy(col("event_type"), col("blk")).orderBy(col("cv"))
      val bounds = e.join(broadcast(offs), Seq("event_type", "blk"))
        .withColumn("rk", col("off") + row_number().over(wIn))
        .join(broadcast(tot), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(col("rk") === expr("(n + 3) div 4"), col("cv"))).as("q1"),
          max(when(col("rk") === expr("(3 * n + 3) div 4"), col("cv"))).as("q3"))
        .withColumn("iqr", col("q3") - col("q1"))
        .withColumn("lo", col("q1") - expr("(3 * iqr) div 2"))
        .withColumn("hi", col("q3") + expr("(3 * iqr) div 2"))
      e.join(broadcast(bounds), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"), max(col("q1")).as("q1_cents"),
          max(col("q3")).as("q3_cents"), max(col("iqr")).as("iqr_cents"),
          max(col("lo")).as("lo_cents"), max(col("hi")).as("hi_cents"),
          count(when(col("cv") < col("lo") || col("cv") > col("hi"), 1))
            .as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    // Payload-size histogram per sniffed container format (log2 buckets,
    // same integer-exact bin(length) bucketing as corpus_length_hist) —
    // the storage-planning twin of mm_format_sniff.
    "mm_size_hist" -> ((s, dir) => {
      val magic = substring(col("text"), 1, 1)
      Tables.documents(s, dir)
        .withColumn("format",
          when(magic.between("a", "f"), "image")
            .when(magic.between("g", "p"), "audio")
            .when(magic.between("q", "z"), "video")
            .otherwise("binary"))
        .withColumn("bytes", length(col("text")).cast("long"))
        .withColumn("bucket", length(bin(col("bytes"))).cast("long"))
        .groupBy(col("format"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("bytes")).as("min_bytes"), max(col("bytes")).as("max_bytes"),
          sum(col("bytes")).as("bytes"))
        .orderBy(col("format"), col("bucket"))
    }),
  )

  /** MinHash signature CTEs — same chain as TextDedup's dedup_minhash_lsh
    * oracle (k=8 seeds, min over md5(seed:token)), so the band-derived
    * oracles here cannot drift from the dedup family's. */
  private val sigsCte =
    s"""tok AS (
       |  SELECT doc_id AS doc, unnest(list_distinct($toksSql)) AS tok FROM documents),
       |sigs AS (
       |  SELECT doc, s.range AS seed, min(md5(CAST(s.range AS VARCHAR) || ':' || tok)) AS mh
       |  FROM tok CROSS JOIN range(8) s GROUP BY doc, s.range)""".stripMargin

  /** Per-r band/occupancy/keep CTEs for the LSH tuning sweep. */
  private def lshTuneCtes(r: Int): String =
    s"""bands$r AS (
       |  SELECT doc, CAST(seed // $r AS INTEGER) AS band,
       |    string_agg(mh, ',' ORDER BY seed) AS key
       |  FROM sigs GROUP BY doc, CAST(seed // $r AS INTEGER)),
       |occ$r AS (SELECT band, key, count(*) AS m FROM bands$r GROUP BY band, key),
       |keep$r AS (
       |  SELECT b.doc, b.band, b.key FROM bands$r b
       |  JOIN occ$r o USING (band, key) WHERE o.m <= 50)""".stripMargin

  private def lshTuneSelect(r: Int): String = {
    val nB = 8 / r
    s"""SELECT CAST($r AS BIGINT) AS r, CAST($nB AS BIGINT) AS n_bands,
       |  (SELECT count(*) FROM occ$r) AS n_buckets,
       |  (SELECT count(*) FROM occ$r WHERE m > 50) AS n_overcap,
       |  (SELECT CAST(sum((m * (m - 1)) // 2) AS BIGINT) FROM occ$r) AS cand_checks,
       |  (SELECT count(*) FROM (
       |     SELECT DISTINCT l.doc AS a, rr.doc AS b FROM keep$r l
       |     JOIN keep$r rr ON l.band = rr.band AND l.key = rr.key
       |     WHERE l.doc < rr.doc) p) AS n_pairs""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "text_edit_distance" ->
      s"""WITH $sigsCte,
         |bands AS (
         |  SELECT doc, CAST(seed // 4 AS INTEGER) AS band,
         |    string_agg(mh, ',' ORDER BY seed) AS bandkey
         |  FROM sigs GROUP BY doc, CAST(seed // 4 AS INTEGER)),
         |occ AS (SELECT band, bandkey, count(*) AS m FROM bands GROUP BY band, bandkey),
         |keep AS (
         |  SELECT b.doc, b.band, b.bandkey FROM bands b
         |  JOIN occ USING (band, bandkey) WHERE occ.m <= 50),
         |pairs AS (
         |  SELECT DISTINCT l.doc AS a, r.doc AS b
         |  FROM keep l JOIN keep r ON l.band = r.band AND l.bandkey = r.bandkey
         |  WHERE l.doc < r.doc),
         |d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len FROM documents)
         |SELECT p.a, p.b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
         |  greatest(da.len, db.len) AS max_len,
         |  CAST(CASE WHEN greatest(da.len, db.len) = 0 THEN 10000
         |    ELSE ((greatest(da.len, db.len) - levenshtein(da.text, db.text)) * 10000)
         |         // greatest(da.len, db.len) END AS BIGINT) AS sim_bp
         |FROM pairs p JOIN d da ON da.doc_id = p.a JOIN d db ON db.doc_id = p.b
         |WHERE da.len <= 400 AND db.len <= 400
         |ORDER BY a, b""".stripMargin,

    "text_zipf_audit" ->
      s"""WITH f AS (SELECT unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS n FROM f GROUP BY tok),
         |t AS (SELECT sum(n) AS total FROM c),
         |top AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rank
         |        FROM c QUALIFY rank <= 30),
         |w AS (SELECT rank, tok, n,
         |  lead(n) OVER (ORDER BY rank) AS next_n,
         |  sum(n) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM top)
         |SELECT CAST(rank AS BIGINT) AS rank, tok, n,
         |  CAST((n * 10000) // t.total AS BIGINT) AS share_bp,
         |  CAST(CASE WHEN next_n IS NULL THEN 0
         |       ELSE (n * 10000) // next_n END AS BIGINT) AS ratio_next_bp,
         |  CAST((cum * 10000) // t.total AS BIGINT) AS cum_bp
         |FROM w, t ORDER BY rank""".stripMargin,

    "text_hapax_rate" ->
      s"""WITH f AS (SELECT unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS n FROM f GROUP BY tok),
         |t AS (SELECT count(*) AS n_types, sum(n) AS volume FROM c),
         |b AS (SELECT CASE WHEN n = 1 THEN '1_hapax'
         |        WHEN n <= 10 THEN '2_rare'
         |        WHEN n <= 100 THEN '3_mid'
         |        ELSE '4_head' END AS band, n
         |      FROM c)
         |SELECT band, count(*) AS n_types_band, CAST(sum(n) AS BIGINT) AS vol_band,
         |  CAST((count(*) * 10000) // t.n_types AS BIGINT) AS type_share_bp,
         |  CAST((sum(n) * 10000) // t.volume AS BIGINT) AS vol_share_bp
         |FROM b, t GROUP BY band, t.n_types, t.volume ORDER BY band""".stripMargin,

    "corpus_lang_balance" ->
      """WITH pl AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT sum(n_docs) AS n_total, count(*) AS n_langs FROM pl)
        |SELECT lang, n_docs,
        |  CAST((n_docs * 10000) // t.n_total AS BIGINT) AS share_bp,
        |  CAST(t.n_total // t.n_langs AS BIGINT) AS target_n,
        |  CAST(((t.n_total // t.n_langs) * 10000) // n_docs AS BIGINT) AS weight_bp
        |FROM pl, t ORDER BY lang""".stripMargin,

    "dedup_lsh_tune" ->
      s"""WITH $sigsCte,
         |${lshTuneCtes(2)},
         |${lshTuneCtes(4)},
         |${lshTuneCtes(8)}
         |${lshTuneSelect(2)}
         |UNION ALL
         |${lshTuneSelect(4)}
         |UNION ALL
         |${lshTuneSelect(8)}
         |ORDER BY r""".stripMargin,

    "q_merge_intervals" ->
      """WITH iv AS (
        |  SELECT o_custkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 7 AS e
        |  FROM orders),
        |m AS (SELECT o_custkey, s, e,
        |  max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |  FROM iv),
        |n AS (SELECT o_custkey, s, e,
        |  CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS new_iv
        |  FROM m),
        |r AS (SELECT o_custkey, s, e,
        |  sum(new_iv) OVER (PARTITION BY o_custkey ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM n),
        |g AS (SELECT o_custkey, isl, min(s) AS ivs, max(e) AS ive
        |      FROM r GROUP BY o_custkey, isl)
        |SELECT o_custkey, count(*) AS n_windows,
        |  CAST(sum(ive - ivs) AS BIGINT) AS covered_days,
        |  CAST(max(ive - ivs) AS BIGINT) AS longest_days,
        |  min(ivs) AS first_day
        |FROM g GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "etl_changelog_stats" ->
      """SELECT event_id // 1000 AS batch, count(*) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_refs,
        |  CAST(count(CASE WHEN user_id IS NULL OR event_type IS NULL THEN 1 END)
        |    AS BIGINT) AS n_skips,
        |  min(event_id) AS lo_id, max(event_id) AS hi_id
        |FROM events GROUP BY 1 ORDER BY batch""".stripMargin,

    "etl_partition_stats" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_rows,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        |  CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_days,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  min(o_orderkey) AS lo_key, max(o_orderkey) AS hi_key
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "text_dedup_xsource" ->
      """WITH hs AS (SELECT DISTINCT md5(text) AS h, source FROM documents)
        |SELECT l.source AS src_a, r.source AS src_b, count(*) AS n_shared
        |FROM hs l JOIN hs r ON l.h = r.h AND l.source < r.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    "events_top_coverage" ->
      """WITH u AS (
        |  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY user_id),
        |t AS (SELECT sum(cents) AS total_cents, count(*) AS n_users_tot FROM u),
        |r AS (SELECT cents,
        |  row_number() OVER (ORDER BY cents DESC, user_id) AS rk,
        |  sum(cents) OVER (ORDER BY cents DESC, user_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM u),
        |thr AS (SELECT unnest([2500, 5000, 7500, 9000]) AS thr_bp)
        |SELECT CAST(thr.thr_bp AS BIGINT) AS thr_bp,
        |  CAST(min(r.rk) AS BIGINT) AS n_users,
        |  CAST((min(r.rk) * 10000) // t.n_users_tot AS BIGINT) AS users_share_bp
        |FROM r, t, thr WHERE r.cum * 10000 >= thr.thr_bp * t.total_cents
        |GROUP BY thr.thr_bp, t.n_users_tot ORDER BY thr_bp""".stripMargin,

    "events_drawdown" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL),
        |r1 AS (SELECT user_id, ts, event_id, cents,
        |  sum(cents) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM e),
        |r AS (SELECT user_id, cents, cum,
        |  max(cum) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
        |  FROM r1)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(max(runmax - cum) AS BIGINT) AS max_drawdown_cents,
        |  CAST(max(cum) AS BIGINT) AS peak_cents,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_sliding_users" ->
      """WITH uh AS (
        |  SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h
        |  FROM events WHERE ts IS NOT NULL),
        |spine AS (SELECT DISTINCT h AS sh FROM uh),
        |cover AS (
        |  SELECT user_id, h + CAST(i.range AS BIGINT) AS sh
        |  FROM uh CROSS JOIN range(24) i)
        |SELECT c.sh, count(DISTINCT c.user_id) AS n_users,
        |  count(*) AS n_user_hours
        |FROM cover c JOIN spine s ON s.sh = c.sh
        |GROUP BY c.sh ORDER BY c.sh""".stripMargin,

    "events_convert_latency" ->
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE ts IS NOT NULL),
        |su AS (SELECT user_id, min(ts) AS s_ts FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, min(su.s_ts) AS s_ts, min(e.ts) AS p_ts
        |  FROM su JOIN e ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
        |  GROUP BY e.user_id),
        |lat AS (SELECT user_id,
        |  (epoch_us(p_ts) - epoch_us(s_ts)) // 1000000 AS lat_s FROM conv)
        |SELECT CAST(length(bin(lat_s + 1)) AS BIGINT) AS bucket,
        |  count(*) AS n_users, min(lat_s) AS min_s, max(lat_s) AS max_s
        |FROM lat GROUP BY 1 ORDER BY bucket""".stripMargin,

    "text_bigram_coverage" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |b AS (SELECT unnest(list_transform(range(1, len(toks)),
         |        i -> toks[i] || ' ' || toks[i+1])) AS bg FROM t),
         |c AS (SELECT bg, count(*) AS n FROM b GROUP BY bg),
         |tot AS (SELECT sum(n) AS total FROM c),
         |top AS (SELECT bg, n, row_number() OVER (ORDER BY n DESC, bg) AS rank
         |        FROM c QUALIFY rank <= 64),
         |ks AS (SELECT unnest([1, 4, 16, 64]) AS k)
         |SELECT CAST(ks.k AS BIGINT) AS k, CAST(sum(top.n) AS BIGINT) AS top_n,
         |  CAST((sum(top.n) * 10000) // tot.total AS BIGINT) AS covered_bp
         |FROM ks JOIN top ON top.rank <= ks.k, tot
         |GROUP BY ks.k, tot.total ORDER BY k""".stripMargin,

    "corpus_dedup_savings" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS bytes,
        |    md5(text) AS h
        |  FROM documents),
        |keep AS (SELECT h, min(doc_id) AS keeper FROM d GROUP BY h),
        |j AS (SELECT d.*, CASE WHEN d.doc_id <> k.keeper THEN 1 ELSE 0 END AS dup
        |      FROM d JOIN keep k USING (h))
        |SELECT source, count(*) AS n_docs, CAST(sum(bytes) AS BIGINT) AS bytes,
        |  CAST(sum(dup) AS BIGINT) AS n_dups,
        |  CAST(coalesce(sum(CASE WHEN dup = 1 THEN bytes END), 0) AS BIGINT) AS bytes_saved,
        |  CAST((coalesce(sum(CASE WHEN dup = 1 THEN bytes END), 0) * 10000)
        |       // sum(bytes) AS BIGINT) AS savings_bp
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "events_anomaly_iqr" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cv FROM events),
        |r AS (SELECT event_type, cv,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cv) AS rk,
        |  count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |q AS (SELECT event_type, max(n) AS n,
        |  max(CASE WHEN rk = (n + 3) // 4 THEN cv END) AS q1,
        |  max(CASE WHEN rk = (3 * n + 3) // 4 THEN cv END) AS q3
        |  FROM r GROUP BY event_type),
        |b AS (SELECT event_type, n, q1, q3, q3 - q1 AS iqr,
        |  q1 - (3 * (q3 - q1)) // 2 AS lo, q3 + (3 * (q3 - q1)) // 2 AS hi
        |  FROM q)
        |SELECT e.event_type, CAST(max(b.n) AS BIGINT) AS n,
        |  max(b.q1) AS q1_cents, max(b.q3) AS q3_cents,
        |  max(b.iqr) AS iqr_cents, max(b.lo) AS lo_cents, max(b.hi) AS hi_cents,
        |  CAST(count(CASE WHEN e.cv < b.lo OR e.cv > b.hi THEN 1 END) AS BIGINT)
        |    AS n_outliers
        |FROM e JOIN b USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin,

    "mm_size_hist" ->
      """WITH f AS (
        |  SELECT CAST(length(text) AS BIGINT) AS bytes,
        |    CASE WHEN substring(text, 1, 1) BETWEEN 'a' AND 'f' THEN 'image'
        |         WHEN substring(text, 1, 1) BETWEEN 'g' AND 'p' THEN 'audio'
        |         WHEN substring(text, 1, 1) BETWEEN 'q' AND 'z' THEN 'video'
        |         ELSE 'binary' END AS format
        |  FROM documents)
        |SELECT format, CAST(length(bin(bytes)) AS BIGINT) AS bucket,
        |  count(*) AS n_docs, min(bytes) AS min_bytes, max(bytes) AS max_bytes,
        |  CAST(sum(bytes) AS BIGINT) AS bytes
        |FROM f GROUP BY format, CAST(length(bin(bytes)) AS BIGINT)
        |ORDER BY format, bucket""".stripMargin,
    "q_gaps_islands" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events WHERE ts IS NOT NULL),
        |i AS (SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
        |  FROM d),
        |g AS (SELECT user_id, isl, count(*) AS len FROM i GROUP BY user_id, isl)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days, count(*) AS n_streaks,
        |  max(len) AS longest_streak
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_burst" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |w AS (SELECT hr, n,
        |  count(*) OVER win AS win_n,
        |  COALESCE(sum(n) OVER win, 0) AS win_sum
        |  FROM h WINDOW win AS (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT strftime(hr, '%Y-%m-%d %H:00') AS hr, n,
        |  CAST(win_n AS BIGINT) AS win_n, CAST(win_sum AS BIGINT) AS win_sum,
        |  CAST(CASE WHEN win_n >= 12 AND n * win_n >= win_sum * 2
        |       THEN 1 ELSE 0 END AS BIGINT) AS burst
        |FROM w ORDER BY hr""".stripMargin,

    "q_percent_rank" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT o_orderkey, o_orderpriority, cents,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY cents, o_orderkey) AS rk,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM o)
        |SELECT o_orderkey, o_orderpriority, cents, CAST(rk AS BIGINT) AS rk,
        |  CAST(CASE WHEN n > 1 THEN ((rk - 1) * 10000) // (n - 1)
        |       ELSE 0 END AS BIGINT) AS pct_bp,
        |  CAST((rk * 10000) // n AS BIGINT) AS cume_bp
        |FROM r ORDER BY o_orderpriority, rk""".stripMargin,

    "q_null_safe_join" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    nullif(EXTRACT(day FROM o_orderdate) % 7, 0) AS k
        |  FROM orders),
        |dim AS (SELECT k AS dk, count(*) AS dim_n FROM o GROUP BY k)
        |SELECT CAST(o.k AS BIGINT) AS k, count(*) AS n_orders,
        |  CAST(max(dim.dim_n) AS BIGINT) AS dim_n,
        |  CAST(sum(o.cents) AS BIGINT) AS cents
        |FROM o LEFT JOIN dim ON o.k IS NOT DISTINCT FROM dim.dk
        |GROUP BY o.k ORDER BY k NULLS FIRST""".stripMargin,

    "etl_freshness" ->
      """WITH m AS (
        |  SELECT event_type, max(CAST(ts AS TIMESTAMP)) AS max_ts, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY event_type),
        |g AS (SELECT max(max_ts) AS global_ts FROM m)
        |SELECT event_type, n,
        |  epoch_us(max_ts) // 1000000 AS max_ts_s,
        |  (epoch_us(g.global_ts) - epoch_us(max_ts)) // 1000000 AS stale_s,
        |  CAST(CASE WHEN (epoch_us(g.global_ts) - epoch_us(max_ts)) // 1000000 > 86400
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_stale
        |FROM m, g ORDER BY event_type""".stripMargin,

    "etl_row_checksum" ->
      """WITH hx AS (SELECT '0123456789abcdef' AS cs),
        |r AS (
        |  SELECT md5(CAST(c_custkey AS VARCHAR)) AS kh,
        |    md5(concat_ws('|', CAST(c_custkey AS VARCHAR),
        |      CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR),
        |      c_mktsegment)) AS lh
        |  FROM customer),
        |v AS (SELECT
        |  ((strpos(cs, substring(kh, 1, 1)) - 1) * 16 +
        |   (strpos(cs, substring(kh, 2, 1)) - 1)) % 16 AS bucket,
        |  (strpos(cs, substring(lh, 1, 1)) - 1) * 1048576 +
        |  (strpos(cs, substring(lh, 2, 1)) - 1) * 65536 +
        |  (strpos(cs, substring(lh, 3, 1)) - 1) * 4096 +
        |  (strpos(cs, substring(lh, 4, 1)) - 1) * 256 +
        |  (strpos(cs, substring(lh, 5, 1)) - 1) * 16 +
        |  (strpos(cs, substring(lh, 6, 1)) - 1) AS sig
        |  FROM r, hx)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_rows,
        |  CAST(sum(sig) AS BIGINT) AS checksum
        |FROM v GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_mode" ->
      """WITH c AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority,
        |    count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT month, o_orderpriority, n,
        |  row_number() OVER (PARTITION BY month
        |                     ORDER BY n DESC, o_orderpriority) AS rk
        |  FROM c)
        |SELECT month, o_orderpriority AS mode_priority, n
        |FROM r WHERE rk = 1 ORDER BY month""".stripMargin,

    "q_hist_equidepth" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |t AS (SELECT count(*) AS n_tot FROM li),
        |r AS (SELECT cents,
        |  row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber) AS rk
        |  FROM li),
        |b AS (SELECT cents, ((rk - 1) * 4) // t.n_tot AS bucket FROM r, t)
        |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
  )
}
