package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{Similarity, TextAnalysis => TA}

/** Round-6 additions: seasonality / concentration / inter-arrival event
  * audits, integer-exact text composition profiles, a log2 length
  * histogram, code-likeness detection, conditional-aggregate kernels, and
  * a matryoshka-style prefix-dimension rerank for vector search.
  *
  * All numeric outputs follow the repo's cross-engine determinism rule:
  * exact integer/decimal aggregation, truncating integer basis points for
  * ratios, doubles only in final expressions over bit-identical operands.
  */
object Audits extends Module {

  val queries: Map[String, Q] = Map(
    // Day-of-week × hour-of-day activity profile — the seasonality map a
    // pipeline consults before scheduling backfills or load-shedding.
    // One scan → one 168-key aggregate (map-side partials collapse the
    // corpus; the reducer sees ≤ 168 rows per partition), plus a 1-row
    // total broadcast for the share column. Output is ≤ 168 rows at any
    // corpus size. dow is engine-portable: Spark dayofweek() is
    // 1=Sunday..7, the oracle's strftime('%w') is 0=Sunday..6.
    "events_seasonality" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(
        (dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"),
        col("user_id"), col("value"))
      val tot = e.agg(count(lit(1)).as("total"))
      e.groupBy(col("dow"), col("hod"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("total_value"))
        .crossJoin(broadcast(tot))
        .select(col("dow"), col("hod"), col("n"), col("n_users"),
          col("total_value"), expr("(n * 10000) div total").as("share_bp"))
        .orderBy(col("dow"), col("hod"))
    }),

    // Value-concentration (Pareto) audit: users ranked by exact spend in
    // integer cents, cut into deciles, each decile's share of total spend
    // in basis points — "do 10% of users carry 80% of value". Ties broken
    // by user_id so the decile assignment is deterministic in both engines.
    //
    // The rank over (cents desc, user_id) is TWO-PHASE (the
    // events_concurrency / Layout.packShards shape): users pre-aggregate
    // into 10-dollar cents-range blocks, block offsets come from a window
    // over the SMALL block-count table, and each user adds its
    // within-block row_number (window partitioned BY BLOCK). Blocks
    // partition the cents range, so off + rn IS the global rank — and no
    // window ever sees the user-sized rollup in one partition (a global
    // ntile would sort 10⁸–10⁹ user rows in a single task at 100 TB).
    // decile = (rank-1)·10 div n + 1, mirrored verbatim in the oracle.
    "events_pareto" -> ((s, dir) => {
      // materialized once: feeds the block rollup, the offset join, and
      // the totals scalar (without this the events scan runs 3×)
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"),
          count(lit(1)).as("n_events"))
        .withColumn("blk", expr("cents div 1000"))
        .localCheckpoint(true)
      val tot = perUser.agg(sum(col("cents")).as("total_cents"),
        count(lit(1)).as("n_users_tot"))
      val wBlk = Window.orderBy(col("blk").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = perUser.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
        .withColumn("off", coalesce(sum(col("bn")).over(wBlk), lit(0L)))
        .select(col("blk"), col("off"))
      val wIn = Window.partitionBy(col("blk"))
        .orderBy(col("cents").desc, col("user_id"))
      perUser.join(broadcast(offs), "blk")
        .withColumn("rk", col("off") + row_number().over(wIn))
        .crossJoin(broadcast(tot))
        .withColumn("decile", expr("(rk - 1) * 10 div n_users_tot + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents")).as("decile_cents"),
          sum(col("n_events")).as("n_events"),
          max(col("total_cents")).as("total_cents"))
        .select(col("decile").cast("long").as("decile"), col("n_users"),
          col("decile_cents"), col("n_events"),
          expr("(decile_cents * 10000) div total_cents").as("share_bp"))
        .orderBy(col("decile"))
    }),

    // Per-user inter-arrival profile: gap stats in whole seconds between
    // consecutive events (burst detection / bot heuristics read min_gap;
    // churn models read max_gap). The lag window shuffles once on
    // user_id; gaps are exact integer seconds (epoch-microsecond
    // subtraction, truncating div), and the median is the DISCRETE
    // percentile (value at rank ceil(n/2) — no interpolation), so every
    // column is integer-exact across engines. Output is one row per user.
    "events_interarrival" -> ((s, dir) => {
      // NULL-ts rows are dropped BEFORE the lag window on both sides:
      // Spark sorts NULLs first ascending, DuckDB last, so a single NULL
      // ts would shift every lag neighbor in its partition while keeping
      // row counts identical (the r6 driver-data hash break). event_id
      // ordering is pinned NULLS FIRST to match Spark's asc default.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id").asc_nulls_first)
      val gaps = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .where(col("ts").isNotNull)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("user_id"),
          expr("(unix_micros(ts) - unix_micros(prev)) div 1000000").as("gap_s"))
      val wRank = Window.partitionBy(col("user_id")).orderBy(col("gap_s"))
      gaps.withColumn("rk", row_number().over(wRank))
        .withColumn("nw", count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_s")).as("min_gap_s"),
          max(col("gap_s")).as("max_gap_s"),
          sum(col("gap_s")).as("sum_gap_s"),
          max(when(col("rk") === expr("(nw + 1) div 2"), col("gap_s")))
            .as("median_gap_s"))
        .orderBy(col("user_id"))
    }),

    // DAU/WAU stickiness: per day, distinct active users that day vs the
    // trailing 7-day window, ratio in basis points. The windowed count
    // can't use a window frame (count DISTINCT over a range isn't
    // expressible), so the day spine (one row per day — tiny at any
    // scale) broadcast-joins the deduped user-day set with a 7-day band:
    // each user-day lands in at most 7 spine days, a bounded fan-out,
    // never a cross product.
    "events_stickiness" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        .localCheckpoint(true) // feeds the spine, dau, and the band join
      val days = ud.select(col("d").as("day")).distinct()
      val dau = ud.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
      val wau = broadcast(days).join(ud,
          col("d").between(date_sub(col("day"), 6), col("day")))
        .groupBy(col("day")).agg(count_distinct(col("user_id")).as("wau"))
      dau.join(wau, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"),
          expr("(dau * 10000) div wau").as("stickiness_bp"))
        .orderBy(col("day"))
    }),

    // Hash-bucket balance audit for a 32-bucket keyed layout (the
    // KeyedParquetSink / bucketed-join shape): per bucket, row count and
    // load factor in bp of the balanced ideal (10000 = perfectly even).
    // The bucket is an engine-portable md5-derived hash, so the oracle
    // reproduces the exact assignment; one rollup + a 1-row total.
    "etl_bucket_balance" -> ((s, dir) => {
      val bucket = pmod(conv(substring(md5(col("c_custkey").cast("string")), 1, 2), 16, 10)
        .cast("long"), lit(32L))
      val b = Tables.customer(s, dir).select(bucket.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      val tot = b.agg(sum(col("n")).as("total"))
      b.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"),
          expr("(n * 32 * 10000) div total").as("load_bp"))
        .orderBy(col("bucket"))
    }),

    // Attribution-window calibration: conversion counts within 1 h / 6 h /
    // 24 h / ever of each user's FIRST signup — the sweep that picks a
    // funnel window before locking a metric definition. Two keyed
    // aggregates and one user-keyed join; deltas are exact integer
    // seconds. Single-row output at any scale.
    "events_funnel_windows" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val signed = e.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("fs"))
      val firstPurch = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
        .join(signed, Seq("user_id"))
        .where(col("ts") > col("fs"))
        .groupBy(col("user_id"))
        .agg(min(expr("unix_micros(ts)") - expr("unix_micros(fs)")).as("d_us"))
      signed.join(firstPurch, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_signed"),
          count(col("d_us")).as("conv_ever"),
          sum(when(col("d_us") <= 3600L * 1000000, 1L).otherwise(0L)).as("conv_1h"),
          sum(when(col("d_us") <= 6 * 3600L * 1000000, 1L).otherwise(0L)).as("conv_6h"),
          sum(when(col("d_us") <= 24 * 3600L * 1000000, 1L).otherwise(0L)).as("conv_24h"))
    }),

    // Revenue-LTV cohort triangle: customers bucketed by first-order
    // month, exact integer-cent revenue per (cohort, months-since) cell
    // with the running cumulative — the classic LTV curve. Month distance
    // is pure integer arithmetic (y·12+m), and the cumulative window runs
    // over the months² cell table, never over orders.
    "q_cohort_ltv" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        col("o_orderdate"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val mIdx = (c: org.apache.spark.sql.Column) => year(c) * 12 + month(c)
      val cohort = o.groupBy(col("o_custkey"))
        .agg(min(trunc(col("o_orderdate"), "month")).as("cm"))
      val cells = o.join(cohort, Seq("o_custkey"))
        .groupBy(date_format(col("cm"), "yyyy-MM").as("cohort"),
          (mIdx(col("o_orderdate")) - mIdx(col("cm"))).cast("long").as("months_since"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
      val w = Window.partitionBy(col("cohort")).orderBy(col("months_since"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
        .orderBy(col("cohort"), col("months_since"))
    }),

    // Session-length distribution: sessions bucketed by event count with
    // duration stats — the engagement histogram on top of sessionize.
    // One extra keyed rollup over the session table; output is one row
    // per distinct session length.
    "events_session_stats" -> ((s, dir) =>
      graft.ops.Events.sessionStats(Tables.events(s, dir), "user_id", "ts", "event_id", 30)
        .groupBy(col("n_events"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("dur_sec")).as("total_dur_sec"),
          max(col("dur_sec")).as("max_dur_sec"))
        .orderBy(col("n_events"))),

    // Point-in-time velocity features: per user, event counts in the
    // trailing 1 h / 24 h / 7 d as of the corpus max timestamp — the
    // multi-horizon activity features an ML feature store materializes.
    // One 1-row max-ts scalar broadcast, then conditional sums inside a
    // single keyed aggregate (three horizons cost one shuffle, not
    // three).
    "events_velocity" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val mx = e.agg(max(col("ts")).as("mxts"))
      e.crossJoin(broadcast(mx))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("ts") >= col("mxts") - expr("INTERVAL 1 HOUR"), 1L)
            .otherwise(0L)).as("n_1h"),
          sum(when(col("ts") >= col("mxts") - expr("INTERVAL 24 HOURS"), 1L)
            .otherwise(0L)).as("n_24h"),
          sum(when(col("ts") >= col("mxts") - expr("INTERVAL 7 DAYS"), 1L)
            .otherwise(0L)).as("n_7d"))
        .orderBy(col("user_id"))
    }),

    // Multiple DISTINCT aggregates in one pass (users, types, plus plain
    // counts per day) — exercises Spark's Expand-based rewrite: one scan,
    // one logical aggregate, no self-joins.
    "q_count_distinct_multi" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          count_distinct(col("event_type")).as("n_types"))
        .orderBy(col("day"))),

    // Cumulative user growth: per first-seen day, new users and the
    // running total — the acquisition curve. The cumulative window runs
    // over the per-day rollup (tens of rows), never users.
    "events_user_growth" -> ((s, dir) => {
      val w = Window.orderBy(col("fd"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("fd"))
        .groupBy(col("fd")).agg(count(lit(1)).as("n_new"))
        .withColumn("cum_users", sum(col("n_new")).over(w))
        .select(date_format(col("fd"), "yyyy-MM-dd").as("day"),
          col("n_new"), col("cum_users"))
        .orderBy(col("day"))
    }),

    // Order-backlog time series: per month, orders placed vs orders fully
    // shipped (an order ships when its LAST lineitem ships) and the
    // cumulative open count. Two keyed rollups over a month spine; the
    // cumulative windows run over months (constant-size), never orders.
    "q_backlog" -> ((s, dir) => {
      val placed = Tables.orders(s, dir)
        .groupBy(trunc(col("o_orderdate"), "month").as("m"))
        .agg(count(lit(1)).as("n_placed"))
      val shipped = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("sd"))
        .groupBy(trunc(col("sd"), "month").as("m"))
        .agg(count(lit(1)).as("n_shipped"))
      val w = Window.orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // FULL OUTER on the month key IS the spine — a union+distinct spine
      // would re-scan both tables a second time
      placed.join(shipped, Seq("m"), "full_outer")
        .select(col("m"),
          coalesce(col("n_placed"), lit(0L)).as("n_placed"),
          coalesce(col("n_shipped"), lit(0L)).as("n_shipped"))
        .withColumn("open_orders",
          sum(col("n_placed") - col("n_shipped")).over(w))
        .select(date_format(col("m"), "yyyy-MM").as("month"),
          col("n_placed"), col("n_shipped"), col("open_orders"))
        .orderBy(col("month"))
    }),

    // Source × language mixing report: doc/token counts per cell with the
    // cell's token share of the corpus in bp — the input a data-mixing
    // policy reads. One scan, one small keyed rollup, one 1-row total.
    "corpus_source_mix" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("lang"), TA.tokenCount(col("text")).as("nt"))
      val tot = d.agg(sum(col("nt")).as("total_tokens"))
      d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          expr("(n_tokens * 10000) div total_tokens").as("token_share_bp"))
        .orderBy(col("source"), col("lang"))
    }),

    // Naive trailing-mean forecast backtest: each day's actual cent total
    // vs the mean of the previous ≤7 daily totals (integer cents,
    // truncating div), absolute error in basis points of the forecast.
    // The window runs over the DAILY rollup (tens of rows), never raw
    // events — the cheapest "is volume on trend" monitor.
    "events_forecast_naive" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
      daily
        .withColumn("prev_sum", sum(col("cents")).over(w))
        .withColumn("n_prev", count(col("cents")).over(w))
        .where(col("n_prev") > 0)
        .withColumn("forecast_cents", expr("prev_sum div n_prev"))
        .withColumn("err_bp",
          expr("(abs(cents - forecast_cents) * 10000) div forecast_cents"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("cents"), col("n_prev"), col("forecast_cents"), col("err_bp"))
        .orderBy(col("day"))
    }),

    // New-vs-returning split per day: users first seen that day vs the
    // rest of that day's actives, share in bp. One distinct user-day
    // projection, a per-user min (first day), and a keyed rollup.
    "events_new_vs_returning" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val first = ud.groupBy(col("user_id")).agg(min(col("d")).as("fd"))
      ud.join(first, Seq("user_id"))
        .groupBy(date_format(col("d"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("dau"),
          sum(when(col("d") === col("fd"), 1L).otherwise(0L)).as("n_new"))
        .select(col("day"), col("dau"), col("n_new"),
          (col("dau") - col("n_new")).as("n_returning"),
          expr("(n_new * 10000) div dau").as("new_share_bp"))
        .orderBy(col("day"))
    }),

    // Character-class composition per doc: alpha / digit / space / other
    // counts and truncating basis points — the cheapest "is this text or
    // garbage" probe, one codegen'd per-row kernel, zero shuffles beyond
    // the final order. Explicit ASCII classes so Java and RE2 regex
    // semantics can't diverge.
    "text_char_classes" -> ((s, dir) => {
      val t = col("text")
      val nAlpha = length(t) - length(regexp_replace(t, "[A-Za-z]", ""))
      val nDigit = length(t) - length(regexp_replace(t, "[0-9]", ""))
      val nSpace = length(t) - length(regexp_replace(t, " ", ""))
      Tables.documents(s, dir)
        .where(length(t) > 0)
        .select(
          col("doc_id"), length(t).cast("long").as("n_chars"),
          nAlpha.cast("long").as("n_alpha"), nDigit.cast("long").as("n_digit"),
          nSpace.cast("long").as("n_space"),
          (length(t) - nAlpha - nDigit - nSpace).cast("long").as("n_other"))
        .withColumn("alpha_bp", expr("(10000 * n_alpha) div n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Token-length histogram on log2 buckets — the sequence-length
    // distribution a training job reads to pick packing / truncation
    // lengths. The bucket is integer-exact in both engines: length of the
    // binary rendering of the token count (floor(log2)+1) — no floating
    // log whose last ulp could disagree. Output is ~log2(maxlen) rows.
    "corpus_length_hist" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(TA.tokenCount(col("text")).as("nt"))
        .withColumn("bucket", length(bin(col("nt"))).cast("long"))
      d.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          min(col("nt")).as("min_tokens"), max(col("nt")).as("max_tokens"))
        .orderBy(col("bucket"))
    }),

    // Code-likeness detection: brace/bracket/operator density, digit
    // density, and line shape — the signals a corpus router uses to send
    // documents to a code pipeline vs a prose one. Pure per-row kernel in
    // integer basis points; `verdict` is the routed class.
    "text_code_detect" -> ((s, dir) => {
      val t = col("text")
      val nSym = length(t) - length(regexp_replace(t, "[{}()\\[\\];=<>]", ""))
      Tables.documents(s, dir)
        .where(length(t) > 0)
        .select(col("doc_id"), nSym.cast("long").as("n_sym"),
          length(t).cast("long").as("nc"))
        .withColumn("sym_bp", expr("(10000 * n_sym) div nc"))
        .select(col("doc_id"), col("n_sym"), col("sym_bp"),
          when(col("sym_bp") >= 200, lit("code")).otherwise(lit("prose"))
            .as("verdict"))
        .orderBy(col("doc_id"))
    }),

    // Contingency table with expected counts: observed (returnflag ×
    // linestatus) cells next to the independence expectation
    // row_total·col_total/n, scaled ×10000 into integer space so both
    // engines agree bit-for-bit (the chi-square INPUT, which is the part
    // an engine should compute — the scalar test statistic is driver
    // math). One rollup plus two marginal rollups joined back on their
    // keys; output is cells², never row-sized.
    "q_contingency" -> ((s, dir) => {
      // marginals re-aggregate the TINY cell table (≤ flags×statuses
      // rows), not the corpus — one parquet scan total
      val cells = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("obs"))
        .localCheckpoint(true)
      val rows = cells.groupBy(col("l_returnflag")).agg(sum(col("obs")).as("row_n"))
      val cols = cells.groupBy(col("l_linestatus")).agg(sum(col("obs")).as("col_n"))
      val tot = cells.agg(sum(col("obs")).as("n"))
      cells.join(rows, Seq("l_returnflag")).join(cols, Seq("l_linestatus"))
        .crossJoin(broadcast(tot))
        .select(col("l_returnflag"), col("l_linestatus"), col("obs"),
          col("row_n"), col("col_n"),
          // DECIMAL(38,0) product: row_n·col_n·10⁴ overflows LONG once
          // marginals pass ~10⁹ rows — real at 100 TB
          expr("CAST((CAST(row_n AS DECIMAL(38,0)) * col_n * 10000) div n AS BIGINT)")
            .as("expected_x10k"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Conditional-aggregate kernels: FILTER-style counts, boolean
    // aggregates, and conditional sums per group — all map-side partial,
    // one shuffle on the group key.
    "q_cond_aggs" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n_bigqty"),
          bool_and(col("l_extendedprice") > 0).as("all_pos"),
          bool_or(col("l_discount") > lit(0.05)).as("any_hidisc"),
          dsum(when(col("l_discount") > lit(0.05), col("l_extendedprice"))
            .otherwise(lit(0.0))).as("hidisc_rev"))
        .orderBy(col("l_returnflag"))),

    // Matryoshka-style two-stage vector search: a COARSE cosine over the
    // first 16 of 64 dimensions shortlists 50 candidates (4× less memory
    // traffic per vector — at 100 TB the prefix sub-vectors are a column
    // a quarter the size, scanned instead of the full embedding), then
    // the survivors pay the full-dimension cosine and the top 10 win.
    // Both stages rank and emit integer BASIS POINTS over milli-quantized
    // components (Similarity.cosBp) with id tiebreaks, so the shortlist
    // and final ranking are bit-stable across engines — round(double, 4)
    // ranking (the r6 hash-break class) never appears.
    "sim_prefix_rerank" -> ((s, dir) => {
      val emb = SimShared.miln(s, dir)
        .withColumn("mp", slice(col("mq"), 1, 16))
        .withColumn("npsq", Similarity.normSqMilli(col("mp")))
      val q = emb.where(col("vec_id") === 0L)
        .select(col("mq").as("qmq"), col("mp").as("qmp"),
          col("nsq").as("qnsq"), col("npsq").as("qnpsq"))
      val cand = emb.where(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q))
        .withColumn("coarse_bp",
          Similarity.cosBp(Similarity.dotMilli(col("mp"), col("qmp")),
            col("npsq"), col("qnpsq")))
        .orderBy(col("coarse_bp").desc, col("vec_id")).limit(50)
      cand.withColumn("cos_bp",
          Similarity.cosBp(Similarity.dotMilli(col("mq"), col("qmq")),
            col("nsq"), col("qnsq")))
        .orderBy(col("cos_bp").desc, col("vec_id")).limit(10)
        .select(col("vec_id"), col("coarse_bp"), col("cos_bp"))
    })
  )

  private def charClassSql(cls: String) =
    s"length(text) - length(regexp_replace(text, '$cls', '', 'g'))"

  val oracle: Map[String, String] = Map(
    "events_seasonality" ->
      """WITH e AS (SELECT CAST(strftime(CAST(ts AS TIMESTAMP), '%w') AS BIGINT) AS dow,
        |  CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
        |  user_id, value FROM events),
        |t AS (SELECT count(*) AS total FROM e)
        |SELECT dow, hod, count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
        |  CAST(count(*) * 10000 // t.total AS BIGINT) AS share_bp
        |FROM e, t GROUP BY dow, hod, t.total ORDER BY dow, hod""".stripMargin,

    "events_pareto" ->
      """WITH u AS (
        |  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    count(*) AS n_events
        |  FROM events GROUP BY user_id),
        |t AS (SELECT sum(cents) AS total_cents, count(*) AS n FROM u),
        |d AS (SELECT cents, n_events,
        |  (row_number() OVER (ORDER BY cents DESC, user_id) - 1) * 10 // t.n + 1 AS decile
        |  FROM u, t)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS decile_cents,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(sum(cents) * 10000 // t.total_cents AS BIGINT) AS share_bp
        |FROM d, t GROUP BY decile, t.total_cents ORDER BY decile""".stripMargin,

    "events_interarrival" ->
      """WITH g AS (
        |  SELECT user_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) -
        |     epoch_us(lag(CAST(ts AS TIMESTAMP), 1) OVER
        |       (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id NULLS FIRST)))
        |      // 1000000 AS gap_s
        |  FROM events WHERE ts IS NOT NULL),
        |r AS (SELECT user_id, gap_s,
        |  row_number() OVER (PARTITION BY user_id ORDER BY gap_s) AS rk,
        |  count(*) OVER (PARTITION BY user_id) AS n
        |  FROM g WHERE gap_s IS NOT NULL)
        |SELECT user_id, count(*) AS n_gaps,
        |  min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s,
        |  CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
        |  max(CASE WHEN rk = (n + 1) // 2 THEN gap_s END) AS median_gap_s
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "etl_bucket_balance" ->
      """WITH b AS (
        |  SELECT ((strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1) * 16 +
        |          (strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 2, 1)) - 1)) % 32
        |    AS bucket
        |  FROM customer),
        |g AS (SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n FROM b GROUP BY bucket),
        |t AS (SELECT sum(n) AS total FROM g)
        |SELECT bucket, n, CAST(n * 32 * 10000 // t.total AS BIGINT) AS load_bp
        |FROM g, t ORDER BY bucket""".stripMargin,

    "events_funnel_windows" ->
      """WITH s AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS fs FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id,
        |    min(epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(s.fs)) AS d_us
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s.fs
        |  GROUP BY e.user_id)
        |SELECT count(*) AS n_signed,
        |  CAST(count(p.d_us) AS BIGINT) AS conv_ever,
        |  CAST(sum(CASE WHEN p.d_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS conv_1h,
        |  CAST(sum(CASE WHEN p.d_us <= 21600000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS conv_6h,
        |  CAST(sum(CASE WHEN p.d_us <= 86400000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS conv_24h
        |FROM s LEFT JOIN p USING (user_id)""".stripMargin,

    "q_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |c AS (SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cm
        |      FROM o GROUP BY o_custkey),
        |cells AS (
        |  SELECT strftime(c.cm, '%Y-%m') AS cohort,
        |    CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate))
        |      - (year(c.cm) * 12 + month(c.cm)) AS BIGINT) AS months_since,
        |    count(*) AS n_orders, CAST(sum(o.cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN c USING (o_custkey) GROUP BY 1, 2)
        |SELECT cohort, months_since, n_orders, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY months_since
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        |FROM cells ORDER BY cohort, months_since""".stripMargin,

    "events_session_stats" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR date_diff('second', lag(CAST(ts AS TIMESTAMP)) OVER w, CAST(ts AS TIMESTAMP)) > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked),
        |st AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur_sec
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT n_events, count(*) AS n_sessions,
        |  CAST(sum(dur_sec) AS BIGINT) AS total_dur_sec,
        |  CAST(max(dur_sec) AS BIGINT) AS max_dur_sec
        |FROM st GROUP BY n_events ORDER BY n_events""".stripMargin,

    "events_velocity" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT max(ts) AS mxts FROM e)
        |SELECT user_id, count(*) AS n_total,
        |  CAST(sum(CASE WHEN ts >= mxts - INTERVAL 1 HOUR THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_1h,
        |  CAST(sum(CASE WHEN ts >= mxts - INTERVAL 24 HOUR THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_24h,
        |  CAST(sum(CASE WHEN ts >= mxts - INTERVAL 7 DAY THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_7d
        |FROM e, m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_count_distinct_multi" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "events_user_growth" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS fd
        |  FROM events GROUP BY user_id),
        |d AS (SELECT fd, count(*) AS n_new FROM f GROUP BY fd)
        |SELECT strftime(fd, '%Y-%m-%d') AS day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY fd ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_users
        |FROM d ORDER BY day""".stripMargin,

    "q_backlog" ->
      """WITH placed AS (
        |  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_placed
        |  FROM orders GROUP BY 1),
        |shipped AS (
        |  SELECT date_trunc('month', sd) AS m, count(*) AS n_shipped
        |  FROM (SELECT l_orderkey, max(l_shipdate) AS sd FROM lineitem
        |        GROUP BY l_orderkey) o GROUP BY 1),
        |spine AS (SELECT m FROM placed UNION SELECT m FROM shipped),
        |j AS (
        |  SELECT spine.m, coalesce(n_placed, 0) AS n_placed,
        |    coalesce(n_shipped, 0) AS n_shipped
        |  FROM spine LEFT JOIN placed USING (m) LEFT JOIN shipped USING (m))
        |SELECT strftime(m, '%Y-%m') AS month,
        |  CAST(n_placed AS BIGINT) AS n_placed,
        |  CAST(n_shipped AS BIGINT) AS n_shipped,
        |  CAST(sum(n_placed - n_shipped) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS open_orders
        |FROM j ORDER BY month""".stripMargin,

    "corpus_source_mix" ->
      """WITH d AS (
        |  SELECT source, lang, len(string_split(trim(text), ' ')) AS nt
        |  FROM documents),
        |t AS (SELECT sum(nt) AS total_tokens FROM d)
        |SELECT source, lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(nt) * 10000 // t.total_tokens AS BIGINT) AS token_share_bp
        |FROM d, t GROUP BY source, lang, t.total_tokens
        |ORDER BY source, lang""".stripMargin,

    "events_forecast_naive" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, cents,
        |  sum(cents) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS prev_sum,
        |  count(cents) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prev
        |  FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day, cents,
        |  CAST(n_prev AS BIGINT) AS n_prev,
        |  CAST(prev_sum // n_prev AS BIGINT) AS forecast_cents,
        |  CAST(abs(cents - prev_sum // n_prev) * 10000 // (prev_sum // n_prev) AS BIGINT)
        |    AS err_bp
        |FROM w WHERE n_prev > 0 ORDER BY day""".stripMargin,

    "events_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id
        |            FROM events),
        |f AS (SELECT user_id, min(d) AS fd FROM ud GROUP BY user_id)
        |SELECT strftime(d, '%Y-%m-%d') AS day, count(*) AS dau,
        |  CAST(sum(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(count(*) - sum(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returning,
        |  CAST(sum(CASE WHEN d = fd THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
        |    AS new_share_bp
        |FROM ud JOIN f USING (user_id) GROUP BY d ORDER BY day""".stripMargin,

    "events_stickiness" ->
      """WITH ud AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id
        |            FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |dau AS (SELECT d AS day, count(*) AS dau FROM ud GROUP BY d),
        |wau AS (
        |  SELECT days.day, count(DISTINCT ud.user_id) AS wau
        |  FROM days JOIN ud ON ud.d BETWEEN days.day - INTERVAL 6 DAY AND days.day
        |  GROUP BY days.day)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau,
        |  CAST(wau.wau AS BIGINT) AS wau,
        |  CAST(dau.dau * 10000 // wau.wau AS BIGINT) AS stickiness_bp
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,

    "text_char_classes" -> {
      val alpha = charClassSql("[A-Za-z]")
      val digit = charClassSql("[0-9]")
      val space = charClassSql(" ")
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST($alpha AS BIGINT) AS n_alpha,
         |  CAST($digit AS BIGINT) AS n_digit,
         |  CAST($space AS BIGINT) AS n_space,
         |  CAST(length(text) - ($alpha) - ($digit) - ($space) AS BIGINT) AS n_other,
         |  CAST(10000 * ($alpha) // length(text) AS BIGINT) AS alpha_bp
         |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin
    },

    "corpus_length_hist" ->
      """WITH d AS (
        |  SELECT len(string_split(trim(text), ' ')) AS nt,
        |    CAST(length(bin(len(string_split(trim(text), ' ')))) AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT bucket, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(min(nt) AS BIGINT) AS min_tokens, CAST(max(nt) AS BIGINT) AS max_tokens
        |FROM d GROUP BY bucket ORDER BY bucket""".stripMargin,

    "text_code_detect" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    length(text) - length(regexp_replace(text, '[{}()\[\];=<>]', '', 'g')) AS n_sym,
        |    length(text) AS nc
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, CAST(n_sym AS BIGINT) AS n_sym,
        |  CAST(10000 * n_sym // nc AS BIGINT) AS sym_bp,
        |  CASE WHEN 10000 * n_sym // nc >= 200 THEN 'code' ELSE 'prose' END AS verdict
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_contingency" ->
      """WITH l AS (SELECT l_returnflag, l_linestatus FROM lineitem),
        |cells AS (SELECT l_returnflag, l_linestatus, count(*) AS obs
        |          FROM l GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, count(*) AS row_n FROM l GROUP BY 1),
        |c AS (SELECT l_linestatus, count(*) AS col_n FROM l GROUP BY 1),
        |t AS (SELECT count(*) AS n FROM l)
        |SELECT cells.l_returnflag, cells.l_linestatus, cells.obs,
        |  CAST(r.row_n AS BIGINT) AS row_n, CAST(c.col_n AS BIGINT) AS col_n,
        |  CAST((CAST(r.row_n AS HUGEINT) * c.col_n * 10000) // t.n AS BIGINT)
        |    AS expected_x10k
        |FROM cells JOIN r USING (l_returnflag) JOIN c USING (l_linestatus), t
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_cond_aggs" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bigqty,
        |  bool_and(l_extendedprice > 0) AS all_pos,
        |  bool_or(l_discount > 0.05) AS any_hidisc,
        |  CAST(sum(CAST(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END
        |    AS DECIMAL(18,4))) AS DOUBLE) AS hidisc_rev
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sim_prefix_rerank" -> {
      // integer basis-point cosine over the first n milli-quantized dims —
      // the oracle twin of Similarity.cosBp(dotMilli(slice), normSq(slice))
      def dotmN(x: String, y: String, n: Int) =
        s"CAST(list_sum(list_transform(range(1, ${n + 1}), i -> $x[CAST(i AS INTEGER)] * $y[CAST(i AS INTEGER)])) AS BIGINT)"
      def cosBpN(x: String, y: String, n: Int) =
        s"""(CASE WHEN ${dotmN(x, x, n)} * ${dotmN(y, y, n)} = 0 THEN CAST(0 AS BIGINT)
           |  ELSE CAST(floor(CAST(${dotmN(x, y, n)} * 10000 AS DOUBLE)
           |    / sqrt(CAST(${dotmN(x, x, n)} * ${dotmN(y, y, n)} AS DOUBLE))) AS BIGINT) END)""".stripMargin
      s"""WITH mil AS (SELECT vec_id, list_transform(embedding,
         |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 3) AS DECIMAL(7,3)) * 1000 AS BIGINT)) AS mq
         |  FROM embeddings),
         |q AS (SELECT mq AS qmq FROM mil WHERE vec_id = 0),
         |c AS (
         |  SELECT e.vec_id, e.mq,
         |    ${cosBpN("e.mq", "q.qmq", 16)} AS coarse_bp
         |  FROM mil e, q WHERE e.vec_id <> 0
         |  ORDER BY coarse_bp DESC, e.vec_id LIMIT 50)
         |SELECT vec_id, coarse_bp,
         |  ${cosBpN("c.mq", "q.qmq", 64)} AS cos_bp
         |FROM c, q
         |ORDER BY cos_bp DESC, vec_id LIMIT 10""".stripMargin
    }
  )
}
