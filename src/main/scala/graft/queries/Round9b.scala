package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.ops.{TextAnalysis => TA}

/** Round-9 batch 2: the remaining classic TPC-H report shapes the
  * reference's dashboard queries map onto (Q9/Q10/Q12/Q13/Q14/Q18/Q22
  * — reference: etlService.js revenue/priority/idle-account reports),
  * an iterative integer PageRank over the supplier–part bipartite
  * graph, per-key rolling medians, late-arrival audit, small-file
  * compaction planning, inverted-index keyword search, and
  * co-occurrence lift — every output integer-exact (cents / basis
  * points / epoch days) so the DuckDB oracle hash-matches bit-for-bit.
  *
  * Money convention (house rule, SURVEY §6): cents =
  * round(price·100), disc_bp = round(discount·10⁴), and discounted
  * revenue = cents·(10⁴−disc_bp) div 10⁴ — one double rounding per
  * source column, then integer-only arithmetic, so no
  * engine-divergent double chain ever reaches an emitted column.
  */
object Round9b extends Module {

  private val SCALE = 1000000000L // PageRank fixed-point scale (1e9)

  // Shared kernels (graft.ops.Sketch / graft.ops.Graph): ONE definition
  // serves this oracle-checked query, the streaming twin, and the scale
  // probe, so none can silently drift from the others.
  private def h3Sql(e: String): String = graft.ops.Sketch.h3Sql(e)

  /** Discounted revenue in exact integer cents. */
  private def revCents = {
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val discBp = round(col("l_discount") * 10000).cast("long")
    idiv(cents * (lit(10000L) - discBp), lit(10000L))
  }

  val queries: Map[String, Q] = Map(

    // TPC-H Q9 shape: profit by supplier nation × order year. The
    // testdata has no partsupp, so cost is proxied as qty · retail/2
    // (integer cents) — the SHAPE is the point: a 4-way
    // fact-to-dimension join tree where only `nation` is broadcast
    // (supplier/part/orders grow with sf; they shuffle on their keys
    // and AQE picks the strategy at runtime). Output is bounded
    // (nations × years), so the final rollup is cheap everywhere.
    "q9_profit" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        round(col("l_quantity")).cast("long").as("qty"),
        revCents.as("rev_cents"))
      val part = Tables.part(s, dir).select(
        col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("retail_cents"))
      val supp = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).cast("long").as("yr"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("profit_cents",
          col("rev_cents") - idiv(col("qty") * col("retail_cents"), lit(2L)))
        .groupBy(col("n_name"), col("yr"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("profit_cents")).as("profit_cents"))
        .orderBy(col("n_name"), col("yr"))
    }),

    // TPC-H Q10 shape: top-20 customers by RETURNED revenue. The
    // returnflag filter lands in the parquet scan; the bounded top-20
    // is a distributed TakeOrdered (per-partition heads + driver
    // merge), never a global sort.
    "q10_returns" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), revCents.as("rev_cents"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("rev_cents")).as("rev_cents"))
        .orderBy(col("rev_cents").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q12 shape: order-priority mix by ship latency band. The
    // testdata has no shipmode, so the band is days(ship − order) —
    // the same high/low-priority CASE-sum rollup over a fact join,
    // output bounded at 3 bands.
    "q12_ship_latency" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("lat_d",
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
            .cast("long"))
        .withColumn("band",
          when(col("lat_d") <= 30, "0-30d")
            .when(col("lat_d") <= 90, "31-90d")
            .otherwise("90d+"))
        .groupBy(col("band"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("band"))
    }),

    // TPC-H Q13: customer distribution by order count — the classic
    // LEFT-join double aggregation (customers with zero orders land in
    // the c_count=0 bucket, which an inner join would silently drop).
    "q13_custdist" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).select(col("c_custkey"))
      val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q14 shape: PROMO revenue share per ship month, in integer
    // basis points (share = promo_rev·10⁴ div total_rev — exact, no
    // double division). part joins on partkey (shuffle; sf-scaled dim),
    // output bounded at one row per month.
    "q14_promo_share" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        revCents.as("rev_cents"))
      val part = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("month"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev_cents")).otherwise(0L))
            .as("promo_cents"),
          sum(col("rev_cents")).as("total_cents"))
        .withColumn("promo_share_bp",
          idiv(col("promo_cents") * 10000, col("total_cents")))
        .select(col("month"), col("promo_cents"), col("total_cents"),
          col("promo_share_bp"))
        .orderBy(col("month"))
    }),

    // TPC-H Q18: large-volume orders — GROUP-HAVING on the fact, then
    // join the survivors (p99 tail, output ∝ orders·1%) back to
    // orders + customer. The having-filter runs BEFORE the dimension
    // joins, so only the tail shuffles twice.
    "q18_big_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("total_qty"))
        .where(col("total_qty") >= 250)
      val ord = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"),
        iso(col("o_orderdate")).as("orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("orderdate"), col("cents"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    }),

    // TPC-H Q22 shape: idle accounts — customers above the mean
    // balance (mean over positive balances, exact integer floor) with
    // NO orders (anti join), rolled up by nation. The mean is a
    // 1-row broadcast cross join, the anti join shuffles on custkey.
    "q22_idle_customers" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        .localCheckpoint(true) // feeds the mean AND the candidate filter
      val avg1 = cust.where(col("bal_cents") > 0)
        .agg(idiv(sum(col("bal_cents")), count(lit(1))).as("avg_cents"))
      val ord = Tables.orders(s, dir).select(col("o_custkey"))
      cust.crossJoin(broadcast(avg1))
        .where(col("bal_cents") > col("avg_cents"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"), sum(col("bal_cents")).as("bal_cents"))
        .orderBy(col("c_nationkey"))
    }),

    // Integer PageRank over the supplier–part bipartite graph (edges =
    // distinct lineitem (supp, part) pairs, both directions). Fixed
    // 3 iterations of pr' = (15·(S div n)) div 100 + (85·Σ pr div od)
    // div 100 at fixed-point scale S=1e9 — every step integer, so the
    // oracle's chained-CTE replay lands on identical longs. Each
    // iteration is one co-keyed join + one keyed rollup (shuffles on
    // node id only); the edge list is built once and checkpointed.
    // No dangling nodes by construction (undirected ⇒ outdeg ≥ 1).
    "graph_pagerank" -> ((s, dir) =>
      // the iteration kernel lives in graft.ops.Graph, shared verbatim
      // with graph_pagerank_residual; the degree-annotated edge frame is the SHARED
      // per-(session, dataset) build (GraphShared) every pagerank-family
      // member iterates over (each iteration exchanges only the
      // |V|-sized rank frame)
      graft.ops.Graph.pagerankFrom(
          GraphShared.prDeg(s, dir), GraphShared.prEdges(s, dir), 3, SCALE)
        .orderBy(col("pr").desc, col("node")).limit(30)),

    // Per-user rolling median (7-event window) of purchase cents —
    // the windowed-quantile kernel feature pipelines need. The frame
    // is BOUNDED (6 preceding + current), so the in-window sort is
    // over ≤7 elements regardless of data size; the per-user rollup
    // (sum/min/max over every rolling value) pins all 60k window
    // evaluations into 150 hash-checked rows.
    "events_rolling_median" -> ((s, dir) => {
      val e = Tables.events(s, dir).where(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      e.withColumn("win", sort_array(collect_list(col("cents")).over(w)))
        .withColumn("med",
          element_at(col("win"), ((size(col("win")) + 1) / 2).cast("int")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), min(col("med")).as("min_med"),
          max(col("med")).as("max_med"), sum(col("med")).as("sum_med"))
        .orderBy(col("user_id"))
    }),

    // Event-type affinity: for each type pair, the user co-occurrence
    // count and lift in basis points (lift = c_xy·n·10⁴ div (c_x·c_y)).
    // The self-join is WITHIN user over the distinct-type set (≤5 types
    // ⇒ ≤10 pairs per user — bounded fan-out); output is the fixed
    // type-pair matrix.
    "events_type_affinity" -> ((s, dir) => {
      val ut = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint(true) // feeds pairs AND the per-type counts
      val n = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("n"))
      val cx = ut.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
      val pairs = ut.as("l").join(ut.as("r"), Seq("user_id"))
        .where(col("l.event_type") < col("r.event_type"))
        .groupBy(col("l.event_type").as("ta"), col("r.event_type").as("tb"))
        .agg(count(lit(1)).as("c_xy"))
      pairs
        .join(broadcast(cx.withColumnRenamed("event_type", "ta")
          .withColumnRenamed("c", "c_a")), Seq("ta"))
        .join(broadcast(cx.withColumnRenamed("event_type", "tb")
          .withColumnRenamed("c", "c_b")), Seq("tb"))
        .crossJoin(broadcast(n))
        .withColumn("lift_bp",
          idiv(col("c_xy") * col("n") * 10000, col("c_a") * col("c_b")))
        .select(col("ta"), col("tb"), col("c_xy"), col("c_a"), col("c_b"),
          col("lift_bp"))
        .orderBy(col("ta"), col("tb"))
    }),

    // Late-arrival audit: an event is late when an already-ingested
    // event of the same type (arrival order = event_id) carries a
    // LATER event time. The per-type running max is the TWO-PHASE
    // shape (per-(type, id-block) max + prefix-max over blocks +
    // within-block running max) so no window ever orders a whole
    // type's rows in one task. Output: type × lateness band.
    "etl_late_arrivals" -> ((s, dir) => {
      val e = Tables.events(s, dir).where(col("ts").isNotNull)
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("blk", expr("event_id div 65536"))
      val grp = e.groupBy(col("event_type"), col("blk"))
        .agg(max(col("us")).as("bm"))
      val wB = Window.partitionBy(col("event_type")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1) // over blocks: bounded
      val offs = grp.withColumn("pm", max(col("bm")).over(wB))
        .select(col("event_type"), col("blk"), col("pm"))
      // (event_id, us) order: a replayed log can carry duplicate ids,
      // and with id-only ordering the frame boundary among ties is
      // nondeterministic — the `us` tiebreaker pins it on BOTH engines
      val wIn = Window.partitionBy(col("event_type"), col("blk"))
        .orderBy(col("event_id"), col("us"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.join(broadcast(offs), Seq("event_type", "blk"))
        .withColumn("prev", greatest(
          coalesce(col("pm"), lit(Long.MinValue)),
          coalesce(max(col("us")).over(wIn), lit(Long.MinValue))))
        .withColumn("late_s",
          when(col("prev") === Long.MinValue, 0L)
            .otherwise(greatest(idiv(col("prev") - col("us"), lit(1000000L)),
              lit(0L))))
        .withColumn("band",
          when(col("late_s") <= 0, "on_time")
            .when(col("late_s") < 60, "lt_1m")
            .when(col("late_s") < 3600, "lt_1h")
            .otherwise("ge_1h"))
        .groupBy(col("event_type"), col("band"))
        .agg(count(lit(1)).as("n"), max(col("late_s")).as("max_late_s"))
        .orderBy(col("event_type"), col("band"))
    }),

    // Small-file compaction planner: per source, docs roll up into
    // 64-doc "files" (id-block proxies with real byte sizes), and
    // files pack greedily in id order into ~256 KiB output groups via
    // the two-phase prefix sum (prefix div target). Emits the merge
    // plan (one row per output group) a lakehouse OPTIMIZE job would
    // execute — output ∝ corpus bytes / 256 KiB.
    "etl_compaction_plan" -> ((s, dir) => {
      val files = Tables.documents(s, dir)
        .select(col("source"), expr("doc_id div 64").as("file_id"),
          length(col("text")).cast("long").as("b"))
        .groupBy(col("source"), col("file_id"))
        .agg(sum(col("b")).as("bytes"), count(lit(1)).as("n_docs"))
        .withColumn("blk", expr("file_id div 256"))
        .localCheckpoint(true) // feeds block sums AND the final pack
      val grp = files.groupBy(col("source"), col("blk"))
        .agg(sum(col("bytes")).as("bb"))
      val wB = Window.partitionBy(col("source")).orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1) // over blocks: bounded
      val offs = grp.withColumn("off", coalesce(sum(col("bb")).over(wB), lit(0L)))
        .select(col("source"), col("blk"), col("off"))
      val wIn = Window.partitionBy(col("source"), col("blk"))
        .orderBy(col("file_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      files.join(broadcast(offs), Seq("source", "blk"))
        .withColumn("prev",
          col("off") + coalesce(sum(col("bytes")).over(wIn), lit(0L)))
        .withColumn("grp", expr("prev div 262144"))
        .groupBy(col("source"), col("grp"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"),
          sum(col("n_docs")).as("n_docs"),
          min(col("file_id")).as("first_file"),
          max(col("file_id")).as("last_file"))
        .orderBy(col("source"), col("grp"))
    }),

    // Inverted-index AND keyword search: docs containing ALL query
    // terms, ranked by total term frequency. The token explode is
    // filtered to the 3-term set BEFORE any shuffle (postings ∝
    // matching tokens only), the ALL-terms gate is a count-distinct
    // HAVING, and top-20 is a distributed TakeOrdered.
    "text_keyword_search" -> ((s, dir) => {
      val terms = Seq("spark", "merge", "window")
      // the per-(doc, term) tf rows are a filter of the shared frame
      TokShared.tf(s, dir)
        .where(col("tok").isin(terms: _*))
        .select(col("doc_id"), col("tok"), col("tf"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("score"))
        .where(col("n_terms") === terms.length)
        .select(col("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Token co-occurrence lift over the top-30 df tokens: which word
    // pairs appear in the same document more than their document
    // frequencies predict (lift in basis points — the integer PMI
    // surrogate). The vocabulary is capped and BROADCAST, so the
    // per-doc pair fan-out is bounded at C(30,2); output is the
    // top-50 pair list.
    "text_cooccur_lift" -> ((s, dir) => {
      // distinct (doc, tok) ≡ the shared tf frame's keys (already
      // materialized — the multi-reference downstream re-derives by a
      // narrow projection)
      val docTok = TokShared.tf(s, dir).select(col("doc_id"), col("tok"))
      val nd = docTok.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("nd"))
      // capped pair kernel (graft.ops.Cooccur)
      val pairs = graft.ops.Cooccur.cappedPairs(docTok, 30)
      pairs.crossJoin(broadcast(nd))
        .withColumn("lift_bp",
          idiv(col("c_xy") * col("nd") * 10000, col("df_a") * col("df_b")))
        .select(col("ta"), col("tb"), col("c_xy"), col("lift_bp"))
        .orderBy(col("c_xy").desc, col("ta"), col("tb"))
        .limit(50)
    }),

    // Count-min sketch heavy hitters with the exact audit twin (house
    // sketch convention: the estimate ships WITH its exact value and an
    // in-query error-bound flag, so even the approximate op is
    // hash-checked). Sketch = 4 md5-hashed rows × 1024 counters built
    // in ONE keyed rollup (≤4096 cells at any data size — the whole
    // point of CMS at 100 TB); estimates = min over the 4 probed cells
    // for the exact top-10 keys. over·width ≤ 2·N is the classic
    // bound check (est ≥ exact is structural).
    "q_cms_heavy" -> ((s, dir) => {
      val W = 1024L
      val ev = Tables.events(s, dir).select(col("user_id"))
        .localCheckpoint(true) // feeds sketch, exact top-10, AND the total
      val rs = array((0 until 4).map(lit): _*)
      val sketch = graft.ops.Sketch.cmsSketch(ev, "user_id", 4, W)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(10)
      val tot = ev.agg(count(lit(1)).as("nn"))
      exact.select(col("user_id"), col("exact_n"), explode(rs).as("r"))
        .withColumn("bucket",
          graft.ops.Sketch.cmsBucket(col("user_id"), col("r"), W))
        .join(broadcast(sketch), Seq("r", "bucket"))
        .groupBy(col("user_id"), col("exact_n"))
        .agg(min(col("cnt")).as("est_n"))
        .crossJoin(broadcast(tot))
        .withColumn("overcount", col("est_n") - col("exact_n"))
        .withColumn("bound_ok",
          when(col("overcount") * W <= lit(2L) * col("nn"), 1L).otherwise(0L))
        .select(col("user_id"), col("exact_n"), col("est_n"),
          col("overcount"), col("bound_ok"))
        .orderBy(col("exact_n").desc, col("user_id"))
    }),

    // Shard manifest: the reproducibility record a training run pins —
    // per 20k-token shard (corpus_pack_budget's assignment, same
    // two-phase prefix sum), the doc count, token count, id span, and
    // an order-independent md5 over the sorted member ids. Per-shard
    // member lists are bounded by the token budget, so the collect_list
    // never exceeds ~budget elements in one task.
    "corpus_shard_manifest" -> ((s, dir) => {
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
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
          md5(array_join(
            transform(sort_array(collect_list(col("doc_id"))),
              x => x.cast("string")), ",")).as("manifest_md5"))
        .orderBy(col("shard"))
    }),

    // Incremental dedup — the PRODUCTION dedup shape: verdicts for a
    // new batch (doc_id ≡ 4 mod 5, a deterministic 20% slice) against
    // the HISTORY corpus only, never history×history. Exact path: md5
    // against the history hash set (earliest keeper). Near path, only
    // for non-exact batch docs: minhash band keys joined to the
    // history's band index (hot buckets capped at 50 — the boilerplate
    // guard), verified by exact trigram-Jaccard ≥ 0.5 via the integer
    // cross-mult 2·|∩| ≥ |∪|. At 100 TB the daily batch joins a
    // precomputed history index; nothing here rescans history pairs.
    "dedup_incremental" -> ((s, dir) => {
      // the kernel lives in graft.ops.IncrementalDedup.verdictsInline.
      // r18: the k=8 MinHash
      // signatures come as pmod row filters of the session-shared
      // full-corpus frame (LshShared.sigs8) instead of re-tokenizing and
      // re-signing the 80% history slice inside this plan — per-doc
      // signatures are text-local, so the filtered rows are bit-identical
      // (pinned by SharedFrameEquivalenceSpec); the batch-side frame
      // covers all batch docs (⊇ rem), surplus rows drop at the shB
      // semi-join inside the kernel
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val sigs = LshShared.sigs8(s, dir)
      graft.ops.IncrementalDedup.verdictsInline(
          docs.where(pmod(col("doc_id"), lit(5)) < 4),
          docs.where(pmod(col("doc_id"), lit(5)) === 4),
          "doc_id", "text",
          histSigs = Some(sigs.where(pmod(col("doc"), lit(5)) < 4)),
          batchSigs = Some(sigs.where(pmod(col("doc"), lit(5)) === 4)))
        .orderBy(col("doc_id"))
    }),
  )

  val oracle: Map[String, String] = Map(

    "q9_profit" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    CAST(round(l_quantity) AS BIGINT) AS qty,
        |    (CAST(round(l_extendedprice * 100) AS BIGINT)
        |     * (10000 - CAST(round(l_discount * 10000) AS BIGINT))) // 10000
        |      AS rev_cents
        |  FROM lineitem),
        |p AS (SELECT p_partkey,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS retail_cents FROM part)
        |SELECT n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS yr,
        |  count(*) AS n_items,
        |  CAST(sum(li.rev_cents - (li.qty * p.retail_cents) // 2) AS BIGINT)
        |    AS profit_cents
        |FROM li
        |JOIN p ON li.l_partkey = p.p_partkey
        |JOIN supplier s ON li.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON li.l_orderkey = o.o_orderkey
        |GROUP BY n.n_name, yr ORDER BY n.n_name, yr""".stripMargin,

    "q10_returns" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    (CAST(round(l_extendedprice * 100) AS BIGINT)
        |     * (10000 - CAST(round(l_discount * 10000) AS BIGINT))) // 10000
        |      AS rev_cents
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT c.c_custkey, c.c_name, n.n_name, count(*) AS n_items,
        |  CAST(sum(li.rev_cents) AS BIGINT) AS rev_cents
        |FROM li
        |JOIN orders o ON li.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY rev_cents DESC, c.c_custkey LIMIT 20""".stripMargin,

    "q12_ship_latency" ->
      """WITH j AS (
        |  SELECT CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
        |           AS BIGINT) AS lat_d,
        |    o.o_orderpriority AS pri
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT CASE WHEN lat_d <= 30 THEN '0-30d'
        |            WHEN lat_d <= 90 THEN '31-90d' ELSE '90d+' END AS band,
        |  CAST(sum(CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
        |    AS BIGINT) AS low_line_count
        |FROM j GROUP BY band ORDER BY band""".stripMargin,

    "q13_custdist" ->
      """WITH cc AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM cc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_share" ->
      """WITH li AS (
        |  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
        |    (CAST(round(l_extendedprice * 100) AS BIGINT)
        |     * (10000 - CAST(round(l_discount * 10000) AS BIGINT))) // 10000
        |      AS rev_cents
        |  FROM lineitem),
        |g AS (
        |  SELECT li.month,
        |    CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN li.rev_cents ELSE 0 END)
        |      AS BIGINT) AS promo_cents,
        |    CAST(sum(li.rev_cents) AS BIGINT) AS total_cents
        |  FROM li JOIN part p ON li.l_partkey = p.p_partkey
        |  GROUP BY li.month)
        |SELECT month, promo_cents, total_cents,
        |  CAST((promo_cents * 10000) // total_cents AS BIGINT) AS promo_share_bp
        |FROM g ORDER BY month""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(round(l_quantity) AS BIGINT)) >= 250)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
        |  big.total_qty
        |FROM big
        |JOIN orders o ON big.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY big.total_qty DESC, o.o_orderkey""".stripMargin,

    "q22_idle_customers" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |a AS (SELECT CAST(sum(bal_cents) // count(*) AS BIGINT) AS avg_cents
        |      FROM c WHERE bal_cents > 0)
        |SELECT c.c_nationkey, count(*) AS n_custs,
        |  CAST(sum(c.bal_cents) AS BIGINT) AS bal_cents
        |FROM c, a
        |WHERE c.bal_cents > a.avg_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin,

    // Chained-CTE replay of the 3 fixed-point iterations — every step
    // integer (// = Spark's div on positive longs), so pr3 is
    // bit-identical.
    "graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 's:' || l_suppkey AS a, 'p:' || l_partkey AS b
        |  FROM lineitem),
        |e AS (SELECT a AS src, b AS dst FROM e0
        |      UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM deg),
        |p0 AS (SELECT src AS node, 1000000000 // n AS pr FROM deg, nn),
        |c1 AS (SELECT e.dst AS node, sum(p.pr // d.od) AS c
        |       FROM e JOIN p0 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |p1 AS (SELECT node, (15 * (1000000000 // nn.n)) // 100 + (85 * c) // 100
        |         AS pr FROM c1, nn),
        |c2 AS (SELECT e.dst AS node, sum(p.pr // d.od) AS c
        |       FROM e JOIN p1 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |p2 AS (SELECT node, (15 * (1000000000 // nn.n)) // 100 + (85 * c) // 100
        |         AS pr FROM c2, nn),
        |c3 AS (SELECT e.dst AS node, sum(p.pr // d.od) AS c
        |       FROM e JOIN p2 p ON p.node = e.src JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |p3 AS (SELECT node, (15 * (1000000000 // nn.n)) // 100 + (85 * c) // 100
        |         AS pr FROM c3, nn)
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM p3
        |ORDER BY pr DESC, node LIMIT 30""".stripMargin,

    // quantile_disc(0.5) over a ROWS frame is DuckDB's lower median —
    // the element at 1-based index (n+1)//2 of the sorted frame,
    // exactly element_at(sort_array(win), (size+1)/2) on the Spark
    // side (verified on even and odd frames).
    "events_rolling_median" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL),
        |r AS (SELECT user_id,
        |  quantile_disc(cents, 0.5) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med
        |  FROM e)
        |SELECT user_id, count(*) AS n, min(med) AS min_med,
        |  max(med) AS max_med, CAST(sum(med) AS BIGINT) AS sum_med
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_type_affinity" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT count(DISTINCT user_id) AS n FROM ut),
        |cx AS (SELECT event_type, count(*) AS c FROM ut GROUP BY event_type),
        |p AS (
        |  SELECT l.event_type AS ta, r.event_type AS tb, count(*) AS c_xy
        |  FROM ut l JOIN ut r ON l.user_id = r.user_id
        |  WHERE l.event_type < r.event_type
        |  GROUP BY l.event_type, r.event_type)
        |SELECT p.ta, p.tb, p.c_xy, a.c AS c_a, b.c AS c_b,
        |  CAST((p.c_xy * n.n * 10000) // (a.c * b.c) AS BIGINT) AS lift_bp
        |FROM p JOIN cx a ON a.event_type = p.ta
        |       JOIN cx b ON b.event_type = p.tb, n
        |ORDER BY p.ta, p.tb""".stripMargin,

    "etl_late_arrivals" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |r AS (SELECT event_type, us,
        |  max(us) OVER (PARTITION BY event_type ORDER BY event_id, us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        |  FROM e),
        |b AS (SELECT event_type,
        |  CASE WHEN prev IS NULL OR prev <= us THEN 0
        |       ELSE (prev - us) // 1000000 END AS late_s
        |  FROM r)
        |SELECT event_type,
        |  CASE WHEN late_s <= 0 THEN 'on_time'
        |       WHEN late_s < 60 THEN 'lt_1m'
        |       WHEN late_s < 3600 THEN 'lt_1h' ELSE 'ge_1h' END AS band,
        |  count(*) AS n, CAST(max(late_s) AS BIGINT) AS max_late_s
        |FROM b GROUP BY event_type, band ORDER BY event_type, band""".stripMargin,

    "etl_compaction_plan" ->
      """WITH f AS (
        |  SELECT source, doc_id // 64 AS file_id,
        |    CAST(sum(length(text)) AS BIGINT) AS bytes, count(*) AS n_docs
        |  FROM documents GROUP BY source, doc_id // 64),
        |c AS (SELECT source, file_id, bytes, n_docs,
        |  COALESCE(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM f)
        |SELECT source, CAST(prev // 262144 AS BIGINT) AS grp,
        |  count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bytes,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  min(file_id) AS first_file, max(file_id) AS last_file
        |FROM c GROUP BY source, grp ORDER BY source, grp""".stripMargin,

    "text_keyword_search" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
         |       WHERE tok IN ('spark', 'merge', 'window') GROUP BY doc_id, tok),
         |d AS (SELECT doc_id, count(*) AS n_terms,
         |        CAST(sum(tf) AS BIGINT) AS score
         |      FROM tf GROUP BY doc_id HAVING count(*) = 3)
         |SELECT doc_id, score FROM d
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "dedup_incremental" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |hist AS (SELECT * FROM d WHERE doc_id % 5 < 4),
         |batch AS (SELECT * FROM d WHERE doc_id % 5 = 4),
         |hh AS (SELECT md5(text) AS h, min(doc_id) AS ex_keeper
         |       FROM hist GROUP BY md5(text)),
         |bx AS (SELECT b.doc_id, b.text, hh.ex_keeper
         |       FROM batch b LEFT JOIN hh ON md5(b.text) = hh.h),
         |rem AS (SELECT doc_id, text FROM bx WHERE ex_keeper IS NULL),
         |htok AS (SELECT doc_id AS doc, unnest(list_distinct($toksSql)) AS tok
         |         FROM hist),
         |hsig AS (SELECT doc, s.range AS seed,
         |           min(md5(CAST(s.range AS VARCHAR) || ':' || tok)) AS mh
         |         FROM htok CROSS JOIN range(8) s GROUP BY doc, s.range),
         |hband AS (SELECT doc, CAST(seed // 4 AS INTEGER) AS band,
         |            string_agg(mh, ',' ORDER BY seed) AS bandkey
         |          FROM hsig GROUP BY doc, CAST(seed // 4 AS INTEGER)),
         |occ AS (SELECT band, bandkey, count(*) AS m FROM hband
         |        GROUP BY band, bandkey),
         |hkeep AS (SELECT hband.doc AS hdoc, hband.band, hband.bandkey
         |          FROM hband JOIN occ USING (band, bandkey) WHERE occ.m <= 50),
         |btok AS (SELECT doc_id AS doc, unnest(list_distinct($toksSql)) AS tok
         |         FROM rem),
         |bsig AS (SELECT doc, s.range AS seed,
         |           min(md5(CAST(s.range AS VARCHAR) || ':' || tok)) AS mh
         |         FROM btok CROSS JOIN range(8) s GROUP BY doc, s.range),
         |bband AS (SELECT doc AS bdoc, CAST(seed // 4 AS INTEGER) AS band,
         |            string_agg(mh, ',' ORDER BY seed) AS bandkey
         |          FROM bsig GROUP BY doc, CAST(seed // 4 AS INTEGER)),
         |cand AS (SELECT DISTINCT b.bdoc, h.hdoc
         |         FROM bband b JOIN hkeep h USING (band, bandkey)),
         |shB AS (SELECT doc_id AS bdoc,
         |          list_distinct(list_transform(range(1, len($toksSql) - 1),
         |            i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])) AS sa
         |        FROM rem),
         |shH AS (SELECT doc_id AS hdoc,
         |          list_distinct(list_transform(range(1, len($toksSql) - 1),
         |            i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2])) AS sb
         |        FROM hist),
         |near AS (
         |  SELECT c.bdoc, min(c.hdoc) AS near_keeper
         |  FROM cand c JOIN shB ON shB.bdoc = c.bdoc JOIN shH ON shH.hdoc = c.hdoc,
         |    LATERAL (SELECT CAST(len(list_intersect(shB.sa, shH.sb)) AS BIGINT) AS inter,
         |             CAST(len(shB.sa) + len(shH.sb)
         |               - len(list_intersect(shB.sa, shH.sb)) AS BIGINT) AS uni) x
         |  WHERE x.uni > 0 AND x.inter * 2 >= x.uni
         |  GROUP BY c.bdoc)
         |SELECT bx.doc_id,
         |  CASE WHEN bx.ex_keeper IS NOT NULL THEN 'exact_dup'
         |       WHEN near.near_keeper IS NOT NULL THEN 'near_dup'
         |       ELSE 'unique' END AS status,
         |  coalesce(bx.ex_keeper, near.near_keeper) AS keeper
         |FROM bx LEFT JOIN near ON near.bdoc = bx.doc_id
         |ORDER BY bx.doc_id""".stripMargin,

    "q_cms_heavy" ->
      s"""WITH ev AS (SELECT user_id FROM events),
         |r AS (SELECT CAST(range AS BIGINT) AS r FROM range(4)),
         |h AS (
         |  SELECT user_id, r,
         |    ${h3Sql("CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")}
         |      % 1024 AS bucket
         |  FROM ev CROSS JOIN r),
         |sketch AS (SELECT r, bucket, count(*) AS cnt FROM h GROUP BY r, bucket),
         |exact AS (SELECT user_id, count(*) AS exact_n FROM ev GROUP BY user_id
         |          ORDER BY exact_n DESC, user_id LIMIT 10),
         |cand AS (
         |  SELECT e.user_id, e.exact_n, r.r,
         |    ${h3Sql("CAST(r.r AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")}
         |      % 1024 AS bucket
         |  FROM exact e CROSS JOIN r),
         |est AS (
         |  SELECT c.user_id, c.exact_n, min(s.cnt) AS est_n
         |  FROM cand c JOIN sketch s ON s.r = c.r AND s.bucket = c.bucket
         |  GROUP BY c.user_id, c.exact_n),
         |n AS (SELECT count(*) AS nn FROM ev)
         |SELECT user_id, exact_n, est_n, est_n - exact_n AS overcount,
         |  CAST(CASE WHEN (est_n - exact_n) * 1024 <= 2 * nn THEN 1 ELSE 0 END
         |    AS BIGINT) AS bound_ok
         |FROM est, n ORDER BY exact_n DESC, user_id""".stripMargin,

    "corpus_shard_manifest" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
         |c AS (SELECT doc_id, nt,
         |  COALESCE(sum(nt) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM d)
         |SELECT CAST(prev // 20000 AS BIGINT) AS shard, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         |    AS manifest_md5
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_cooccur_lift" ->
      s"""WITH dt0 AS (
         |  SELECT DISTINCT doc_id, unnest($toksSql) AS tok FROM documents),
         |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM dt0),
         |top AS (SELECT tok, count(*) AS df FROM dt0 GROUP BY tok
         |        ORDER BY df DESC, tok LIMIT 30),
         |dt AS (SELECT dt0.doc_id, dt0.tok, top.df
         |       FROM dt0 JOIN top ON top.tok = dt0.tok),
         |p AS (
         |  SELECT l.tok AS ta, l.df AS df_a, r.tok AS tb, r.df AS df_b,
         |    count(*) AS c_xy
         |  FROM dt l JOIN dt r ON l.doc_id = r.doc_id
         |  WHERE l.tok < r.tok
         |  GROUP BY l.tok, l.df, r.tok, r.df)
         |SELECT ta, tb, c_xy,
         |  CAST((c_xy * nd.nd * 10000) // (df_a * df_b) AS BIGINT) AS lift_bp
         |FROM p, nd
         |ORDER BY c_xy DESC, ta, tb LIMIT 50""".stripMargin,
  )
}
