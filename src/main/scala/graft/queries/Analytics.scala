package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{TextAnalysis => TA}

/** Statistical / sequence / audit analytics (round-6 additions): exact
  * cross-engine Pearson regression, decile distribution stats, Markov
  * event transitions, marketing attribution, event-sequence pattern
  * matching, per-column data profiling, multi-edge FK audits, and an
  * integer-exact token-diversity (Gini) signal.
  *
  * Cross-engine determinism strategy (the whole point of this file's
  * numeric design): every aggregate is computed in EXACT integer/decimal
  * space (scaled-integer sums in DECIMAL(38,0)), and doubles only appear
  * in a FINAL expression whose operand doubles are bit-identical across
  * engines — IEEE +,*,/,sqrt on identical inputs give identical outputs,
  * so the driver's hash compare holds without any float tolerance.
  *
  * Scale notes per operator are inline; none of these shuffles more than
  * the keyed aggregate/window it declares, and every scan is pruned to
  * the columns it needs.
  */
object Analytics extends Module {

  /** Exact scaled-integer sums for (x, y) pairs: x,y are scaled by 100 to
    * integer cents, products stay in LONG (bounded by data domain), sums
    * accumulate in DECIMAL(38,0) — exact, commutative, partition-order
    * independent. One scan, one shuffle (partial agg map-side). */
  private def centsL(c: Column): Column = round(c * 100).cast("long")

  val queries: Map[String, Q] = Map(
    // Pearson correlation + least-squares slope/intercept of extendedprice
    // on quantity, per returnflag — computed from exact integer sums so
    // the only doubles are one final deterministic expression per group.
    // ONE scan of (flag, qty, price), ONE shuffle on the 3-value group key
    // (map-side partials do the heavy lifting; reducer sees 3 rows/part).
    "q_stats_corr" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          centsL(col("l_quantity")).as("qx"),
          centsL(col("l_extendedprice")).as("py"))
      val d38 = "decimal(38,0)"
      val agg = l.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(col("qx").cast(d38)).as("sxr"),
        sum(col("py").cast(d38)).as("syr"),
        sum((col("qx") * col("qx")).cast(d38)).as("sxxr"),
        sum((col("py") * col("py")).cast(d38)).as("syyr"),
        sum((col("qx") * col("py")).cast(d38)).as("sxyr"))
      val nD = col("n").cast("double")
      val sx = col("sxr").cast("double") / lit(100.0)
      val sy = col("syr").cast("double") / lit(100.0)
      val sxx = col("sxxr").cast("double") / lit(10000.0)
      val syy = col("syyr").cast("double") / lit(10000.0)
      val sxy = col("sxyr").cast("double") / lit(10000.0)
      val cov = nD * sxy - sx * sy
      val varx = nD * sxx - sx * sx
      val vary = nD * syy - sy * sy
      val slope = cov / varx
      // emissions are floor-scaled integers over the bit-identical double
      // chain (exact integer sums → IEEE ×,÷,sqrt) — floor is a pure
      // binary-double op, identical in both engines, where round(double, n)
      // (Spark shortest-decimal HALF_UP vs DuckDB exact-binary, the r6
      // hash-break class) is not; zero-variance groups emit defined 0
      agg.select(col("l_returnflag"), col("n"),
          when(varx <= 0 || vary <= 0, lit(0L))
            .otherwise(floor(cov / (sqrt(varx) * sqrt(vary)) * lit(1e6)).cast("long"))
            .as("corr_micro"),
          when(varx <= 0, lit(0L))
            .otherwise(floor(slope * lit(1e6)).cast("long")).as("slope_micro"),
          when(varx <= 0, lit(0L))
            .otherwise(floor((sy - slope * sx) / nD * lit(1e4)).cast("long"))
            .as("intercept_q"))
        .orderBy(col("l_returnflag"))
    }),

    // Decile distribution of order value WITHIN each priority class:
    // ntile over a partitioned window (never a global single-partition
    // sort — each priority's window sorts in its own shuffle partition),
    // then a keyed aggregate. Money stays decimal until the final cast.
    "q_decile_stats" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("o_orderpriority"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("lo"),
          max(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("hi"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"), col("decile"))
    }),

    // First-order Markov transition matrix over each user's event stream:
    // lead() in the per-user window (one shuffle by user), then a keyed
    // count; transition probability is kept in integer basis points so
    // the result is exact. The window partitions by user — no global sort.
    "events_markov" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prob_bp",
          expr("(n * 10000) div sum(n) over (partition by from_type)"))
        .select(col("from_type"), col("to_type"), col("n"), col("prob_bp"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Last-touch attribution: each purchase is credited to the user's most
    // recent PRIOR click/view (else 'direct'). Same one-shuffle union+window
    // shape as q_asof_join — never a per-purchase range join. Purchase
    // value accumulates in decimal (exact) before the final double cast.
    "events_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
        .withColumn("channel",
          last(when(col("event_type").isin("click", "view"), col("event_type")),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("total_value"))
        .orderBy(col("channel"))
    }),

    // Sequence-pattern match (MATCH_RECOGNIZE-lite): each user's ordered
    // event-type path as a string, regex-matched for signup→…→purchase
    // conversion, plus the count of immediate view→purchase transitions.
    // ONE shuffle (groupBy user); the path length is bounded by per-user
    // event count — at 100 TB you'd sessionize first (events_sessionize)
    // so the collected list stays session-sized, never corpus-sized.
    "events_sequence_match" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            e => e.getField("event_type"))).as("path"))
        .where(col("path").rlike("signup [a-z ]*purchase"))
        .select(col("user_id"), col("n_events"),
          size(regexp_extract_all(col("path"), lit("view purchase"), lit(0)))
            .cast("long").as("n_view_buy"))
        .orderBy(col("user_id"))
    }),

    // Per-column data profile of the customer table (row count, nulls,
    // exact distincts, min/max rendered as strings): ONE scan — the five
    // count-distincts share a single Expand-based aggregate (Spark's
    // native multi-distinct plan), then the 1-row result unpivots to one
    // row per column. No joins, no second pass.
    "etl_profile" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      def decStr(x: Column): Column = x.cast("decimal(18,2)").cast("string")
      val agg = c.agg(
        count(lit(1)).as("n"),
        count(col("c_custkey")).as("nn_custkey"),
        countDistinct(col("c_custkey")).as("nd_custkey"),
        min(col("c_custkey")).cast("string").as("min_custkey"),
        max(col("c_custkey")).cast("string").as("max_custkey"),
        count(col("c_name")).as("nn_name"),
        countDistinct(col("c_name")).as("nd_name"),
        min(col("c_name")).as("min_name"),
        max(col("c_name")).as("max_name"),
        count(col("c_nationkey")).as("nn_nationkey"),
        countDistinct(col("c_nationkey")).as("nd_nationkey"),
        min(col("c_nationkey")).cast("string").as("min_nationkey"),
        max(col("c_nationkey")).cast("string").as("max_nationkey"),
        count(col("c_acctbal")).as("nn_acctbal"),
        countDistinct(col("c_acctbal")).as("nd_acctbal"),
        decStr(min(col("c_acctbal"))).as("min_acctbal"),
        decStr(max(col("c_acctbal"))).as("max_acctbal"),
        count(col("c_mktsegment")).as("nn_mktsegment"),
        countDistinct(col("c_mktsegment")).as("nd_mktsegment"),
        min(col("c_mktsegment")).as("min_mktsegment"),
        max(col("c_mktsegment")).as("max_mktsegment"))
      def rowFor(name: String): Column = struct(
        lit(name).as("col"),
        col("n").as("n"),
        (col("n") - col(s"nn_$name")).as("n_null"),
        col(s"nd_$name").as("n_distinct"),
        col(s"min_$name").as("min_s"),
        col(s"max_$name").as("max_s"))
      agg.select(explode(array(
          rowFor("custkey"), rowFor("name"), rowFor("nationkey"),
          rowFor("acctbal"), rowFor("mktsegment"))).as("p"))
        .select(col("p.*"))
        .withColumn("col", concat(lit("c_"), col("col")))
        .orderBy(col("col"))
    }),

    // Referential-integrity audit over FOUR FK edges in two passes: the
    // three lineitem edges resolve against ONE lineitem scan (dims are
    // broadcast / distinct-key joined, null-flags aggregated together),
    // orders→customer is its own pass. At 100 TB this is the shape you
    // want: each child table is read once regardless of edge count.
    "etl_fk_orphans" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val oKeys = Tables.orders(s, dir).select(col("o_orderkey")).distinct()
      val pKeys = broadcast(Tables.part(s, dir).select(col("p_partkey")).distinct())
      val sKeys = broadcast(Tables.supplier(s, dir).select(col("s_suppkey")).distinct())
      val lineAudit = l
        .join(oKeys, col("l_orderkey") === col("o_orderkey"), "left")
        .join(pKeys, col("l_partkey") === col("p_partkey"), "left")
        .join(sKeys, col("l_suppkey") === col("s_suppkey"), "left")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("orph_o"),
          sum(when(col("p_partkey").isNull, 1L).otherwise(0L)).as("orph_p"),
          sum(when(col("s_suppkey").isNull, 1L).otherwise(0L)).as("orph_s"))
        .select(explode(array(
          struct(lit("lineitem->orders").as("edge"), col("n").as("child_rows"), col("orph_o").as("orphans")),
          struct(lit("lineitem->part").as("edge"), col("n").as("child_rows"), col("orph_p").as("orphans")),
          struct(lit("lineitem->supplier").as("edge"), col("n").as("child_rows"), col("orph_s").as("orphans")))).as("e"))
        .select(col("e.*"))
      val cKeys = broadcast(Tables.customer(s, dir).select(col("c_custkey")).distinct())
      val orderAudit = Tables.orders(s, dir).select(col("o_custkey"))
        .join(cKeys, col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("child_rows"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("orphans"))
        .select(lit("orders->customer").as("edge"), col("child_rows"), col("orphans"))
      lineAudit.unionByName(orderAudit).orderBy(col("edge"))
    }),

    // Distribution-drift monitor between the stream's two time halves
    // (the "did the pipeline's input shift" ETL check): the midpoint is
    // exact integer microseconds (1-row scalar broadcast), per-type
    // counts are one keyed aggregate, shares stay in integer basis
    // points. At 100 TB the halves tag applies at scan time — no
    // second pass, no join bigger than the 1-row scalar.
    "etl_data_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("ts"))
      val mx = ev.agg(
        expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").as("mid"))
      val cnt = ev.crossJoin(broadcast(mx))
        .withColumn("half",
          when(unix_micros(col("ts")) < col("mid"), "a").otherwise("b"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_b"))
      val w = Window.partitionBy()
      cnt
        .withColumn("share_a_bp", expr("(n_a * 10000) div sum(n_a) over ()"))
        .withColumn("share_b_bp", expr("(n_b * 10000) div sum(n_b) over ()"))
        .withColumn("drift_bp", abs(col("share_a_bp") - col("share_b_bp")))
        .select(col("event_type"), col("n_a"), col("n_b"),
          col("share_a_bp"), col("share_b_bp"), col("drift_bp"))
        .orderBy(col("event_type"))
    }),

    // Backfill planner: days whose event volume is below HALF the mean
    // daily volume get flagged for re-sync (the scheduled-ETL gap audit,
    // the reference's cron-sync counterpart). One keyed aggregate to
    // daily counts; the global-mean window runs over ~days rows, never
    // over events. Integer arithmetic only — no float thresholds.
    "etl_backfill_plan" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("status",
          when(expr("n * count(*) over () * 2 < sum(n) over ()"), "backfill")
            .otherwise("ok"))
        .select(col("day"), col("n"), col("status"))
        .orderBy(col("day"))),

    // Mean dwell time (seconds to the user's NEXT event) per event type:
    // lead() in the per-user window (one shuffle by user), exact integer
    // second gaps accumulated in decimal, ONE final double division.
    "events_dwell" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("nxt", lead(col("ts"), 1).over(w))
        .where(col("nxt").isNotNull)
        .withColumn("gap_s",
          expr("(unix_micros(nxt) - unix_micros(ts)) div 1000000"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("gap_s").cast("decimal(18,0)")).cast("double") / count(lit(1)))
            .as("mean_gap_s"))
        .orderBy(col("event_type"))
    }),

    // RFM (recency / frequency / monetary) segmentation per user: ONE
    // pass over events (keyed aggregate with map-side partials), the
    // corpus max-timestamp is a 1-row scalar broadcast under every user
    // row (same plan shape as q_scalar_subquery). Segment labels are
    // rule-based CASE logic — deterministic, no global quantile sort.
    // Monetary is EXACT INTEGER CENTS (the events_pareto pattern): a
    // per-row double→DECIMAL cast summed across engines disagrees on
    // shortest-decimal boundary values (the r6 hash break); a per-row
    // round(value*100)::long sum is bit-identical, and the segment
    // threshold compares cents (>= 10000), never a summed double.
    "events_rfm" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val mx = ev.agg(max(col("ts")).as("mts"))
      val rfm = ev.crossJoin(broadcast(mx))
        .groupBy(col("user_id"))
        .agg(
          datediff(to_date(first(col("mts"))),
            to_date(max(when(col("event_type") === "purchase", col("ts"))))).as("recency_d"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("frequency"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L)).as("monetary_cents"))
      rfm.withColumn("segment",
          when(col("frequency") === 0, "never")
            .when(col("recency_d") <= 7 && col("monetary_cents") >= 10000L, "champion")
            .when(col("recency_d") <= 30, "active")
            .otherwise("lapsed"))
        .select(col("user_id"), col("recency_d"), col("frequency"),
          col("monetary_cents"), col("segment"))
        .orderBy(col("user_id"))
    }),

    // Token-diversity signal (Gini impurity of the unigram distribution),
    // integer-exact: 1 - Σ(c/n)² == (n² - Σc²)/n², kept in basis points.
    // Two keyed aggregates — (doc,tok) then doc — both with map-side
    // partials; no log() (libm results differ across engines, integer
    // arithmetic doesn't). The LLM-pipeline use: low gini_bp == highly
    // repetitive doc (boilerplate/spam), a standard pretraining filter.
    "text_gini_diversity" -> ((s, dir) => {
      // the (doc, tok, c) rollup IS the shared term-frequency frame
      TokShared.tf(s, dir).select(col("doc_id"), col("tok"), col("tf").as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("doc_id"), col("n_tok"), col("n_types"),
          expr("((n_tok * n_tok - ss) * 10000) div (n_tok * n_tok)").as("gini_bp"))
        .orderBy(col("doc_id"))
    }),

    // Market-basket pair mining: part pairs co-bought in the same order,
    // top-20 by support. The self-join keys on l_orderkey, so both sides
    // share ONE hash partitioning (no extra exchange), and the fan-out per
    // order is C(k,2) of its DISTINCT parts — bounded by order width
    // (≤7 lines in this schema), never by table size. Top-20 lowers to
    // TakeOrderedAndProject (per-partition heaps, no global sort).
    "q_basket_pairs" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey")).distinct()
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pa"), col("pb")).limit(20)
    }),

    // A/B experiment readout with a deterministic arm assignment
    // (user_id parity — engine-portable; production would hash a salt).
    // Per-user conversion first (keyed agg), then ONE 1-row global
    // aggregate; rates and lift in truncated integer basis points, so the
    // readout is bit-stable. No shuffle wider than the per-user rollup.
    "events_ab_lift" -> ((s, dir) => {
      val conv = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
        .withColumn("arm", pmod(col("user_id"), lit(2L)))
      conv.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("users_ctl"),
          sum(when(col("arm") === 0, col("converted")).otherwise(0L)).as("conv_ctl"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("users_trt"),
          sum(when(col("arm") === 1, col("converted")).otherwise(0L)).as("conv_trt"))
        .select(col("users_ctl"), col("conv_ctl"), col("users_trt"), col("conv_trt"),
          expr("(conv_ctl * 10000) div users_ctl").as("rate_ctl_bp"),
          expr("(conv_trt * 10000) div users_trt").as("rate_trt_bp"),
          expr("(conv_trt * 10000) div users_trt - (conv_ctl * 10000) div users_ctl")
            .as("lift_bp"))
    }),

    // Declarative data-quality rule engine over customer: every rule is a
    // predicate column, ONE scan computes all violation counts in a single
    // 1-row aggregate (no per-rule passes), then the row pivots to a
    // per-rule report via explode over a 5-element literal array. Adding a
    // rule is one struct entry — the scan count stays 1 at any table size.
    "etl_dq_rules" -> ((s, dir) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
      val a = Tables.customer(s, dir).agg(
        count(lit(1)).as("checked"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v_null_key"),
        sum(when(col("c_name").isNull || !col("c_name").startsWith("Customer#"), 1L)
          .otherwise(0L)).as("v_name_format"),
        sum(when(col("c_mktsegment").isNull || !col("c_mktsegment").isin(segs: _*), 1L)
          .otherwise(0L)).as("v_segment_enum"),
        sum(when(col("c_acctbal").isNull ||
          col("c_acctbal") < -1000 || col("c_acctbal") > 10000, 1L)
          .otherwise(0L)).as("v_acctbal_range"),
        sum(when(col("c_nationkey").isNull ||
          col("c_nationkey") < 0 || col("c_nationkey") > 24, 1L)
          .otherwise(0L)).as("v_nation_range"))
      a.select(col("checked"), explode(array(
          struct(lit("acctbal_range").as("rule"), col("v_acctbal_range").as("violations")),
          struct(lit("name_format").as("rule"), col("v_name_format").as("violations")),
          struct(lit("nation_range").as("rule"), col("v_nation_range").as("violations")),
          struct(lit("null_key").as("rule"), col("v_null_key").as("violations")),
          struct(lit("segment_enum").as("rule"), col("v_segment_enum").as("violations"))))
          .as("r"))
        .select(col("r.rule").as("rule"), col("checked"), col("r.violations").as("violations"),
          expr("(violations * 10000) div checked").as("viol_bp"))
        .orderBy(col("rule"))
    }),

    // Hot-key skew diagnosis: the 10 heaviest event keys with their share
    // of total traffic in basis points — the report that decides whether
    // a join needs the salted path (ops/Skew). One keyed count (map-side
    // combined), a TakeOrderedAndProject top-10, and a 1-row total under
    // it; nothing scales with the key count beyond the count aggregate.
    "etl_key_skew" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"))
      val tot = e.agg(count(lit(1)).as("total"))
      e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(10)
        .crossJoin(broadcast(tot))
        .select(col("user_id"), col("n"), col("total"),
          expr("(n * 10000) div total").as("share_bp"))
        .orderBy(col("n").desc, col("user_id"))
    }),

    // Heavy hitters: top-3 event types per
    // tumbling hour by exact count (rank window runs over the hour×type
    // AGGREGATE — a few rows per hour — never over raw events).
    "events_heavy_hitters" -> ((s, dir) => {
      val w = Window.partitionBy(col("h")).orderBy(col("n").desc, col("event_type"))
      Tables.events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .orderBy(col("h"), col("rn"))
    }),

    // Peak concurrency per hour (sweep line): each event opens a 30-min
    // interval; boundaries carry ±1 deltas and the running delta sum at
    // any boundary IS the live concurrency. The prefix sum is TWO-PHASE
    // (per-hour-block partials + a broadcast block-offset table — the
    // same distributed-scan shape as Layout.packShards), so no window
    // ever sees more than one hour's boundaries: the global-sort
    // bottleneck a naive sweep line hits at 100 TB never forms. Ties
    // order ends (-1) before starts (+1), so touching intervals don't
    // count concurrent; per-hour max is order-independent within tie
    // groups (max lands after all +1s / before all -1s either way).
    "events_concurrency" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("ts"))
      // materialized once: the boundary set feeds BOTH the block-offset
      // aggregate and the per-block sweep join (without this the events
      // scan runs 4× in one plan). LAZY (r18): the broadcast-offs build
      // job materializes it first, the sweep join then reads the pinned
      // blocks — no separate eager checkpoint job
      val b = e.select(col("ts").as("t"), lit(1L).as("d"))
        .unionByName(e.select((col("ts") + expr("INTERVAL 30 MINUTES")).as("t"),
          lit(-1L).as("d")))
        .withColumn("blk", expr("unix_micros(t) div 3600000000"))
        .localCheckpoint(false)
      val wBlk = Window.orderBy(col("blk"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = b.groupBy(col("blk")).agg(sum(col("d")).as("bs"))
        .withColumn("off", coalesce(sum(col("bs")).over(wBlk), lit(0L)))
        .select(col("blk"), col("off"))
      val wIn = Window.partitionBy(col("blk")).orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      b.join(broadcast(offs), "blk")
        .withColumn("conc", col("off") + sum(col("d")).over(wIn))
        .groupBy(col("blk"))
        .agg(max(col("conc")).as("peak"),
          sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_starts"))
        .select(
          date_format(timestamp_micros(col("blk") * lit(3600000000L)), "yyyy-MM-dd HH")
            .as("h"),
          col("peak"), col("n_starts"))
        .orderBy(col("h"))
    }),

    // Cohort retention matrix: users bucketed by first-seen day, activity
    // counted per (cohort, days-since) cell — the full triangle the
    // hour-over-hour events_retention is one diagonal of. Two keyed
    // aggregates + one user-keyed join; the matrix itself is days²
    // cells, never user-sized.
    "events_cohort_matrix" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val cohort = e.groupBy(col("user_id")).agg(min(col("d")).as("c"))
      e.join(cohort, "user_id")
        .groupBy(date_format(col("c"), "yyyy-MM-dd").as("cohort"),
          datediff(col("d"), col("c")).cast("long").as("period"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("period"))
    }),

    // Day-over-day volume/value change in signed basis points (truncating
    // toward zero in BOTH engines — Spark `div` and DuckDB `//` agree on
    // negatives). The lag window runs over the DAILY rollup (a handful of
    // rows), never over raw events.
    "events_day_over_day" -> ((s, dir) => {
      val w = Window.orderBy(col("day"))
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .where(col("prev_n").isNotNull)
        .select(col("day"), col("n"), col("prev_n"), col("total"),
          expr("((n - prev_n) * 10000) div prev_n").as("dod_bp"))
        .orderBy(col("day"))
    }),

    // Exact DISCRETE percentiles (the value at rank ceil(p·n), no
    // interpolation — the twin of q_percentile's interpolating form) per
    // returnflag. The rank window sorts within each flag's own shuffle
    // partition; ceil is integer arithmetic ((a+b-1) div b), so the picked
    // ranks are engine-exact even where p·n lands on an integer.
    "q_percentile_disc" -> ((s, dir) => {
      // Round 17: the picked value at rank k depends only on the VALUE
      // distribution, so ranks resolve from cumulative counts over the
      // (flag, quantity) rollup — the whole-partition sort of the fact
      // table (3 flags → 3 giant window partitions) is gone; the window
      // runs over ≤ flags × distinct-quantity rows. The value at rank k
      // in quantity order is the smallest quantity whose cumulative
      // count reaches k — identical to the old max-over-first-k-rows.
      val cnt = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val n = Window.partitionBy(col("l_returnflag"))
      cnt
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(n))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("l_quantity"))).as("p50_disc"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("l_quantity"))).as("p90_disc"))
        .orderBy(col("l_returnflag"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_stats_corr" ->
      """WITH raw AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qx,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS py
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(qx AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sx,
        |    CAST(sum(CAST(py AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sy,
        |    CAST(sum(CAST(qx * qx AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sxx,
        |    CAST(sum(CAST(py * py AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS syy,
        |    CAST(sum(CAST(qx * py AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sxy
        |  FROM raw GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CASE WHEN (n * sxx - sx * sx) <= 0 OR (n * syy - sy * sy) <= 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(floor((n * sxy - sx * sy)
        |         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) * 1000000.0) AS BIGINT)
        |  END AS corr_micro,
        |  CASE WHEN (n * sxx - sx * sx) <= 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000.0) AS BIGINT)
        |  END AS slope_micro,
        |  CASE WHEN (n * sxx - sx * sx) <= 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(floor((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n * 10000.0) AS BIGINT)
        |  END AS intercept_q
        |FROM s ORDER BY l_returnflag""".stripMargin,

    "q_decile_stats" ->
      """WITH d AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ntile(10) OVER (PARTITION BY o_orderpriority
        |                    ORDER BY o_totalprice, o_orderkey) AS decile
        |  FROM orders)
        |SELECT o_orderpriority, CAST(decile AS INTEGER) AS decile, count(*) AS n,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS lo,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS hi,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_markov" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pairs AS (
        |  SELECT event_type AS from_type, to_type, count(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST((n * 10000) // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob_bp
        |FROM pairs ORDER BY from_type, to_type""".stripMargin,

    "events_attribution" ->
      """WITH tagged AS (
        |  SELECT user_id, event_type, value,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
        |  FROM events)
        |SELECT coalesce(channel, 'direct') AS channel,
        |  count(*) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM tagged WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_sequence_match" ->
      """WITH seq AS (
        |  SELECT user_id, count(*) AS n_events,
        |    string_agg(event_type, ' ' ORDER BY ts, event_id) AS path
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  CAST(len(regexp_extract_all(path, 'view purchase')) AS BIGINT) AS n_view_buy
        |FROM seq WHERE regexp_matches(path, 'signup [a-z ]*purchase')
        |ORDER BY user_id""".stripMargin,

    "etl_profile" ->
      """SELECT 'c_custkey' AS col, count(*) AS n,
        |  count(*) - count(c_custkey) AS n_null, count(DISTINCT c_custkey) AS n_distinct,
        |  CAST(min(c_custkey) AS VARCHAR) AS min_s, CAST(max(c_custkey) AS VARCHAR) AS max_s
        |FROM customer
        |UNION ALL
        |SELECT 'c_name', count(*), count(*) - count(c_name), count(DISTINCT c_name),
        |  min(c_name), max(c_name) FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey), count(DISTINCT c_nationkey),
        |  CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR) FROM customer
        |UNION ALL
        |SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal), count(DISTINCT c_acctbal),
        |  CAST(CAST(min(c_acctbal) AS DECIMAL(18,2)) AS VARCHAR),
        |  CAST(CAST(max(c_acctbal) AS DECIMAL(18,2)) AS VARCHAR) FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment), count(DISTINCT c_mktsegment),
        |  min(c_mktsegment), max(c_mktsegment) FROM customer
        |ORDER BY col""".stripMargin,

    "etl_fk_orphans" ->
      """WITH line AS (
        |  SELECT count(*) AS n,
        |    count(*) FILTER (o.o_orderkey IS NULL) AS orph_o,
        |    count(*) FILTER (p.p_partkey IS NULL) AS orph_p,
        |    count(*) FILTER (s.s_suppkey IS NULL) AS orph_s
        |  FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey
        |  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p ON l.l_partkey = p.p_partkey
        |  LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s ON l.l_suppkey = s.s_suppkey),
        |ord AS (
        |  SELECT count(*) AS child_rows,
        |    count(*) FILTER (c.c_custkey IS NULL) AS orphans
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey)
        |SELECT 'lineitem->orders' AS edge, n AS child_rows, orph_o AS orphans FROM line
        |UNION ALL SELECT 'lineitem->part', n, orph_p FROM line
        |UNION ALL SELECT 'lineitem->supplier', n, orph_s FROM line
        |UNION ALL SELECT 'orders->customer', child_rows, orphans FROM ord
        |ORDER BY edge""".stripMargin,

    "etl_data_drift" ->
      """WITH mx AS (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid FROM events),
        |tagged AS (
        |  SELECT event_type, CASE WHEN epoch_us(ts) < mid THEN 'a' ELSE 'b' END AS half
        |  FROM events, mx),
        |cnt AS (
        |  SELECT event_type,
        |    count(*) FILTER (half = 'a') AS n_a,
        |    count(*) FILTER (half = 'b') AS n_b
        |  FROM tagged GROUP BY event_type),
        |tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM cnt)
        |SELECT event_type, n_a, n_b,
        |  CAST((n_a * 10000) // ta AS BIGINT) AS share_a_bp,
        |  CAST((n_b * 10000) // tb AS BIGINT) AS share_b_bp,
        |  abs(CAST((n_a * 10000) // ta AS BIGINT) - CAST((n_b * 10000) // tb AS BIGINT)) AS drift_bp
        |FROM cnt, tot ORDER BY event_type""".stripMargin,

    "etl_backfill_plan" ->
      """WITH daily AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |tot AS (SELECT sum(n) AS total, count(*) AS ndays FROM daily)
        |SELECT day, n,
        |  CASE WHEN n * ndays * 2 < total THEN 'backfill' ELSE 'ok' END AS status
        |FROM daily, tot ORDER BY day""".stripMargin,

    "events_dwell" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST((epoch_us(nxt) - epoch_us(ts)) // 1000000 AS DECIMAL(18,0))) AS DOUBLE)
        |    / count(*) AS mean_gap_s
        |FROM e WHERE nxt IS NOT NULL GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_rfm" ->
      """WITH mx AS (SELECT max(ts) AS mts FROM events),
        |rfm AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', max(CASE WHEN event_type = 'purchase' THEN ts END), mx.mts) AS INTEGER) AS recency_d,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS frequency,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS monetary_cents
        |  FROM events, mx GROUP BY user_id, mx.mts)
        |SELECT user_id, recency_d, frequency, monetary_cents,
        |  CASE WHEN frequency = 0 THEN 'never'
        |       WHEN recency_d <= 7 AND monetary_cents >= 10000 THEN 'champion'
        |       WHEN recency_d <= 30 THEN 'active'
        |       ELSE 'lapsed' END AS segment
        |FROM rfm ORDER BY user_id""".stripMargin,

    "text_gini_diversity" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
         |agg AS (SELECT doc_id, sum(c) AS n, count(*) AS n_types, sum(c * c) AS ss
         |        FROM cnt GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tok, CAST(n_types AS BIGINT) AS n_types,
         |  CAST(((n * n - ss) * 10000) // (n * n) AS BIGINT) AS gini_bp
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q_basket_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
        |FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
        |GROUP BY pa, pb
        |ORDER BY n DESC, pa, pb LIMIT 20""".stripMargin,

    "events_ab_lift" ->
      """WITH conv AS (
        |  SELECT user_id, user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_ctl,
        |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_ctl,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS users_trt,
        |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_trt
        |  FROM conv)
        |SELECT users_ctl, conv_ctl, users_trt, conv_trt,
        |  CAST(conv_ctl * 10000 // users_ctl AS BIGINT) AS rate_ctl_bp,
        |  CAST(conv_trt * 10000 // users_trt AS BIGINT) AS rate_trt_bp,
        |  CAST(conv_trt * 10000 // users_trt - conv_ctl * 10000 // users_ctl AS BIGINT)
        |    AS lift_bp
        |FROM a""".stripMargin,

    "etl_dq_rules" ->
      """WITH a AS (
        |  SELECT count(*) AS checked,
        |    sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS v_null_key,
        |    sum(CASE WHEN c_name IS NULL OR c_name NOT LIKE 'Customer#%'
        |        THEN 1 ELSE 0 END) AS v_name_format,
        |    sum(CASE WHEN c_mktsegment IS NULL OR c_mktsegment NOT IN
        |        ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'MACHINERY', 'HOUSEHOLD')
        |        THEN 1 ELSE 0 END) AS v_segment_enum,
        |    sum(CASE WHEN c_acctbal IS NULL OR c_acctbal < -1000 OR c_acctbal > 10000
        |        THEN 1 ELSE 0 END) AS v_acctbal_range,
        |    sum(CASE WHEN c_nationkey IS NULL OR c_nationkey < 0 OR c_nationkey > 24
        |        THEN 1 ELSE 0 END) AS v_nation_range
        |  FROM customer)
        |SELECT r.rule, a.checked,
        |  CAST(r.violations AS BIGINT) AS violations,
        |  CAST(r.violations * 10000 // a.checked AS BIGINT) AS viol_bp
        |FROM a, LATERAL (VALUES
        |  ('acctbal_range', v_acctbal_range),
        |  ('name_format', v_name_format),
        |  ('nation_range', v_nation_range),
        |  ('null_key', v_null_key),
        |  ('segment_enum', v_segment_enum)) AS r(rule, violations)
        |ORDER BY r.rule""".stripMargin,

    "etl_key_skew" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT count(*) AS total FROM events),
        |top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 10)
        |SELECT user_id, n, t.total,
        |  CAST(n * 10000 // t.total AS BIGINT) AS share_bp
        |FROM top, t ORDER BY n DESC, user_id""".stripMargin,

    "events_heavy_hitters" ->
      """WITH c AS (
        |  SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H') AS h,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY h, event_type),
        |rk AS (SELECT h, event_type, n,
        |  row_number() OVER (PARTITION BY h ORDER BY n DESC, event_type) AS rn
        |  FROM c)
        |SELECT h, event_type, n, CAST(rn AS INTEGER) AS rn
        |FROM rk WHERE rn <= 3 ORDER BY h, rn""".stripMargin,

    "events_concurrency" ->
      """WITH b AS (
        |  SELECT CAST(ts AS TIMESTAMP) AS t, 1 AS d FROM events
        |  UNION ALL
        |  SELECT CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE, -1 FROM events),
        |r AS (SELECT t, d, epoch_us(t) // 3600000000 AS blk,
        |  sum(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS conc FROM b)
        |SELECT strftime(make_timestamp(blk * 3600000000), '%Y-%m-%d %H') AS h,
        |  CAST(max(conc) AS BIGINT) AS peak,
        |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
        |FROM r GROUP BY blk ORDER BY h""".stripMargin,

    "events_cohort_matrix" ->
      """WITH e AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |           FROM events),
        |c AS (SELECT user_id, min(d) AS c FROM e GROUP BY user_id)
        |SELECT strftime(c.c, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', c.c, e.d) AS BIGINT) AS period,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, period""".stripMargin,

    "events_day_over_day" ->
      """WITH daily AS (
        |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM events GROUP BY day),
        |lagged AS (SELECT day, n, total,
        |  lag(n, 1) OVER (ORDER BY day) AS prev_n FROM daily)
        |SELECT day, n, prev_n, total,
        |  CAST((n - prev_n) * 10000 // prev_n AS BIGINT) AS dod_bp
        |FROM lagged WHERE prev_n IS NOT NULL ORDER BY day""".stripMargin,

    "q_percentile_disc" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rn <= (n + 1) // 2 THEN l_quantity END) AS p50_disc,
        |  max(CASE WHEN rn <= (9 * n + 9) // 10 THEN l_quantity END) AS p90_disc
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
