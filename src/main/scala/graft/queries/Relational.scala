package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Events

/** Relational / OLAP core (SURVEY §2.2).
  *
  * Conventions for oracle hash-parity (SURVEY §6): money aggregates go
  * through exact DECIMAL accumulation (`dsum`), dates are emitted as
  * strings, every top-k has a unique tiebreak, and each query ends with a
  * deterministic global sort.
  */
object Relational extends Module {

  val queries: Map[String, Q] = Map(
    // Grouped aggregation with exact sums + IEEE-stable avg (TPC-H Q1 shape).
    "q1_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          // 2dp×2dp×2dp → 6 true decimal places: accumulate at scale 6 so the
          // double→decimal cast never lands on a round-half tie.
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // 3-way join + filter + agg + deterministic top-k (TPC-H Q3 shape).
    "q3_join_agg" -> ((s, dir) => {
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir).where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), iso(col("o_orderdate")).as("orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // 6-way star join, dims broadcast (TPC-H Q5 shape).
    "q5_multi_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).where(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
                            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Selective filter + narrow projection → parquet pushdown.
    "q_filter_pushdown" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("2001-09-01").cast("timestamp") &&
               col("l_quantity") < 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // Global top-k with unique tiebreak.
    "q_topk" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), iso(col("o_orderdate")).as("orderdate"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // Distinct projection.
    "q_distinct" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderpriority")).distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))),

    // Ranking window: top-3 orders per customer.
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // Running-sum window (exact decimal accumulation, explicit ROWS frame).
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, dir)
        .where(col("l_suppkey") < 5)
        .withColumn("running", sum(col("l_extendedprice").cast("decimal(18,4)")).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    // Navigation + distribution window functions in one pass: lag/lead
    // (prev/next order price), first_value (first order's price), and
    // ntile quartiles — all over ONE window ordering, so a single sort
    // serves every function (the plan has one Window operator).
    "q_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .where(col("o_custkey") <= 150)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_totalprice")).over(w).as("first_price"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // FULL OUTER join as a referential-integrity summary: keys on each
    // side only vs matched, with order counts/revenue carried through the
    // null-extended rows (orders are pre-aggregated per customer first,
    // so the outer join is key-to-key — no row multiplication).
    "q_outer_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"))
      // revenue stays DECIMAL through BOTH aggregation levels (a double
      // re-sum across customers would be order-dependent)
      val o = Tables.orders(s, dir).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          when(col("c_custkey").isNull, lit("order_only"))
            .when(col("o_custkey").isNull, lit("customer_only"))
            .otherwise(lit("matched")).as("side"),
          col("n_orders"), col("rev"))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n_keys"),
          coalesce(sum(col("n_orders")), lit(0L)).as("n_orders"),
          coalesce(sum(col("rev")), lit(0).cast("decimal(18,4)"))
            .cast("double").as("revenue"))
        .orderBy(col("side"))
    }),

    // GROUP_CONCAT parity (the reference's MySQL idiom): per-status list
    // of its top order keys, built as sort_array(collect_list) +
    // array_join so the concatenation order is deterministic on any
    // partitioning (raw collect_list order is not).
    "q_group_concat" -> ((s, dir) =>
      Tables.orders(s, dir)
        .where(col("o_orderkey") <= 200)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          array_join(sort_array(collect_list(col("o_orderkey"))), ",").as("keys"))
        .orderBy(col("o_orderstatus"))),

    // UNPIVOT (wide → long, the inverse of q_pivot): per-order metric
    // rows from the numeric columns, via the stack expression.
    "q_unpivot" -> ((s, dir) =>
      Tables.orders(s, dir)
        .where(col("o_orderkey") <= 100)
        .select(col("o_orderkey"),
          expr("stack(2, 'custkey', CAST(o_custkey AS DOUBLE), 'totalprice', o_totalprice)")
            .as(Seq("metric", "value")))
        .orderBy(col("o_orderkey"), col("metric"))),

    // EXISTS via left-semi.
    "q_semi_join" -> ((s, dir) => {
      val f = Tables.orders(s, dir).where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir).join(f, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // NOT EXISTS via left-anti.
    "q_anti_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir).join(o, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // Union-all + aggregation.
    "q_union_agg" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val a = e.where(col("event_type") === "purchase").select(lit("purchase").as("src"), col("value"))
      val b = e.where(col("event_type") === "click").select(lit("click").as("src"), col("value"))
      a.unionByName(b).groupBy(col("src"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("src"))
    }),

    // Set intersection (distinct semantics): customers with orders in
    // BOTH statuses. One shuffle on the key, set-distinct by the engine.
    "q_intersect" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.where(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // Set difference (distinct semantics): customers with open orders
    // and no finished ones.
    "q_except" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.where(col("o_orderstatus") === "O").select(col("o_custkey"))
        .except(o.where(col("o_orderstatus") === "F").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // Hierarchical rollup.
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("qty"))
        .orderBy(col("rf"), col("ls"))),

    // Conditional / pivot-style aggregation.
    "q_case_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          count(when(col("l_linestatus") === "F", 1)).as("n_f"),
          count(when(col("l_linestatus") === "O", 1)).as("n_o"),
          dsum(when(col("l_discount") > 0.05, col("l_extendedprice")).otherwise(lit(0))).as("hi_disc_price"))
        .orderBy(col("l_returnflag"))),

    // Exact distinct count.
    "q_count_distinct" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))),

    // String kernel.
    "q_string_funcs" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        substring(col("p_name"), 1, 8).as("pre"),
        length(col("p_name")).cast("long").as("len"),
        regexp_replace(col("p_type"), " ", "_").as("typ"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("bt"))
        .orderBy(col("p_partkey"))),

    // Date kernel.
    "q_date_funcs" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        iso(col("o_orderdate")).as("d"),
        year(col("o_orderdate")).cast("int").as("yr"),
        month(col("o_orderdate")).cast("int").as("mo"),
        dayofmonth(col("o_orderdate")).cast("int").as("dy"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("int").as("days_since"))
        .orderBy(col("o_orderkey"))),

    // JSON path extraction + agg.
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("kmod"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("kmod"))),

    // Array-function kernel over token arrays: size, distinct count, a
    // deterministic slice of the sorted array, membership flag — all
    // per-row expressions that fuse into the scan (no explode, no shuffle).
    "q_array_funcs" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        array_join(slice(sort_array(toks), 1, 3), " ").as("first3"),
        array_contains(toks, "spark").cast("int").as("has_spark"))
        .orderBy(col("doc_id"))
    }),

    // Regex capture-group extraction + agg (the pattern-mining twin of
    // q_json_extract: same field, pulled by RE2/Java-common regex instead
    // of a JSON path).
    "q_regex_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
        .groupBy((col("k") % 7).as("kmod"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("kmod"))),

    // Map-typed kernel coverage: per-user event-type counts folded into a
    // MAP (entries pre-sorted so key order is deterministic), then read
    // back through size / element_at / map_keys. The map stays inside one
    // aggregate stage — built and consumed without ever shuffling a
    // map-typed column.
    "q_map_funcs" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("event_type"), col("n"))))).as("m"))
        .select(col("user_id"),
          size(col("m")).as("n_types"),
          coalesce(element_at(col("m"), "click"), lit(0L)).as("n_click"),
          coalesce(element_at(col("m"), "purchase"), lit(0L)).as("n_purchase"),
          array_join(map_keys(col("m")), ",").as("types_csv"))
        .orderBy(col("user_id"))),

    // NULL-handling kernel: NULLIF masks a value into NULL, COALESCE
    // restores a default, conditional NULLs feed null-skipping aggregates.
    "q_null_handling" -> ((s, dir) =>
      Tables.events(s, dir).select(
        coalesce(nullif(col("event_type"), lit("click")), lit("(masked)")).as("etype"),
        when(col("value") < 50, col("value")).as("small_val"))
        .groupBy(col("etype"))
        .agg(count(lit(1)).as("n"), count(col("small_val")).as("n_small"),
          dsum(coalesce(col("small_val"), lit(0.0))).as("small_total"))
        .orderBy(col("etype"))),

    // Time-RANGE window frame: each event's trailing-1-hour count and sum
    // per user. The frame is defined by VALUE distance over epoch seconds
    // (peers with equal timestamps aggregate identically on any
    // partitioning) — semantics a ROWS frame cannot express. The summed
    // value is an exact integer (floor(value·1000)) so the sliding sum is
    // order-independent.
    "q_window_range" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, dir)
        .where(col("user_id") <= 100)
        .withColumn("ts_sec", unix_timestamp(col("ts")))
        .withColumn("iv", floor(col("value") * 1000).cast("long"))
        .select(col("event_id"), col("user_id"), col("ts_sec"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("iv")).over(w).as("val_1h"))
        .orderBy(col("event_id"))
    }),

    // Scalar-subquery shape: orders above the GLOBAL average price. The
    // single-row aggregate is broadcast under every probe row — the big
    // side never shuffles, exactly the plan a correlated scalar subquery
    // gets. The average is exact-decimal-sum / count, so the comparison
    // boundary is bit-identical across engines.
    "q_scalar_subquery" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val avgP = o.agg((dsum(col("o_totalprice")) / count(lit(1))).as("avg_p"))
      o.crossJoin(broadcast(avgP))
        .where(col("o_totalprice") > col("avg_p"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
        .orderBy(col("o_orderstatus"))
    }),

    // Tumbling time-window aggregation (batch twin of streaming op).
    "events_window_agg" -> ((s, dir) =>
      Events.tumblingAgg(Tables.events(s, dir), "ts", "event_type", "value")
        .orderBy(col("h"), col("event_type"))),

    // Sliding-window twin: 1 h windows every 30 min (each event lands in
    // exactly 2 windows via the native window() map-stage expand).
    "events_sliding_window" -> ((s, dir) =>
      Events.slidingAgg(Tables.events(s, dir), "ts", "event_type", "value",
        windowMin = 60, slideMin = 30)
        .orderBy(col("wstart"), col("event_type"))),

    // Gap-based sessionization.
    "events_sessionize" -> ((s, dir) =>
      Events.sessionStats(Tables.events(s, dir), "user_id", "ts", "event_id", 30)
        .orderBy(col("user_id"), col("session_id"))),

    // Interval correlation (batch twin of the stream-stream join):
    // purchases paired with the same user's errors within 30 minutes.
    "events_correlate" -> ((s, dir) =>
      graft.streaming.StreamOps.correlateEvents(
          Tables.events(s, dir), "purchase", "error")
        .orderBy(col("a_id"), col("b_id")))
  )

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join_agg" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_multi_join" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2001-09-01' AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_group_concat" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys
        |FROM orders WHERE o_orderkey <= 200
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_unpivot" ->
      """SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS value
        |FROM orders WHERE o_orderkey <= 100
        |UNION ALL
        |SELECT o_orderkey, 'totalprice', o_totalprice
        |FROM orders WHERE o_orderkey <= 100
        |ORDER BY o_orderkey, metric""".stripMargin,

    "q_outer_join" ->
      """WITH o AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY o_custkey)
        |SELECT
        |  CASE WHEN c.c_custkey IS NULL THEN 'order_only'
        |       WHEN o.o_custkey IS NULL THEN 'customer_only'
        |       ELSE 'matched' END AS side,
        |  count(*) AS n_keys,
        |  CAST(coalesce(sum(n_orders), 0) AS BIGINT) AS n_orders,
        |  CAST(coalesce(sum(rev), 0) AS DOUBLE) AS revenue
        |FROM customer c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY side""".stripMargin,

    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  lead(o_totalprice) OVER w AS next_price,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders WHERE o_custkey <= 150
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM lineitem WHERE l_suppkey < 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,

    "q_union_agg" ->
      """SELECT src, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM (
        |  SELECT 'purchase' AS src, value FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT 'click' AS src, value FROM events WHERE event_type = 'click') t
        |GROUP BY src ORDER BY src""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_case_agg" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE l_linestatus = 'O') AS n_o,
        |  CAST(sum(CASE WHEN l_discount > 0.05 THEN CAST(l_extendedprice AS DECIMAL(18,4))
        |                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS hi_disc_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS up, substring(p_name, 1, 8) AS pre,
        |  CAST(length(p_name) AS BIGINT) AS len, replace(p_type, ' ', '_') AS typ,
        |  p_brand || ':' || p_type AS bt
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dy,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_json_extract" ->
      """SELECT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS kmod,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events GROUP BY kmod ORDER BY kmod""".stripMargin,

    "q_array_funcs" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  array_to_string(list_sort(string_split(text, ' '))[1:3], ' ') AS first3,
        |  CAST(list_contains(string_split(text, ' '), 'spark') AS INTEGER) AS has_spark
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_regex_extract" ->
      """SELECT TRY_CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT) % 7 AS kmod,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events GROUP BY kmod ORDER BY kmod""".stripMargin,

    "q_map_funcs" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id, CAST(count(*) AS INTEGER) AS n_types,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN n END), 0) AS BIGINT) AS n_click,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN n END), 0) AS BIGINT) AS n_purchase,
        |  string_agg(event_type, ',' ORDER BY event_type) AS types_csv
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_null_handling" ->
      """SELECT coalesce(nullif(event_type, 'click'), '(masked)') AS etype,
        |  count(*) AS n,
        |  count(CASE WHEN value < 50 THEN 1 END) AS n_small,
        |  CAST(sum(CAST(coalesce(CASE WHEN value < 50 THEN value END, 0)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS small_total
        |FROM events GROUP BY etype ORDER BY etype""".stripMargin,

    "q_window_range" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec,
        |    CAST(floor(value * 1000) AS BIGINT) AS iv
        |  FROM events WHERE user_id <= 100)
        |SELECT event_id, user_id, ts_sec,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(iv) OVER w AS BIGINT) AS val_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |  FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "events_window_agg" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H') AS h,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events GROUP BY h, event_type ORDER BY h, event_type""".stripMargin,

    // Sliding windows from first principles: bucket to the 30-min grid,
    // subtract k slides (k=0,1) — every event is in exactly 2 of the 1-h
    // windows. make_timestamp keeps the arithmetic tz-free like Spark's
    // UTC session.
    "events_sliding_window" ->
      """WITH w AS (
        |  SELECT event_type, value,
        |    make_timestamp((CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) AS BIGINT) * 1800
        |      - CAST(k.range AS BIGINT) * 1800) * 1000000) AS ws
        |  FROM events, range(0, 2) k)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M') AS wstart, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM w GROUP BY ws, event_type ORDER BY wstart, event_type""".stripMargin,

    "events_correlate" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
        |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase') a
        |JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'error') b
        |  ON a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY a_id, b_id""".stripMargin,

    "events_sessionize" ->
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
        |  FROM marked)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS dur_sec
        |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin
  )
}
