package graft.queries

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.etl.{Normalize, Changelog, Upsert, Quality}

/** Reference ETL semantics re-expressed Spark-first (SURVEY §2.1).
  *
  * Entity mapping (SURVEY §4): `customer`/`orders` stand in for the
  * reference's `voucher` entity, `events` for `voucher_transaction` and for
  * the `etl_logger_voucher` changelog.
  */
object Etl extends Module {

  val queries: Map[String, Q] = Map(
    // Voucher-style cleaning (services/etlService.js:118-156): UPPER+TRIM,
    // enum whitelist → NULL, parseFloat-or-null (0 → NULL).
    "etl_clean_customer" -> ((s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey"),
        Normalize.upperTrim(col("c_name")).as("name_u"),
        Normalize.enumOrNull(col("c_mktsegment"), Seq("AUTOMOBILE", "BUILDING")).as("seg"),
        Normalize.numOrNull(col("c_acctbal")).as("bal"))
        .orderBy(col("c_custkey"))),

    // Transaction-style cleaning (services/etlService.js:259-297): float-or-
    // null, '1'/'0' flag, truthy 0/1, ISO date string, UPPER+TRIM.
    "etl_clean_events" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        Normalize.numOrNull(col("value")).as("val"),
        Normalize.flag01(when(col("event_type") === "purchase", lit("1")).otherwise(lit("0"))).as("payout"),
        Normalize.bool01(col("event_type") === "error").as("iserr"),
        Normalize.isoDateOrNull(col("ts")).as("d"),
        Normalize.upperTrim(col("event_type")).as("et"))
        .orderBy(col("event_id"))),

    // CDC extract: distinct changelog keys ⋉ source (EtlLogger.js:6-17).
    "etl_changelog_extract" -> ((s, dir) => {
      val changelog = Tables.events(s, dir).where(col("event_type") === "signup")
      Changelog.extract(Tables.customer(s, dir), "c_custkey", changelog, "user_id")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // Multi-table changelog dispatch (EtlLogger.js:8-15, etlService.js:
    // 446-449): one mixed changelog routes signup keys to `customer` and
    // purchase keys to `orders`; output is the per-entity extract summary.
    "etl_changelog_dispatch" -> ((s, dir) => {
      val changelog = Tables.events(s, dir)
        .where(col("event_type").isin("signup", "purchase"))
        .select(
          when(col("event_type") === "signup", lit("customer"))
            .otherwise(lit("orders")).as("table"),
          col("user_id").as("ref_key"))
      val out = Changelog.dispatch(changelog, "table", "ref_key", Map(
        "customer" -> ((Tables.customer(s, dir), "c_custkey")),
        "orders" -> ((Tables.orders(s, dir), "o_custkey"))))
      val c = out("customer").agg(count(lit(1)).as("n_rows"),
        dsum(col("c_acctbal")).as("sum_val")).withColumn("entity", lit("customer"))
      val o = out("orders").agg(count(lit(1)).as("n_rows"),
        dsum(col("o_totalprice")).as("sum_val")).withColumn("entity", lit("orders"))
      c.unionByName(o).select(col("entity"), col("n_rows"), col("sum_val"))
        .orderBy(col("entity"))
    }),

    // Keyed last-write-wins upsert (etlService.js:36-53): pending orders get
    // a recomputed price + finalized status, merged over the base table.
    "etl_upsert_merge" -> ((s, dir) => {
      // checkpointed co-partitioned base (the etl_cdc_collapse
      // discipline): base and updates are two views of one frame
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(col("o_orderkey"))
        .localCheckpoint(true)
      val updates = base.where(col("o_orderstatus") === "P")
        .withColumn("o_orderstatus", lit("F"))
        // 2dp×1.1 → 3 true decimal places: scale 3 avoids round-half ties
        // (e.g. ×.x75 is exactly representable in binary).
        .withColumn("o_totalprice",
          (col("o_totalprice") * lit(1.1)).cast("decimal(18,3)").cast("double"))
      Upsert.merge(base, updates, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // Key validation metrics (etlService.js:65-75).
    "etl_validate_keys" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      Quality.keyReport(li, "lineitem",
        Quality.keysPresent(Seq("l_orderkey", "l_linenumber")) &&
          col("l_discount").between(0.0, 0.06))
        .select(col("entity"), col("total"), col("processed"), col("skipped"))
    }),

    // CDC compaction: latest record per key by event time.
    "etl_dedup_latest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          Normalize.isoDateTimeOrNull(col("ts")).as("ts_s"))
        .orderBy(col("user_id"))
    }),

    // Run-level totals report (etlService.js:572-583).
    "etl_run_report" -> ((s, dir) => {
      val cust = Quality.keyReport(Tables.customer(s, dir), "customer", col("c_acctbal") > 0)
      val ord = Quality.keyReport(Tables.orders(s, dir), "orders", col("o_orderstatus").isin("F", "O"))
      cust.unionByName(ord).orderBy(col("entity"))
    }),

    // Quarantine routing: invalid records carry the FIRST failing rule as
    // a reason (the reference logs skipped records with a warning,
    // etlService.js:70-74 — quarantining them keeps the data auditable).
    "etl_quarantine" -> ((s, dir) => {
      val reason = when(col("event_type") === "error", lit("error_event"))
        .when(col("value") < 5, lit("low_value"))
      Tables.events(s, dir)
        .withColumn("reason", reason)
        .where(col("reason").isNotNull)
        .select(col("event_id"), col("event_type"), col("reason"))
        .orderBy(col("event_id"))
    }),

    // Schema evolution: merge batches whose schemas drifted (a column
    // added over time) — missing columns become NULL then defaults, the
    // union is by NAME not position.
    "etl_schema_evolve" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val oldBatch = o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val newBatch = o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      oldBatch.unionByName(newBatch, allowMissingColumns = true)
        .withColumn("o_orderpriority", coalesce(col("o_orderpriority"), lit("UNKNOWN")))
        .orderBy(col("o_orderkey"))
    }),

    // Snapshot-diff CDC derivation (the inverse of etl_upsert_merge):
    // when the source offers only full extracts, diff two keyed snapshots
    // into the insert/update/delete change set that a real changelog
    // (EtlLogger.js:6-17) would have recorded. prev drops keys ≡0 (mod 5)
    // (→ inserts), curr drops keys ≡0 (mod 7) (→ deletes), and curr bumps
    // pending-order prices exactly like the upsert path (→ updates);
    // unchanged keys never leave the join.
    "etl_snapshot_diff" -> ((s, dir) => {
      // one up-front hash exchange on the join key, checkpointed (the
      // etl_cdc_collapse discipline): both snapshot views derive from it
      // co-partitioned, so the diff's full-outer join re-shuffles nothing
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(col("o_orderkey"))
        .localCheckpoint(true)
      val prev = base.where(col("o_orderkey") % 5 =!= 0)
      val curr = base.where(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "P",
            (col("o_totalprice") * lit(1.1)).cast("decimal(18,3)").cast("double"))
            .otherwise(col("o_totalprice")))
      graft.etl.SnapshotDiff.changes(prev, curr, Seq("o_orderkey"))
        .orderBy(col("change"), col("o_orderkey"))
    }),

    // The other half of the CDC loop: applying the derived change set to
    // the previous snapshot MUST rebuild the current one exactly — the
    // oracle is simply curr's definition, so the round-trip invariant is
    // hash-checked cross-engine. applyChanges is a single-shuffle MERGE
    // with deletes (union + top-1-per-key), not upsert+anti-join.
    "etl_apply_changes" -> ((s, dir) => {
      // same co-partitioned checkpointed base as etl_snapshot_diff: the
      // diff join AND the merge's per-key window both key on o_orderkey
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(col("o_orderkey"))
        .localCheckpoint(true)
      val prev = base.where(col("o_orderkey") % 5 =!= 0)
      val curr = base.where(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderstatus") === "P",
            (col("o_totalprice") * lit(1.1)).cast("decimal(18,3)").cast("double"))
            .otherwise(col("o_totalprice")))
      val changes = graft.etl.SnapshotDiff.changes(prev, curr, Seq("o_orderkey"))
      graft.etl.SnapshotDiff.applyChanges(prev, changes, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // MERGE INTO, insert-only clause (WHEN NOT MATCHED THEN INSERT with
    // no matched action): new keys enter with their source values,
    // existing keys are NOT clobbered even though the source carries
    // changed values for them — the "backfill without overwriting"
    // load. One single-shuffle Merge.merge kernel.
    "etl_merge_insert_only" -> ((s, dir) => {
      // checkpointed base: `existing` and `src` are two views of the
      // same frame — one scan feeds both sides of the merge
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(col("o_orderkey"))
        .localCheckpoint(true)
      val existing = base.where(col("o_orderkey") % 5 =!= 0)
      val src = base // every key, prices bumped: must only land on new keys
        .withColumn("o_totalprice",
          (col("o_totalprice") * lit(1.1)).cast("decimal(18,3)").cast("double"))
      graft.etl.Merge.merge(existing, src, Seq("o_orderkey"),
          updateMatched = false)
        .orderBy(col("o_orderkey"))
    }),

    // MERGE INTO, update-only clause (WHEN MATCHED THEN UPDATE with no
    // insert): source rows for unknown keys are discarded — the
    // "apply corrections, never create" load. Same kernel.
    "etl_merge_update_only" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(col("o_orderkey"))
        .localCheckpoint(true)
      val existing = base.where(col("o_orderkey") % 5 =!= 0)
      val src = base.where(col("o_orderkey") % 3 === 0) // overlaps + new keys
        .withColumn("o_orderstatus", lit("F"))
      graft.etl.Merge.merge(existing, src, Seq("o_orderkey"),
          insertUnmatched = false)
        .orderBy(col("o_orderkey"))
    }),

    // Incremental aggregate maintenance: combine the BASE's partial
    // aggregate with the DELTA batch's — sum-of-sums and sum-of-counts —
    // instead of re-aggregating base detail (the incremental-view-
    // maintenance pattern: at 100 TB the stored base aggregate is read,
    // never the base fact table).
    "etl_incr_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      def part(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,4)")).as("t"))
      val baseAgg = part(o.where(col("o_orderkey") % 4 =!= 0)) // stored aggregate
      val deltaAgg = part(o.where(col("o_orderkey") % 4 === 0)) // today's batch
      baseAgg.unionByName(deltaAgg)
        .groupBy(col("o_custkey"))
        .agg(sum(col("n")).as("n_orders"), sum(col("t")).cast("double").as("total"))
        .orderBy(col("o_custkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "etl_clean_customer" ->
      """SELECT c_custkey, upper(trim(c_name)) AS name_u,
        |  CASE WHEN upper(trim(c_mktsegment)) IN ('AUTOMOBILE', 'BUILDING')
        |       THEN upper(trim(c_mktsegment)) ELSE NULL END AS seg,
        |  nullif(c_acctbal, 0) AS bal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "etl_clean_events" ->
      """SELECT event_id, nullif(value, 0) AS val,
        |  CASE WHEN event_type = 'purchase' THEN '1' ELSE '0' END AS payout,
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS iserr,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
        |  upper(trim(event_type)) AS et
        |FROM events ORDER BY event_id""".stripMargin,

    "etl_changelog_extract" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'signup' AND user_id IS NOT NULL)
        |ORDER BY c_custkey""".stripMargin,

    "etl_changelog_dispatch" ->
      """SELECT 'customer' AS entity, count(*) AS n_rows,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |FROM customer WHERE c_custkey IN (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'signup' AND user_id IS NOT NULL)
        |UNION ALL
        |SELECT 'orders', count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |FROM orders WHERE o_custkey IN (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL)
        |ORDER BY entity""".stripMargin,

    "etl_upsert_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
        |    CAST(CAST(o_totalprice * 1.1 AS DECIMAL(18,3)) AS DOUBLE) AS o_totalprice
        |  FROM base WHERE o_orderstatus = 'P'),
        |unioned AS (
        |  SELECT *, 1 AS pri FROM updates
        |  UNION ALL SELECT *, 0 AS pri FROM base),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY pri DESC) AS rn
        |  FROM unioned)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM ranked WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    "etl_validate_keys" ->
      """SELECT 'lineitem' AS entity, count(*) AS total,
        |  count(*) FILTER (WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        |    AND l_discount BETWEEN 0.0 AND 0.06) AS processed,
        |  count(*) FILTER (WHERE NOT (l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
        |    AND l_discount BETWEEN 0.0 AND 0.06)) AS skipped
        |FROM lineitem""".stripMargin,

    "etl_dedup_latest" ->
      """SELECT user_id, event_id, event_type,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "etl_quarantine" ->
      """SELECT event_id, event_type,
        |  CASE WHEN event_type = 'error' THEN 'error_event'
        |       WHEN value < 5 THEN 'low_value' END AS reason
        |FROM events
        |WHERE event_type = 'error' OR value < 5
        |ORDER BY event_id""".stripMargin,

    "etl_schema_evolve" ->
      """SELECT o_orderkey, o_totalprice,
        |  coalesce(o_orderpriority, 'UNKNOWN') AS o_orderpriority
        |FROM (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 1) t
        |ORDER BY o_orderkey""".stripMargin,

    "etl_run_report" ->
      """SELECT 'customer' AS entity, count(*) AS total,
        |  count(*) FILTER (WHERE c_acctbal > 0) AS processed,
        |  count(*) FILTER (WHERE NOT (c_acctbal > 0)) AS skipped
        |FROM customer
        |UNION ALL
        |SELECT 'orders', count(*),
        |  count(*) FILTER (WHERE o_orderstatus IN ('F', 'O')),
        |  count(*) FILTER (WHERE NOT (o_orderstatus IN ('F', 'O')))
        |FROM orders ORDER BY entity""".stripMargin,

    "etl_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |prev AS (SELECT * FROM base WHERE o_orderkey % 5 <> 0),
        |curr AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderstatus = 'P'
        |         THEN CAST(CAST(o_totalprice * 1.1 AS DECIMAL(18,3)) AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 7 <> 0),
        |j AS (
        |  SELECT coalesce(c.o_orderkey, p.o_orderkey) AS o_orderkey,
        |    c.o_custkey, c.o_orderstatus, c.o_totalprice,
        |    CASE WHEN p.o_orderkey IS NULL THEN 'insert'
        |         WHEN c.o_orderkey IS NULL THEN 'delete'
        |         WHEN c.o_custkey IS DISTINCT FROM p.o_custkey
        |           OR c.o_orderstatus IS DISTINCT FROM p.o_orderstatus
        |           OR c.o_totalprice IS DISTINCT FROM p.o_totalprice THEN 'update'
        |    END AS change
        |  FROM curr c FULL OUTER JOIN prev p ON c.o_orderkey = p.o_orderkey)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, change
        |FROM j WHERE change IS NOT NULL ORDER BY change, o_orderkey""".stripMargin,

    // The round-trip invariant IS the oracle: prev + changes(prev, curr)
    // must equal curr, so the oracle is curr's definition verbatim.
    "etl_apply_changes" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'P'
        |       THEN CAST(CAST(o_totalprice * 1.1 AS DECIMAL(18,3)) AS DOUBLE)
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""".stripMargin,

    // Insert-only: existing keys keep their ORIGINAL price (the bumped
    // source value must not land), new keys arrive bumped.
    "etl_merge_insert_only" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 5 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(CAST(o_totalprice * 1.1 AS DECIMAL(18,3)) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 5 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // Update-only: keys in base get status F when the source carries
    // them; source-only keys (%5=0 ∧ %3=0) never appear.
    "etl_merge_update_only" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'F' ELSE o_orderstatus END
        |    AS o_orderstatus,
        |  o_totalprice
        |FROM orders WHERE o_orderkey % 5 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    // Combining partial aggregates must equal aggregating the whole.
    "etl_incr_agg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
  )
}
