package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.{CdcOp, PitEvent, StreamOps}

/** Round-15 batch 2: the streaming stateful twins put INSIDE the driver's
  * oracle gate. Each entry replays a deterministic slice of the batch
  * tables through the real Structured-Streaming operator (MemoryStream →
  * watermarked flatMapGroupsWithState → memory sink, ascending event-time
  * micro-batches so nothing is late-dropped), then returns the collected
  * sink as a batch-comparable frame. The DuckDB oracle recomputes the
  * SAME result relationally, so the gate checks the streaming code path —
  * state transitions, watermark finalization, exactly-once emission —
  * against independent SQL, not against another Spark plan.
  *
  * Determinism: input rows are totally ordered by (event time, id) before
  * chunking, so watermarks only ever move forward and every run finalizes
  * identically; a far-future sentinel event flushes the last horizon.
  */
object Round15b extends Module {

  /** Replay `rows` through a streaming operator in `chunks` ascending
    * micro-batches (+ optional flush sentinel); returns the memory sink's
    * rows as a DataFrame of `s`. The stream runs in a clone of `s`, so
    * its confs and its sink view never reach the caller's session. */
  private def replay[T <: Product : org.apache.spark.sql.Encoder](
      s: SparkSession, rows: Seq[T], sentinel: Option[T],
      build: DataFrame => Dataset[_], chunks: Int = 3): DataFrame = {
    val run = org.apache.spark.sql.graft.Bridge.cloneSession(s)
    // a replay is a handful of micro-batches over a driver-fed slice:
    // the dominant cost is per-(batch × state-partition) store IO, so
    // run the stream with few state partitions (the conf is fixed into
    // the query's checkpoint at start — a real deployment sizes this to
    // its key cardinality instead)
    run.conf.set("spark.sql.shuffle.partitions", "4")
    // every finalization here rides a DATA batch (ascending delivery +
    // flush sentinel), so timeout-only wake batches add latency, never
    // output — skip them for the replay
    run.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = run.sqlContext
    val input = MemoryStream[T]
    // the sink's view lives in the clone's catalog, so one name serves
    // every replay
    val q = build(input.toDF()).writeStream
      .outputMode("append").format("memory").queryName("graft_replay").start()
    try {
      rows.grouped(math.max(1, rows.length / chunks + 1)).foreach { c =>
        input.addData(c); q.processAllAvailable()
      }
      // twice: the watermark computed FROM a batch only governs the
      // NEXT batch, and wake-only batches are disabled above — the
      // second sentinel batch runs with the far-future watermark in
      // force and finalizes every remaining horizon
      sentinel.foreach { x =>
        input.addData(x); q.processAllAvailable()
        input.addData(x); q.processAllAvailable()
      }
    } finally q.stop()
    val out = run.table("graft_replay")
    s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }

  val queries: Map[String, Q] = Map(

    // cdcAnomalyStream replay ≡ the etl_cdc_anomalies batch audit on the
    // user_id % 16 = 0 slice: the streamed per-key op-sequence violations,
    // finalized in (µs, event_id) order as the watermark passes them,
    // must aggregate to exactly the batch lag-window's rollup.
    "stream_cdc_replay" -> ((s, dir) => {
      import s.implicits._
      val rows = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id") % 16 === 0 &&
          col("event_type").isin("signup", "purchase", "error"))
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("event_id"),
          when(col("event_type") === "signup", lit("i"))
            .when(col("event_type") === "purchase", lit("u"))
            .otherwise(lit("d")).as("op"))
        .as[CdcOp].collect().sortBy(o => (o.ts.getTime, o.event_id)).toSeq
      val far = new java.sql.Timestamp(
        rows.map(_.ts.getTime).max + 30L * 86400000L)
      val sentinel = CdcOp(Long.MaxValue, far, -1L, "i")
      replay[CdcOp](s, rows, Some(sentinel),
        df => StreamOps.cdcAnomalyStream(df, watermark = "1 hour"))
        .groupBy(col("violation"))
        .agg(count(lit(1)).as("n_ops"),
          countDistinct(col("user_id")).as("n_keys"))
        .orderBy(col("violation"))
    }),

    // seqGapsStream replay ≡ the per-shard sequence audit over the keys
    // of a changelog with synthetic holes (every 7th order id missing):
    // ascending delivery means gaps only open (no late fills), so the
    // summed per-batch emissions + final outstanding count per 4096-id
    // shard must equal the relational min/max/distinct arithmetic.
    // The % 16 < 2 key-range slice is the same discipline as the other
    // two replay entries: the MemoryStream harness collects its input to
    // the driver, so the input must be a FIXED slice of the table, never
    // proportional to it (unsliced, sf0.1 already meant 1.3M driver-held
    // ids and 100x is a driver-memory wall).
    "stream_seq_gaps_replay" -> ((s, dir) => {
      import s.implicits._
      val ids = Tables.orders(s, dir)
        .where(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 16 < 2)
        .select(col("o_orderkey").cast("long").as("id"))
        .as[Long].collect().sorted.toSeq
      val streamed = replay[Tuple1[Long]](
        s, ids.map(Tuple1(_)), None,
        df => StreamOps.seqGapsStream(df.toDF("id"), "id", shardBits = 12))
      streamed.groupBy(col("shard"))
        .agg(min(col("smin")).as("smin"), max(col("smax")).as("smax"),
          sum(col("n_seen_batch")).as("n_seen"),
          sum(col("n_filled_batch")).as("n_filled"),
          max(col("n_outstanding")).as("n_missing"))
        .orderBy(col("shard"))
    }),

    // asofStream replay ≡ the point-in-time at-or-before feature pick on
    // the user_id % 16 = 0 slice: every purchase label, finalized by the
    // advancing watermark, must carry the max-(ft, fv) click feature at
    // or before it — the etl_pit_leakage pick, emitted by real streaming
    // state instead of an as-of join.
    "stream_pit_replay" -> ((s, dir) => {
      import s.implicits._
      val rows = Tables.events(s, dir)
        .where(col("ts").isNotNull && col("user_id").isNotNull &&
          col("user_id") % 16 === 0 &&
          col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          when(col("event_type") === "purchase", "label").otherwise("feat")
            .as("kind"),
          col("event_id").as("id"),
          coalesce(round(col("value") * 100).cast("long"), lit(0L)).as("v"))
        .as[PitEvent].collect().sortBy(e => (e.ts.getTime, e.id)).toSeq
      val far = new java.sql.Timestamp(
        rows.map(_.ts.getTime).max + 30L * 86400000L)
      val sentinel = PitEvent(Long.MaxValue, far, "feat", -1L, 0L)
      replay[PitEvent](s, rows, Some(sentinel),
        df => StreamOps.asofStream(df, watermark = "10 minutes"))
        .where(col("label_id") >= 0)
        .select(col("user_id"), col("label_id"), col("label_sec"),
          col("feat_sec"), col("feat_v"))
        .orderBy(col("label_id"))
    })
  )

  val oracle: Map[String, String] = Map(

    "stream_cdc_replay" ->
      """WITH ops AS (
        |  SELECT user_id, event_id, ts,
        |    CASE event_type WHEN 'signup' THEN 'i'
        |      WHEN 'purchase' THEN 'u' ELSE 'd' END AS op
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id % 16 = 0
        |    AND event_type IN ('signup', 'purchase', 'error')),
        |l AS (SELECT user_id, op,
        |    lag(op, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM ops),
        |v AS (SELECT user_id,
        |    CASE WHEN op = 'i' AND prev IN ('i', 'u') THEN 'insert_on_live'
        |      WHEN op = 'u' AND prev = 'd' THEN 'update_after_delete'
        |      WHEN op = 'u' AND prev IS NULL THEN 'update_before_insert'
        |      WHEN op = 'd' AND prev = 'd' THEN 'double_delete'
        |      WHEN op = 'd' AND prev IS NULL THEN 'delete_before_insert'
        |    END AS violation
        |  FROM l)
        |SELECT violation, count(*) AS n_ops,
        |  count(DISTINCT user_id) AS n_keys
        |FROM v WHERE violation IS NOT NULL
        |GROUP BY violation ORDER BY violation""".stripMargin,

    "stream_seq_gaps_replay" ->
      """WITH ids AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS id FROM orders
        |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 16 < 2),
        |g AS (SELECT id // 4096 AS shard, min(id) AS smin, max(id) AS smax,
        |    count(*) AS n_seen, count(DISTINCT id) AS nd
        |  FROM ids GROUP BY 1)
        |SELECT shard, smin, smax, n_seen, CAST(0 AS BIGINT) AS n_filled,
        |  smax - smin + 1 - nd AS n_missing
        |FROM g ORDER BY shard""".stripMargin,

    "stream_pit_replay" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |    COALESCE(CAST(round(value * 100) AS BIGINT), 0) AS fv
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND user_id % 16 = 0
        |    AND event_type IN ('click', 'purchase')),
        |lab AS (SELECT user_id, event_id AS label_id, es AS lt FROM ev
        |        WHERE event_type = 'purchase'),
        |ft AS (SELECT user_id, es AS ft, fv FROM ev
        |       WHERE event_type = 'click'),
        |p AS (SELECT l.user_id, l.label_id, l.lt,
        |    max(CASE WHEN f.ft <= l.lt THEN f.ft END) AS pit_ft
        |  FROM lab l LEFT JOIN ft f ON f.user_id = l.user_id
        |  GROUP BY 1, 2, 3),
        |w AS (SELECT p.user_id, p.label_id, p.lt, p.pit_ft,
        |    max(f.fv) AS pit_fv
        |  FROM p LEFT JOIN ft f
        |    ON f.user_id = p.user_id AND f.ft = p.pit_ft
        |  GROUP BY 1, 2, 3, 4)
        |SELECT user_id, label_id, lt AS label_sec, pit_ft AS feat_sec,
        |  pit_fv AS feat_v
        |FROM w ORDER BY label_id""".stripMargin
  )
}
