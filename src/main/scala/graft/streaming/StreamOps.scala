package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sinks.KeyedParquetSink

/** One (band, bandkey) observation of a streaming document. */
case class BandObs(bandkey: Long, band: Int, doc_id: Long, ts: java.sql.Timestamp)

/** One changelog op consumed by the CDC anomaly auditor (`op` ∈ i/u/d). */
case class CdcOp(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                 op: String)

/** Per-key CDC audit state: the in-horizon (µs, event_id, op) buffer +
  * the last FINALIZED op ("" = key never finalized an op) + the µs
  * event time of the key's last arrival (Long.MinValue = none), for the
  * optional idle eviction. This 3-field encoding is persisted ONLY when
  * `idleTtlSec` is set; the TTL-off path keeps the original
  * [[CdcStateV1]] encoding so deployed checkpoints resume (see
  * [[StreamOps.cdcAnomalyStream]]). */
case class CdcState(buf: List[(Long, Long, String)], last: String,
                    lastSeenUs: Long = Long.MinValue)

/** The ORIGINAL two-field CDC state encoding — the checkpoint contract
  * of every cdcAnomalyStream deployed before the idle-TTL flag existed
  * ("first deployment defines the schema"). The TTL-off path persists
  * THIS shape, so upgrading the library never breaks a live stream's
  * state-schema validation; only enabling `idleTtlSec` (which genuinely
  * needs the extra field) requires a fresh checkpoint. */
case class CdcStateV1(buf: List[(Long, Long, String)], last: String)

/** One finalized changelog-order violation. */
case class CdcViolation(user_id: Long, event_id: Long, ts_us: Long,
                        violation: String)

/** Per-bandkey state: the first document that claimed the bucket. */
case class BandKeeper(keeperDoc: Long)

/** Streaming near-dup verdict: `doc_id` collided with `keeper` in `band`
  * (keeper == doc_id means the doc claimed the bucket itself). */
case class NearDupVerdict(doc_id: Long, band: Int, keeper: Long)

/** Event consumed by the stateful sessionizer. */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)

/** Open-session state kept per user. Times are epoch SECONDS (endpoint
  * truncation) to mirror the batch operator's `unix_timestamp` semantics —
  * gap tests and durations must agree bit-for-bit with
  * [[graft.ops.Events.sessionStats]]. */
case class SessionState(startSec: Long, lastSec: Long, n: Long)

/** Closed session emitted downstream. */
case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                      n_events: Long, dur_sec: Long)

/** One observation for the heavy-hitter tracker (`win_ms` = epoch millis
  * of the tumbling-window start). */
case class HhObs(event_type: String, win_ms: Long, user_id: Long,
                 ts: java.sql.Timestamp)

/** Space-saving candidate map for one (type, window) group. */
case class HhState(counts: Map[Long, Long])

/** Closed-window heavy-hitter row. `est_count` is exact while the
  * group's distinct keys fit `capacity`, an overestimate (by at most the
  * evicted minimum) beyond it — the standard space-saving guarantee. */
case class HhOut(event_type: String, win_start: java.sql.Timestamp,
                 user_id: Long, est_count: Long, rank: Int)

/** One observation for the audience-overlap mask tracker. */
case class MaskObs(user_id: Long, bit: Long)

/** Emitted when a user's event-type bitmask GROWS — a CDC-style change
  * feed from which a downstream sink maintains the batch
  * `events_type_overlap` mask histogram incrementally
  * (histogram[new]+1, histogram[prev]−1 per change). */
case class MaskChange(user_id: Long, prev_mask: Long, new_mask: Long)

/** One observation for the late-arrival monitor (`us` = event-time epoch
  * micros; `event_id` orders arrivals WITHIN a micro-batch so replaying
  * a log in id order reproduces the batch audit exactly). */
/** Per-shard sequence-gap state: observed [smin, smax] plus the ids
  * inside that range not yet seen. Bounded BY CONSTRUCTION: a shard
  * spans at most 2^shardBits ids, so `missing` can never exceed the
  * shard width regardless of stream history. */
case class SeqGapState(smin: Long, smax: Long, missing: Array[Long])

/** One row per (shard, micro-batch): the shard's observed range, the
  * batch's arrivals/late fills, and the outstanding missing count. */
case class SeqGapsOut(shard: Long, smin: Long, smax: Long,
                      n_seen_batch: Long, n_filled_batch: Long,
                      n_outstanding: Long)

case class LateObs(event_type: String, event_id: Long, us: Long)

/** Per-micro-batch lateness rollup for one event type: how many events
  * arrived after a later-timestamped event of the same type had already
  * been seen, bucketed like the batch `etl_late_arrivals` audit. */
case class LateBands(event_type: String, band: String, n: Long,
                     max_late_s: Long)

/** One observation for the streaming point-in-time enrichment: a row to
  * enrich (`kind` = "label") or a feature observation (`kind` = "feat")
  * whose value the at-or-before pick reads. `ts` drives the watermark. */
case class PitEvent(user_id: Long, ts: java.sql.Timestamp, kind: String,
                    id: Long, v: Long)

/** Per-user PIT state: buffered feature observations (compacted below
  * the watermark — see [[StreamOps.asofStream]]) and labels awaiting
  * watermark finalization. Seconds-granularity epochs. `lastSeen` is the
  * user's newest event second — the idle clock the OPTIONAL TTL eviction
  * reads (Long.MinValue until the first event lands). */
case class PitState(feats: List[(Long, Long)], labels: List[(Long, Long)],
                    lastSeen: Long = Long.MinValue)

/** A finalized PIT enrichment: the label and the latest feature
  * observation at-or-before it (None when the user had none yet). */
case class PitOut(user_id: Long, label_id: Long, label_sec: Long,
                  feat_sec: Option[Long], feat_v: Option[Long])

/** Structured-Streaming twins of the batch operators (SURVEY §2.7).
  *
  * The reference runs its ETL on a cron schedule (index.js:75-86) — the
  * streaming-native re-expression is a continuous query with watermarked
  * event-time state instead of batch re-scans:
  *  - `windowedAgg` twins `events_window_agg` (tumbling window counts/sums)
  *  - `dedupByKey` twins the changelog "process each reference once" /
  *    upsert idempotency (etlService.js:36-53) via watermarked
  *    dropDuplicates
  *  - `cleanStream` twins `etl_clean_events` — stateless transforms apply
  *    unchanged to a streaming frame (same Column kernel).
  *
  * State size is bounded by the watermark: at 100 TB/day the windowed agg
  * keeps only open windows + late-tolerance in the state store.
  */
object StreamOps {

  /** Tumbling event-time window aggregation with a late-data watermark.
    * Pass `slide` < `windowLen` for SLIDING windows (the streaming twin
    * of `events_sliding_window`): each event then feeds
    * windowLen/slide open windows, and the state store holds that many
    * per key until the watermark closes them — still bounded. */
  def windowedAgg(events: DataFrame, tsCol: String, typeCol: String,
                  valueCol: String, windowLen: String = "1 hour",
                  watermark: String = "10 minutes",
                  slide: Option[String] = None): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide.getOrElse(windowLen)), col(typeCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,4)")).cast("double").as("total"))
      .select(col("window.start").as("win_start"), col(typeCol), col("n"), col("total"))

  /** Gap-based sessionization via Spark's NATIVE session_window — the
    * declarative twin of [[sessionizeStream]] (which keeps custom state
    * for mid-session emission control). The built-in merges windows that
    * are < gap apart inside the state store; state is evicted when the
    * watermark passes a session's end, so it's bounded by OPEN sessions.
    * Prefer this form when per-session aggregates are all you need —
    * Catalyst plans it (codegen'd merge), no Scala closure state. */
  def sessionWindowAgg(events: DataFrame, tsCol: String, keyCol: String,
                       gap: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"))

  /** Exactly-once key dedup within the watermark horizon: state for a key
    * is evicted once the watermark passes it, so state stays bounded. */
  def dedupByKey(events: DataFrame, tsCol: String, keyCols: Seq[String],
                 watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based sessionization with custom per-key state
    * (flatMapGroupsWithState): the streaming twin of `events_sessionize`.
    *
    * State per user is one open session (start, last, count); a session
    * closes when a gap > `gapMinutes` is seen in-batch, or when the
    * event-time watermark passes `last + gap` (timeout) — so state is
    * bounded by active users, not history. Output is append-mode closed
    * sessions. Micro-batch input is unordered; events are sorted by
    * (ts, event_id) per key before folding, the same tiebreak the batch
    * operator uses. */
  def sessionizeStream(events: DataFrame, gapMinutes: Int,
                       watermark: String = "1 hour"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapSec = gapMinutes * 60L
    events.withWatermark("ts", watermark)
      .selectExpr("user_id", "ts", "event_id").as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def out(s: SessionState): SessionOut =
            SessionOut(user, new java.sql.Timestamp(s.startSec * 1000L), s.n, s.lastSec - s.startSec)
          if (it.isEmpty && state.hasTimedOut) {
            // watermark passed last + gap: the open session is final
            val closed = state.getOption.map(out).toSeq
            state.remove()
            closed.iterator
          } else {
            val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption.orNull
            val closed = Seq.newBuilder[SessionOut]
            for (e <- evs) {
              // endpoint truncation to seconds, same as batch unix_timestamp
              val t = Math.floorDiv(e.ts.getTime, 1000L)
              cur match {
                case null => cur = SessionState(t, t, 1)
                case s if t - s.lastSec > gapSec =>
                  closed += out(s); cur = SessionState(t, t, 1)
                case s =>
                  // a late (within-watermark) event may precede the open
                  // session's start — widen both bounds so duration and
                  // start match what the batch twin computes
                  cur = SessionState(math.min(s.startSec, t), math.max(s.lastSec, t), s.n + 1)
              }
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp((cur.lastSec + gapSec) * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Event correlation: pair each `typeA` event with the same user's
    * `typeB` events that follow within `within` — a watermarked
    * stream-stream interval join when fed streaming frames (state on both
    * sides is bounded by watermark + interval), and the identical plan
    * shape in batch (the oracle-checked `events_correlate` twin). The
    * range predicate rides on the user_id equi key, so there is no
    * interval explosion. */
  def correlateEvents(events: DataFrame, typeA: String, typeB: String,
                      within: String = "30 minutes",
                      watermark: String = "1 hour"): DataFrame = {
    def side(t: String, p: String) = {
      val s = events.where(col("event_type") === t)
        .select(col("user_id").as(s"${p}_user"), col("event_id").as(s"${p}_id"),
          col("ts").as(s"${p}_ts"))
      if (s.isStreaming) s.withWatermark(s"${p}_ts", watermark) else s
    }
    side(typeA, "a").join(side(typeB, "b"),
        expr(s"a_user = b_user AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL $within"))
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"))
  }

  /** Shared per-batch load of the keyed sinks ([[upsertSink]],
    * [[cdcSink]], [[dispatchSink]]): every batch is MERGE INTO'd with
    * [[graft.etl.Merge]] semantics, the first one against an empty target
    * that it then writes as the table, so within-batch versions
    * (`versionCols`) and deletes (`deleteCond`) resolve the same way in
    * the bootstrap batch as in every later one. `columns` are the table's
    * columns: the batch's, less a change marker. */
  private def mergeBatch(batch: DataFrame, columns: Seq[String], path: String,
                         keys: Seq[String], numBuckets: Int,
                         versionCols: Seq[String],
                         deleteCond: Option[Column] = None): Unit = {
    val spark = batch.sparkSession
    if (KeyedParquetSink.tableExists(spark, path))
      KeyedParquetSink.mergeInto(spark, path, batch, keys, numBuckets,
        deleteCond = deleteCond, versionCols = versionCols)
    else {
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        batch.select(columns.map(col): _*).schema)
      KeyedParquetSink.write(graft.etl.Merge.merge(empty, batch, keys,
          deleteCond = deleteCond, versionCols = versionCols),
        path, keys, numBuckets)
    }
  }

  /** Continuous CDC load: every micro-batch is upserted into a keyed
    * parquet table (graft.sinks.KeyedParquetSink) — the streaming twin of
    * the reference's changelog→upsert loop, with exactly-once-per-key
    * effect because the sink merge is idempotent under re-delivery.
    * Caller starts/stops the returned query. */
  def upsertSink(events: DataFrame, path: String, keys: Seq[String],
                 numBuckets: Int, checkpoint: String,
                 versionCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
        mergeBatch(b, b.columns.toSeq, path, keys, numBuckets, versionCols)
      }
      .start()

  /** Continuous-ingest sink — [[graft.etl.Pipelines.ingest]] per
    * micro-batch: the reference's cron'd ETL loop as ONE streaming
    * query over the three persisted artifacts. Each micro-batch of
    * (doc_id, text, embedding) rows dedup-gates against the STORED
    * index, folds its uniques into all three artifacts (dedup index,
    * BPE pricing, ANN append), and appends the per-batch IngestReport
    * as one row to `reportPath` — the run-report table (the
    * etl_run_report shape, one row per ATTEMPT by design: a crash
    * replay appends a second row for the same batch_id whose
    * uniques = 0, which is itself the idempotence receipt). The
    * ARTIFACTS are exactly-once in effect under checkpoint replay
    * because a re-delivered batch verdicts every doc a dup and folds
    * nothing (spec-pinned, the [[cdcSink]] discipline). */
  def ingestSink(docs: DataFrame, dedupPath: String, bpePath: String,
                 ivfPath: String, reportPath: String, checkpoint: String,
                 dedupBuckets: Int = 8, ivfBuckets: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val r = graft.etl.Pipelines.ingest(spark, batch.toDF(),
          dedupPath, bpePath, ivfPath, dedupBuckets, ivfBuckets)
        Seq((batchId, r.rowsIn, r.exactDups, r.nearDups, r.uniques,
            r.tokensSeen, r.piecesSeen, r.vectorsAppended))
          .toDF("batch_id", "rows_in", "exact_dups", "near_dups",
            "uniques", "n_tokens", "n_pieces", "vectors_appended")
          .write.mode("append").parquet(reportPath)
      }
      .start()

  /** Continuous subject-erasure sink — the lifecycle complement of
    * [[ingestSink]]: each micro-batch of (doc_id) erasure requests runs
    * [[graft.etl.Pipelines.erase]] against the stored dedup + ANN
    * artifacts and appends one EraseReport row per attempt to
    * `reportPath` (the erasure receipt a compliance re-audit reads —
    * one row per ATTEMPT by design: a crash replay appends a second
    * row for the same batch_id whose removal counts are 0, which is
    * itself the idempotence proof). The artifacts are exactly-once in
    * effect under checkpoint replay because erasure is idempotent
    * (re-deleting the same subjects matches nothing — the
    * [[ingestSink]] discipline, inverted). */
  def eraseSink(requests: DataFrame, idCol: String, dedupPath: String,
                ivfPath: String, reportPath: String, checkpoint: String,
                dedupBuckets: Int = 8, ivfBuckets: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val r = graft.etl.Pipelines.erase(spark, batch.toDF(), idCol,
          dedupPath, ivfPath, dedupBuckets, ivfBuckets)
        Seq((batchId, r.subjects, r.dedupHashes, r.dedupBands,
            r.dedupSigs, r.annRows))
          .toDF("batch_id", "subjects", "dedup_hashes", "dedup_bands",
            "dedup_sigs", "ann_rows")
          .write.mode("append").parquet(reportPath)
      }
      .start()

  /** Continuous CDC MERGE sink — [[upsertSink]] plus the delete clause:
    * each micro-batch of a change stream (rows whose `changeCol` says
    * insert/update/delete) is MERGE INTO'd against the stored keyed
    * table via KeyedParquetSink.mergeInto, so deletes remove their keys
    * from exactly the buckets they hash into (never a full rewrite).
    * The first batch is merged into an empty table, so its deletes and
    * repeated keys resolve like any later batch's. Within a batch,
    * `versionCols` descending pick the winner among multiple changes for
    * one key; re-delivery of a batch is idempotent (a
    * replayed delete of an absent key is a no-op, a replayed upsert
    * rewrites the same values), which is what makes the checkpoint
    * replay after a crash exactly-once in effect. */
  def cdcSink(stream: DataFrame, path: String, keys: Seq[String],
              numBuckets: Int, checkpoint: String,
              changeCol: String = "change",
              versionCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        mergeBatch(b, b.columns.toSeq.filterNot(_ == changeCol), path, keys,
          numBuckets, versionCols, Some(col(changeCol) === "delete"))
      }
      .start()

  /** Multi-table CDC dispatch sink — the streaming twin of
    * graft.etl.Changelog.dispatch (reference: one changelog stream whose
    * `table` column routes each record per entity, EtlLogger.js:8-15).
    * Every micro-batch is split by `tableCol` and upserted into each
    * entity's keyed table; entities absent from a batch cost one empty
    * filter, and the per-entity merge stays idempotent under
    * re-delivery. `entities` maps the routing value to (path, keyCols,
    * numBuckets). Rows routed to unconfigured tables are ignored (the
    * reference skips unknown tables the same way). */
  def dispatchSink(stream: DataFrame, tableCol: String,
                   entities: Map[String, (String, Seq[String], Int)],
                   checkpoint: String,
                   versionCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // one materialization per batch: every entity's filter (plus its
        // emptiness probe) re-executes the batch's upstream otherwise —
        // the multi-destination foreachBatch pattern Spark documents
        val b = batch.toDF().persist()
        try entities.foreach { case (entity, (path, keys, numBuckets)) =>
          val part = b.where(col(tableCol) === entity).drop(tableCol)
          if (!part.isEmpty)
            mergeBatch(part, part.columns.toSeq, path, keys, numBuckets, versionCols)
        } finally b.unpersist()
      }
      .start()

  /** Streaming MinHash-LSH near-dedup — the continuous twin of the batch
    * `dedup_minhash_lsh` candidate generator. Each incoming document
    * computes its k-seed MinHash signature (the same native codegen'd
    * kernel as batch, graft.functions.MinHashSignatures — a pure map, no
    * shuffle) and its per-band xxhash64 keys (Dedup.bandKeyArray, shared
    * with batch so the bucketing can never drift). Per band key, custom
    * state remembers the FIRST document that claimed the bucket; every
    * later document colliding there is emitted as a near-dup verdict
    * against that keeper. State is one long per live band key and is
    * evicted `horizonSec` after the bucket's last activity via event-time
    * timeout — bounded by active buckets in the horizon, not by history. */
  def nearDedupStream(docs: DataFrame, idCol: String, textCol: String,
                      tsCol: String, k: Int = 8, rowsPerBand: Int = 4,
                      watermark: String = "10 minutes",
                      horizonSec: Long = 3600): Dataset[NearDupVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = docs.select(
      col(idCol).as("doc_id"), col(tsCol).as("ts"),
      graft.functions.TextFunctions.minhashSigs(
        array_distinct(graft.ops.TextAnalysis.tokens(col(textCol))), k).as("sig"))
    sigs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        posexplode(graft.ops.Dedup.bandKeyArray(col("sig"), k, rowsPerBand))
          .as(Seq("band", "bandkey")))
      .select(col("bandkey"), col("band"), col("doc_id"), col("ts")).as[BandObs]
      .groupByKey(o => (o.band, o.bandkey))
      .flatMapGroupsWithState[BandKeeper, NearDupVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), it, state) =>
          if (it.isEmpty && state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // micro-batch input is unordered: (ts, doc_id) sort makes the
            // claimed keeper deterministic under replay
            val obs = it.toSeq.sortBy(o => (o.ts.getTime, o.doc_id))
            var keeper = state.getOption.map(_.keeperDoc).getOrElse(-1L)
            val out = obs.map { o =>
              if (keeper < 0) keeper = o.doc_id
              NearDupVerdict(o.doc_id, band, keeper)
            }
            state.update(BandKeeper(keeper))
            state.setTimeoutTimestamp(obs.map(_.ts.getTime).max + horizonSec * 1000L)
            out.iterator
          }
      }
  }

  /** Streaming heavy hitters: top-`k` keys per (type, tumbling window) by
    * the space-saving algorithm — the "trending keys" operator a windowed
    * groupBy count can't provide at scale, because exact per-key counts
    * over a hot window would hold EVERY distinct key in the state store.
    * Here each (type, window) group keeps at most `capacity` counters:
    * a new key beyond capacity evicts the minimum counter m and enters
    * at m+1 (the classic overestimate-bounded trade). Counts are exact
    * whenever the group's distinct keys fit `capacity`.
    *
    * The window's ranking is emitted ONCE, when the event-time watermark
    * passes the window end (append mode) — rank ties broken by key id so
    * replay is deterministic. State per group is one bounded map, evicted
    * at emission. */
  def heavyHittersStream(events: DataFrame, typeCol: String, keyCol: String,
                         tsCol: String, winMinutes: Int, capacity: Int,
                         k: Int, watermark: String = "10 minutes"): Dataset[HhOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val winMs = winMinutes * 60000L
    events
      .withWatermark(tsCol, watermark)
      .select(col(typeCol).as("event_type"),
        (floor(unix_millis(col(tsCol)) / winMs).cast("long") * winMs).as("win_ms"),
        col(keyCol).cast("long").as("user_id"), col(tsCol).as("ts")).as[HhObs]
      .groupByKey(o => (o.event_type, o.win_ms))
      .flatMapGroupsWithState[HhState, HhOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((etype, winStartMs), it, state) =>
          if (it.isEmpty && state.hasTimedOut) {
            val closed = state.getOption.toSeq.flatMap { st =>
              st.counts.toSeq.sortBy { case (u, c) => (-c, u) }.take(k)
                .zipWithIndex.map { case ((u, c), i) =>
                  HhOut(etype, new java.sql.Timestamp(winStartMs), u, c, i + 1) }
            }
            state.remove()
            closed.iterator
          } else {
            var counts = state.getOption.map(_.counts).getOrElse(Map.empty[Long, Long])
            // micro-batch input is unordered; (ts, key) order makes the
            // eviction sequence — and so the estimates — replay-stable
            for (o <- it.toSeq.sortBy(o => (o.ts.getTime, o.user_id))) {
              counts.get(o.user_id) match {
                case Some(c) => counts = counts.updated(o.user_id, c + 1)
                case None if counts.size < capacity =>
                  counts = counts.updated(o.user_id, 1L)
                case None =>
                  val (mu, mc) = counts.minBy { case (u, c) => (c, u) }
                  counts = counts - mu + (o.user_id -> (mc + 1))
              }
            }
            state.update(HhState(counts))
            // fire when the watermark passes the window end; a late batch
            // for an already-passed window must still set a FUTURE timeout
            state.setTimeoutTimestamp(
              math.max(winStartMs + winMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Audience-overlap mask tracker — the streaming twin of the batch
    * `events_type_overlap` bitmask rollup. Per-user state is ONE long
    * (the bit_or of type bits seen so far); a row is emitted only when
    * the mask GROWS, so the output is a change feed bounded by
    * users × types, not by event volume. No watermark/timeout: the mask
    * is monotone (set-union), so late events can only be no-ops or
    * valid growth — the reason this state needs no eviction to stay
    * correct. At 100 TB the state store holds one long per user — the
    * keyed-state shape RocksDB-backed stores are sized for. */
  def typeOverlapStream(events: DataFrame, typeCol: String,
                        keyCol: String): Dataset[MaskChange] = {
    val spark = events.sparkSession
    import spark.implicits._
    val bit = when(col(typeCol) === "click", 1L)
      .when(col(typeCol) === "error", 2L)
      .when(col(typeCol) === "purchase", 4L)
      .when(col(typeCol) === "signup", 8L)
      .when(col(typeCol) === "view", 16L).otherwise(0L)
    events
      .where(col(keyCol).isNotNull)
      .select(col(keyCol).cast("long").as("user_id"), bit.as("bit")).as[MaskObs]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, MaskChange](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val batchBits = it.foldLeft(0L)((m, o) => m | o.bit)
          val next = prev | batchBits
          if (next != prev) {
            state.update(next)
            Iterator.single(MaskChange(uid, prev, next))
          } else Iterator.empty
      }
  }

  /** Continuous late-arrival monitor — the streaming twin of the batch
    * `etl_late_arrivals` audit. State is ONE long per event type (the
    * running max event time in micros — bounded by type cardinality, no
    * watermark needed: a max is monotone). Each micro-batch emits the
    * type's lateness-band counts for the events it carried; arrival
    * order within a batch is pinned to `(event_id, us)` so a log
    * replayed in id order reproduces the batch operator's totals
    * bit-for-bit (the spec proves it). The integer lateness
    * ((prev − us) div 10⁶) and band edges are the batch kernel's.
    *
    * Memory note: the replay-determinism sort materializes one
    * (type, micro-batch) GROUP per task — bounded by micro-batch
    * sizing (`maxFilesPerTrigger` / `maxOffsetsPerTrigger`), not by
    * stream history; a hot type in an unbounded trigger is the one
    * configuration that can make this buffer large. */
  def lateArrivalsStream(events: DataFrame, tsCol: String, typeCol: String,
                         idCol: String): Dataset[LateBands] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .where(col(tsCol).isNotNull)
      .select(col(typeCol).as("event_type"), col(idCol).cast("long").as("event_id"),
        unix_micros(col(tsCol).cast("timestamp")).as("us")).as[LateObs]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, LateBands](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (typ, it, state: GroupState[Long]) =>
          var mx = state.getOption.getOrElse(Long.MinValue)
          val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
          // (event_id, us) order — the batch audit's tiebreak, so a
          // replayed log with duplicate ids still reproduces it exactly.
          // NOTE: this materializes one (type, micro-batch) group per
          // task — bounded by trigger sizing (maxFilesPerTrigger /
          // maxOffsetsPerTrigger), which is the knob a deployment MUST
          // set for a hot type; the sort itself is required for the
          // replay-determinism contract above.
          it.toSeq.sortBy(o => (o.event_id, o.us)).foreach { o =>
            val late =
              if (mx == Long.MinValue || mx <= o.us) 0L
              else (mx - o.us) / 1000000L
            val band =
              if (late <= 0) "on_time"
              else if (late < 60) "lt_1m"
              else if (late < 3600) "lt_1h"
              else "ge_1h"
            val (n, m) = acc.getOrElse(band, (0L, 0L))
            acc(band) = (n + 1, math.max(m, late))
            if (o.us > mx) mx = o.us
          }
          state.update(mx)
          acc.iterator.map { case (band, (n, m)) => LateBands(typ, band, n, m) }
      }
  }

  /** Continuous sequence-gap monitor — the streaming twin of the batch
    * `etl_seq_gaps` audit: which ids of a keyed changelog never arrived?
    * Ids are sharded by `id >> shardBits` (the batch kernel's 4096-id
    * blocks), so per-shard state — observed [min, max] plus the missing
    * ids inside it — is bounded by the shard width AT ANY VOLUME; a
    * 100 TB changelog just has more shards, each still ≤ 4096 ids of
    * state. Late arrivals FILL previously-opened gaps (emitted as
    * `n_filled_batch`); duplicate deliveries are no-ops by value, so a
    * replayed log converges to the same outstanding set. Cross-shard
    * gaps are reconstructed by the reader from adjacent shards' final
    * (smin, smax) rows — exactly the batch operator's boundary-frame
    * phase (the spec proves total agreement). */
  def seqGapsStream(ids: DataFrame, idCol: String,
                    shardBits: Int = 12): Dataset[SeqGapsOut] = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long").as("id")).as[Long]
      .groupByKey(_ >> shardBits)
      .flatMapGroupsWithState[SeqGapState, SeqGapsOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (shard, it, state: GroupState[SeqGapState]) =>
          val s0 = state.getOption
            .getOrElse(SeqGapState(Long.MaxValue, Long.MinValue, Array.empty))
          var mn = s0.smin; var mx = s0.smax
          val missing = scala.collection.mutable.SortedSet.empty[Long] ++ s0.missing
          var filled = 0L; var seen = 0L
          it.toSeq.sorted.foreach { id =>
            seen += 1
            if (mx == Long.MinValue) { mn = id; mx = id }
            else if (id > mx) { ((mx + 1) until id).foreach(missing += _); mx = id }
            else if (id < mn) { ((id + 1) until mn).foreach(missing += _); mn = id }
            else if (missing.remove(id)) filled += 1
            // else: duplicate delivery of an already-seen id — no-op
          }
          state.update(SeqGapState(mn, mx, missing.toArray))
          Iterator.single(
            SeqGapsOut(shard, mn, mx, seen, filled, missing.size.toLong))
      }
  }

  /** Continuous bounded-state distinct counting — the streaming twin of
    * the batch q_bitmap_distinct sketch: per day, a `width`-bit
    * linear-counting bitmap held in typed state (512 B at 4096 bits),
    * folded via the SAME md5-h3 cell hash the batch kernel uses
    * (graft.ops.Sketch.h3Jvm ≡ Sketch.h3, property-pinned), emitting the
    * day's current occupied-cell count after every micro-batch. The
    * point at 100 TB: `dropDuplicates` on raw keys holds state ∝
    * distinct keys (unbounded on a high-cardinality stream), while this
    * holds EXACTLY width bits per day no matter the volume — and the
    * final counts equal the batch query's bits_set by shared hash.
    * Duplicate/replayed deliveries are idempotent (bit OR), so an
    * at-least-once source converges to the same bitmap. */
  def bitmapDistinctStream(events: DataFrame, tsCol: String, keyCol: String,
                           width: Int = 4096): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.where(col(tsCol).isNotNull)
      .select(date_format(to_date(col(tsCol)), "yyyy-MM-dd").as("day"),
        col(keyCol).cast("string").as("k")).as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Long)](
        GroupStateTimeout.NoTimeout) {
        (day: String, it: Iterator[(String, String)],
         state: GroupState[Array[Long]]) =>
          val bits = state.getOption.getOrElse(new Array[Long]((width + 63) / 64))
          it.foreach { case (_, k) =>
            val c = (graft.ops.Sketch.h3Jvm(k) % width).toInt
            bits(c >> 6) |= 1L << (c & 63)
          }
          state.update(bits)
          (day, bits.map(w => java.lang.Long.bitCount(w).toLong).sum)
      }.toDF("day", "bits_set")
  }

  /** Continuous count-min sketch — the streaming twin of the batch
    * q_cms_heavy sketch build. The sketch is a watermark-free global
    * aggregate over (row, bucket): state is bounded at 4×1024 counter
    * cells NO MATTER the stream volume (the CMS property), each
    * micro-batch folds in via map-side partial counts, and the sink
    * (update mode) always holds the current sketch a reader probes
    * with the same md5 row hashes. Hashing is the batch kernel's
    * (first-3-nibble md5 of "r:key" mod 1024), so a batch probe over
    * the streamed sketch returns the batch estimates exactly. */
  def cmsSketchStream(events: DataFrame, keyCol: String,
                      depth: Int = 4, width: Int = 1024): DataFrame =
    // the shared batch kernel (graft.ops.Sketch) applied to a streaming
    // frame: the groupBy becomes a stateful agg over the same ≤depth×width
    // cells, and the hash is BY CONSTRUCTION the one q_cms_heavy probes
    graft.ops.Sketch.cmsSketch(events, keyCol, depth, width.toLong)

  /** Continuous HyperLogLog registers — the streaming twin of the batch
    * q_hll_sketch: the SAME Sketch.hllRegisters cells as a stateful
    * max-aggregate, so state is ≤256 (bucket, register) rows NO MATTER
    * the stream volume and the streamed registers equal the batch ones
    * by shared code. MAX is idempotent and commutative, so
    * at-least-once/replayed delivery converges to the same registers —
    * and two streams' register tables merge by element-wise MAX without
    * ever reshuffling raw keys (the HLL property). */
  def hllRegistersStream(events: DataFrame, keyCol: String): DataFrame =
    graft.ops.Sketch.hllRegisters(events, keyCol)

  /** Continuous KMV/Theta distinct sketch — the streaming twin of the
    * batch q_kmv_native: the SAME native TypedImperativeAggregate
    * (functions/SketchAggregates.KmvAgg) as a stateful aggregate, so
    * state is ONE ≤k-entry sorted buffer NO MATTER the stream volume
    * and the streamed hash set equals the batch one by shared code.
    * The k-smallest-of-union merge is idempotent set algebra, so
    * at-least-once/replayed delivery converges — the same property the
    * HLL register and bitmap twins lean on. Emits the ascending
    * k-smallest hashes (complete mode). */
  def kmvStream(events: DataFrame, keyCol: String, k: Int = 256): DataFrame =
    events.where(col(keyCol).isNotNull)
      .agg(graft.functions.SketchAggregates.kmvAgg(col(keyCol), k).as("hs"))

  /** Continuous moments sketch — the streaming twin of the batch
    * q_moment_sketch: the SAME Sketch.momentVector aggregate as a
    * stateful keyed agg, so state is ONE (n, Σq..Σq⁴, min, max) row per
    * group NO MATTER the stream volume and the streamed vector equals
    * the batch one by shared code. Every term is a sum or extreme, so
    * sub-stream sketches merge additively (sums add, extremes
    * min/max) — the mergeability the batch spec proves half+half. */
  def momentSketchStream(rows: DataFrame, grpCol: String,
                         valCol: String): DataFrame =
    graft.ops.Sketch.momentVector(rows, grpCol, valCol)

  /** Stream-stream band join on TIME ALONE — the streaming twin of
    * q_band_join's bucket-expansion rewrite: each left event replicates
    * to its `widthSec` bucket and both neighbors (3 rows, bounded), the
    * join runs on the bucket EQUI-key plus the exact band predicate, so
    * the state store keys rows by bucket instead of holding an
    * unjoinable cross — and the watermarks bound retained state to the
    * band width plus lateness, exactly like the keyed interval join
    * (correlateEvents). Each qualifying pair emits once: the probe's
    * three replica buckets are distinct and the right row's bucket is
    * fixed. */
  def bandJoinStream(left: DataFrame, right: DataFrame,
                     widthSec: Long = 600L,
                     watermark: String = "1 hour"): DataFrame = {
    def wm(df: DataFrame) = if (df.isStreaming)
      df.withWatermark("ts", watermark) else df
    val a = wm(left)
      .select(col("event_id").as("a_id"), col("ts").as("a_ts"))
      .select(col("a_id"), col("a_ts"), explode(array(
        expr(s"CAST(a_ts AS LONG) div $widthSec") - 1,
        expr(s"CAST(a_ts AS LONG) div $widthSec"),
        expr(s"CAST(a_ts AS LONG) div $widthSec") + 1)).as("abk"))
    val b = wm(right)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
      .withColumn("bbk", expr(s"CAST(b_ts AS LONG) div $widthSec"))
    // the band predicate rides INSIDE the join condition so the engine
    // derives state-eviction watermarks from it (a post-filter would
    // leave the state store unbounded)
    a.join(b, expr(
        s"""abk = bbk AND
           |b_ts >= a_ts - INTERVAL $widthSec SECONDS AND
           |b_ts <= a_ts + INTERVAL $widthSec SECONDS""".stripMargin))
      .select(col("a_id"), col("b_id"), col("b_user"), col("a_ts"),
        col("b_ts"))
  }

  /** Continuous table-freshness monitor — the streaming twin of the
    * batch `etl_freshness` audit: per event type, the latest event time
    * seen so far (epoch seconds, integer-exact). State is ONE max per
    * type (bounded by the type cardinality, no watermark needed — max is
    * monotone), emitted in complete mode so the sink always holds the
    * current freshness table an on-call reads when a CDC feed stalls. */
  def freshnessStream(events: DataFrame, tsCol: String,
                      typeCol: String): DataFrame =
    events
      .where(col(tsCol).isNotNull)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"), max(col(tsCol)).as("max_ts"))
      .select(col(typeCol), col("n"),
        expr(s"unix_micros(max_ts) div 1000000").as("max_ts_s"))

  /** The batch cleaning kernel applied to a stream — identical Columns
    * (graft.etl.Normalize), proving the transforms are engine-mode
    * agnostic. */
  def cleanStream(events: DataFrame): DataFrame = {
    import graft.etl.Normalize
    events.select(
      col("event_id"),
      Normalize.numOrNull(col("value")).as("val"),
      Normalize.bool01(col("event_type") === "error").as("iserr"),
      Normalize.upperTrim(col("event_type")).as("et"),
      col("ts"))
  }

  /** Streaming point-in-time enrichment — the event-time TEMPORAL join
    * (Flink's event-time temporal join / the online feature-store read):
    * each label row is enriched with the latest feature observation
    * at-or-before its event time, exactly the batch PIT pick behind
    * `etl_pit_leakage` (max (ft, fv) struct with ft ≤ lt).
    *
    * Correctness under disorder comes from the watermark: a label is
    * finalized only once the watermark passes its event time — after
    * that no feature with an earlier timestamp can arrive (later ones
    * are irrelevant to the at-or-before pick), so the emitted pick is
    * final. Until then the label waits in state.
    *
    * State is BOUNDED per user: labels only within the watermark delay,
    * and the feature buffer compacts to the single dominant observation
    * at-or-below the watermark (any older feature is dominated by it
    * for every label that can still arrive) plus the in-horizon tail —
    * the 100 TB shape is O(users × watermark-window activity), not the
    * feature history.
    *
    * Input: a unified `PitEvent` frame (`kind` ∈ {label, feat}). Rows
    * older than the watermark are dropped by the engine (standard
    * late-data semantics). Emits [[PitOut]] in label (sec, id) order
    * per finalization.
    *
    * `idleTtlSec`: OPTIONAL idle eviction for production firehoses. The
    * per-user dominant feature row correctly lives forever by default
    * (a future label may still need it), but a long-running stream over
    * a churning user base then accretes one state row per user EVER
    * seen. With the TTL on, a user with no pending labels and no
    * in-horizon features whose last event is ≥ idleTtlSec below the
    * watermark is EVICTED — and the eviction is surfaced (the no-silent-
    * caps rule) as a sentinel [[PitOut]] with label_id = -1 carrying the
    * dominant feature that was dropped: a label arriving for that user
    * later re-enters with empty feature history (the documented
    * trade-off the flag opts into). Off (None, the default) the OUTPUT
    * is byte-identical to the pre-TTL operator — but NOT the
    * checkpoint: adding `lastSeen` to [[PitState]] changed the state
    * encoder schema, so a stream restarted from a pre-TTL checkpoint
    * fails state-schema validation even with idleTtlSec = None; upgrade
    * with a fresh checkpoint (replay from the source). */
  def asofStream(events: DataFrame,
                 watermark: String = "1 hour",
                 idleTtlSec: Option[Long] = None): Dataset[PitOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .selectExpr("user_id", "ts", "kind", "id", "v").as[PitEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PitState, PitOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PitEvent], state: GroupState[PitState]) =>
          val wmSec = Math.floorDiv(state.getCurrentWatermarkMs(), 1000L)
          var st = state.getOption.getOrElse(PitState(Nil, Nil))
          if (it.nonEmpty) {
            val evs = it.toList
            st = PitState(
              st.feats ++ evs.collect { case e if e.kind == "feat" =>
                (Math.floorDiv(e.ts.getTime, 1000L), e.v) },
              st.labels ++ evs.collect { case e if e.kind == "label" =>
                (Math.floorDiv(e.ts.getTime, 1000L), e.id) },
              math.max(st.lastSeen,
                evs.map(e => Math.floorDiv(e.ts.getTime, 1000L)).max))
          }
          // finalize only labels STRICTLY below the floored watermark:
          // wmSec truncates wm_ms, so a feature with ts_ms > wm_ms (not
          // engine-dropped late) can still arrive with ft == wmSec; under
          // lt < wmSec any such feature has ft >= wmSec > lt and cannot
          // affect a finalized at-or-before pick
          val (ready, pending) = st.labels.partition(_._1 < wmSec)
          val out = ready.sorted.map { case (lt, lid) =>
            val pick = st.feats.filter(_._1 <= lt) match {
              case Nil => None
              case fs => Some(fs.max) // (ft, fv) order == batch max(struct)
            }
            PitOut(user, lid, lt, pick.map(_._1), pick.map(_._2))
          }
          // compact: every pending/future label has lt >= wmSec, so among
          // features with ft < wmSec (same strict bound as finalization)
          // only the dominant (ft, fv) can ever be picked again — keep it
          // plus the in-horizon tail
          val (older, newer) = st.feats.partition(_._1 < wmSec)
          val kept = if (older.isEmpty) newer else older.max :: newer
          // idle eviction: only the compacted dominant-row-only shape
          // qualifies (no pending labels, no in-horizon features) and
          // only after idleTtlSec of silence below the watermark
          val idleEvict = idleTtlSec.exists(ttl =>
            pending.isEmpty && newer.isEmpty &&
              st.lastSeen != Long.MinValue && wmSec - st.lastSeen >= ttl)
          if (pending.isEmpty && kept.isEmpty) {
            state.remove()
            out.iterator
          } else if (idleEvict) {
            state.remove()
            // sentinel surfaces the dropped dominant feature — evictions
            // are counted/observable downstream, never silent
            val dom = older.max
            (out :+ PitOut(user, -1L, st.lastSeen,
              Some(dom._1), Some(dom._2))).iterator
          } else {
            state.update(PitState(kept, pending, st.lastSeen))
            // wake on the earliest pending label, or — when no labels are
            // buffered but an in-horizon feature tail exists — on the
            // earliest tail feature, so an inactive user's tail still
            // compacts down to the single dominant row as the watermark
            // advances (otherwise the group is never revisited); with the
            // TTL on, a dominant-row-only user wakes at its idle deadline
            // so the eviction actually fires
            val nextWake =
              if (pending.nonEmpty) pending.map(_._1).min * 1000L + 999L
              else if (newer.nonEmpty) newer.map(_._1).min * 1000L + 999L
              else idleTtlSec match {
                case Some(ttl) if st.lastSeen != Long.MinValue =>
                  (st.lastSeen + ttl) * 1000L
                case _ => Long.MinValue
              }
            if (nextWake != Long.MinValue)
              state.setTimeoutTimestamp(
                math.max(nextWake, state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }

  /** Stream-static enrichment: join each streaming event to a STATIC
    * dimension table on `key`. The static side is broadcast per
    * micro-batch (stateless — no watermark, no state store), the
    * standard shape for attaching slowly-changing reference data to a
    * firehose; at scale the dim stays cached on executors while the
    * stream flows through. `how` = "inner" drops unmatched events,
    * "left_outer" keeps them with NULL dim columns. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: Seq[String],
                   how: String = "inner"): DataFrame =
    events.join(broadcast(dim), key, how)

  /** Streaming CDC op-sequence anomaly audit — the streaming twin of
    * the etl_cdc_anomalies batch query (queries/Round14b.scala): per
    * key, flag the op transitions a well-formed changelog never
    * produces (update/delete before any insert, insert on a live key,
    * update after delete, double delete), in exact per-key
    * (ts, event_id) order even under out-of-order delivery.
    *
    * Semantics: ops buffer per key until the watermark passes them,
    * then finalize in (µs, event_id) order — the SAME total order the
    * batch lag window uses — folding from the last finalized op.
    * Output is Append: one row per VIOLATING op, exactly once.
    *
    * State per key = the in-horizon op buffer (bounded by the
    * watermark, like asofStream's label buffer) + ONE carried op
    * string. Once a key finalizes an op, its carried-op row lives
    * FOREVER by default — required to catch insert_on_live across
    * arbitrarily long gaps — so state is O(keys EVER seen), not
    * O(live keys), on a rotating key domain. Expects columns
    * (user_id, ts, event_id, op ∈ {i, u, d}).
    *
    * `idleTtlSec`: OPTIONAL idle eviction for rotating/high-cardinality
    * key domains (the asofStream flag's twin). With it on, a key with
    * no pending ops whose last arrival is ≥ idleTtlSec below the
    * watermark is EVICTED, surfaced (the no-silent-caps rule) as a
    * sentinel [[CdcViolation]] with event_id = -1 and violation =
    * "state_evicted" carrying the key's last-seen µs; an op for that
    * key arriving later folds from the never-finalized state again
    * (e.g. a genuine update then reads update_before_insert — the
    * documented trade-off the flag opts into). Off (None, the
    * default) BOTH the output AND the persisted state encoding are
    * byte-identical to the pre-TTL operator ([[CdcStateV1]], two
    * fields), so a deployed stream restarted from an existing
    * checkpoint after a library upgrade resumes cleanly; only turning
    * the flag ON switches to the 3-field [[CdcState]] encoding and
    * requires a fresh checkpoint. */
  def cdcAnomalyStream(ops: DataFrame,
                       watermark: String = "1 hour",
                       idleTtlSec: Option[Long] = None): Dataset[CdcViolation] = {
    val spark = ops.sparkSession
    import spark.implicits._
    idleTtlSec match {
      case None =>
        // TTL off: persist the original two-field shape (checkpoint
        // compatibility); lastSeenUs is never read on this path
        cdcAnomaly[CdcStateV1](ops, watermark, None,
          v1 => CdcState(v1.buf, v1.last),
          st => CdcStateV1(st.buf, st.last))
      case some =>
        cdcAnomaly[CdcState](ops, watermark, some, identity, identity)
    }
  }

  /** The CDC audit state machine, generic over the PERSISTED state shape
    * `S` (see [[cdcAnomalyStream]] — V1 two-field vs TTL three-field).
    * `dec`/`enc` bridge the stored shape to the working [[CdcState]]. */
  private def cdcAnomaly[S: org.apache.spark.sql.Encoder](
      ops: DataFrame, watermark: String, idleTtlSec: Option[Long],
      dec: S => CdcState, enc: CdcState => S): Dataset[CdcViolation] = {
    val spark = ops.sparkSession
    import spark.implicits._
    ops.withWatermark("ts", watermark)
      .selectExpr("user_id", "ts", "event_id", "op").as[CdcOp]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[S, CdcViolation](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[CdcOp], state: GroupState[S]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var st = state.getOption.map(dec).getOrElse(CdcState(Nil, ""))
          if (it.nonEmpty) {
            val incoming = it.map { e =>
              // µs-exact event time: millis + the sub-milli nano tail
              val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
              (us, e.event_id, e.op)
            }.toList
            st = st.copy(buf = st.buf ++ incoming,
              lastSeenUs = math.max(st.lastSeenUs, incoming.map(_._1).max))
          }
          // finalize strictly below the watermark: anything still
          // arriving (not engine-dropped) has ts >= wm and sorts after
          val (ready, pending) = st.buf.partition(_._1 < wmUs)
          var last = st.last
          val out = ready.sorted.flatMap { case (us, id, op) =>
            val viol = (op, last) match {
              case ("i", "i") | ("i", "u") => Some("insert_on_live")
              case ("u", "d")              => Some("update_after_delete")
              case ("u", "")               => Some("update_before_insert")
              case ("d", "d")              => Some("double_delete")
              case ("d", "")               => Some("delete_before_insert")
              case _                       => None
            }
            last = op
            viol.map(v => CdcViolation(user, id, us, v))
          }
          val idleEvict = idleTtlSec.exists(ttl =>
            pending.isEmpty && st.lastSeenUs != Long.MinValue &&
              wmUs - st.lastSeenUs >= ttl * 1000000L)
          if (pending.isEmpty && last.isEmpty) {
            state.remove()
            out.iterator
          } else if (idleEvict) {
            state.remove()
            // sentinel surfaces the dropped carried op — evictions are
            // counted/observable downstream, never silent
            (out :+ CdcViolation(user, -1L, st.lastSeenUs,
              "state_evicted")).iterator
          } else {
            state.update(enc(CdcState(pending, last, st.lastSeenUs)))
            // wake when the earliest pending op crosses the watermark —
            // or, with the TTL on and nothing pending, at the key's
            // idle deadline so the eviction actually fires
            val nextWakeMs =
              if (pending.nonEmpty) pending.map(_._1).min / 1000L + 1L
              else idleTtlSec match {
                case Some(ttl) if st.lastSeenUs != Long.MinValue =>
                  st.lastSeenUs / 1000L + ttl * 1000L
                case _ => Long.MinValue
              }
            if (nextWakeMs != Long.MinValue)
              state.setTimeoutTimestamp(math.max(
                nextWakeMs, state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }
}
