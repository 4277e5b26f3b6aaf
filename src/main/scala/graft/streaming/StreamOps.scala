package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sinks.KeyedParquetSink

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
  *  - `cdcSink` is the changelog → upsert loop (etlService.js:36-53) as
  *    one checkpointed query into a keyed parquet table
  *  - `correlateEvents` is `events_correlate`'s plan; `seqGapsStream`,
  *    `asofStream` and `cdcAnomalyStream` twin `etl_seq_gaps`,
  *    `etl_pit_leakage` and `etl_cdc_anomalies`, and the registry's
  *    `stream_*_replay` entries replay the testdata through them
  *
  * State size is bounded by the watermark (or, for `seqGapsStream`, by
  * the shard width), not by stream history.
  */
object StreamOps {

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

  /** Continuous CDC MERGE sink — the streaming twin of the reference's
    * changelog→upsert loop: each micro-batch of a change stream (rows
    * whose `changeCol` says insert/update/delete) is MERGE INTO'd with
    * [[graft.etl.Merge]] semantics against the stored keyed table via
    * KeyedParquetSink.mergeInto, so deletes remove their keys from
    * exactly the buckets they hash into (never a full rewrite). The first
    * batch is merged into an empty target that it then writes as the
    * table, so its deletes and repeated keys resolve like any later
    * batch's. Within a batch, `versionCols` descending pick the winner
    * among multiple changes for one key; re-delivery of a batch is
    * idempotent (a replayed delete of an absent key is a no-op, a
    * replayed upsert rewrites the same values), which is what makes the
    * checkpoint replay after a crash exactly-once in effect. */
  def cdcSink(stream: DataFrame, path: String, keys: Seq[String],
              numBuckets: Int, checkpoint: String,
              changeCol: String = "change",
              versionCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val b = batch.toDF()
        val spark = b.sparkSession
        val deleteCond = Some(col(changeCol) === "delete")
        if (KeyedParquetSink.tableExists(spark, path))
          KeyedParquetSink.mergeInto(spark, path, b, keys, numBuckets,
            deleteCond = deleteCond, versionCols = versionCols)
        else {
          val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
            b.drop(changeCol).schema)
          KeyedParquetSink.write(graft.etl.Merge.merge(empty, b, keys,
              deleteCond = deleteCond, versionCols = versionCols),
            path, keys, numBuckets)
        }
      }
      .start()

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
