package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Governance for eagerly-checkpointed frames in long-lived sessions.
  *
  * Operators materialize iterative / multi-consumer intermediates with
  * `localCheckpoint(true)` (lineage truncation for loops, build-once for
  * self-joins). Each checkpoint persists blocks (MEMORY_AND_DISK) that
  * Spark never drops on its own — in a session that runs the whole
  * 195-query registry back-to-back (the driver's Bench / Verify mains),
  * dead blocks from finished queries pile up until storage memory is
  * full, and every later query pays eviction churn + GC instead of
  * compute. (Observed: the same per-row kernel costs 1.2 s in a fresh
  * session and 17+ s late in an un-swept 195-query run.)
  *
  * `sweep` drops every persistent RDD that is not PINNED. Pinning exists
  * for the one legitimate cross-query cache: the shared t=0.5 pair index
  * (TextDedup.sharedPairs05) that four clustering queries reuse —
  * unpersisting a checkpointed frame would be fatal there, because
  * lineage truncation makes its blocks non-recomputable.
  *
  * Harness mains call `sweep` BETWEEN queries only; a query's own
  * checkpoints are never touched while it runs.
  */
object Caches {

  // Keyed by (applicationId, rddId): RDD ids are small per-SparkContext
  // ints, so a bare-id set would let a stale pin from a stopped context
  // shadow an unrelated RDD in a later one (test suites, session
  // restarts) and make sweep keep dead blocks alive.
  private val pinned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  /** Pin every checkpointed RDD reachable from this frame's plan so
    * `sweep` keeps it alive across queries. Returns the frame. */
  def pin(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed.collect {
      case l: LogicalRDD => (l.rdd.context.applicationId, l.rdd.id)
    }.foreach(pinned.add)
    df
  }

  /** Conf key selecting how SESSION-SHARED frames materialize:
    * `local` (default) or `reliable`. */
  val ModeKey = "spark.graft.checkpoint.mode"

  /** Conf key for the reliable checkpoint directory (used when the
    * SparkContext has none set; defaults under the warehouse dir). */
  val DirKey = "spark.graft.checkpoint.dir"

  private def isCheckpointed(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case _: LogicalRDD => true
      case _ => false
    }

  /** Materialize-and-pin for the session-shared frames (SimShared /
    * PqShared / GraphShared / WinnowShared / SnmShared / the t=0.5 pair
    * index …) — the cross-QUERY caches whose loss breaks every later
    * consumer, because pinning + lineage truncation makes their blocks
    * non-recomputable.
    *
    * `local` (default): `localCheckpoint(true)` — executor-resident
    * MEMORY_AND_DISK blocks, no external storage, the right call on
    * local[k] where the executor IS the driver. On a 1000-executor
    * cluster with dynamic allocation or preemption this is the one real
    * risk in the checkpoint discipline: a localCheckpoint block dies
    * with its executor, its truncated lineage cannot recompute it, and
    * every later query reading the shared frame fails.
    *
    * `reliable` (`spark.graft.checkpoint.mode=reliable`): a reliable
    * `Dataset.checkpoint(eager = true)` — partitions land as FILES in
    * the checkpoint dir (`spark.graft.checkpoint.dir`, else the
    * context's dir, else `<warehouse>/graft_checkpoints`; on a cluster
    * point it at durable shared storage). Executor loss costs a file
    * re-read, never a failed job; `sweep` is a no-op against it (the
    * data is files, not storage blocks).
    *
    * Kernel-INTERNAL per-round truncations (the iterative Lloyd/CC/
    * BFS checkpoints) deliberately stay `localCheckpoint`: they live
    * within one query execution, where an executor loss fails that
    * query and the retry rebuilds them — only frames that OUTLIVE a
    * query need the reliable path. */
  def shared(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(spark.conf.get(DirKey,
            spark.conf.get("spark.sql.warehouse.dir") + "/graft_checkpoints"))
        pin(df.checkpoint(eager = true))
      case _ =>
        // behavior-identical to the historical pin(localCheckpoint(true));
        // an already-checkpointed frame is not copied a second time
        if (isCheckpointed(df)) pin(df) else pin(df.localCheckpoint(true))
    }
  }

  /** The per-session memo behind every session-shared frame and the
    * table loader: `apply(spark, key)` runs `build` once per
    * (session, key) and hands every later caller the same value. Entries
    * whose session's context is stopped are dropped on each access —
    * their checkpointed blocks are gone, and the map would otherwise
    * hold dead plans forever in a long-lived JVM (test suites, session
    * restarts). `build` does its own pinning (`shared`); keep one memo
    * per frame so concurrent warm-up chains never contend on one map. */
  final class SessionMemo[K, V](build: (SparkSession, K) => V) {
    private val memo = scala.collection.concurrent.TrieMap.empty[(SparkSession, K), V]

    def apply(spark: SparkSession, key: K): V = {
      memo.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
      memo.getOrElseUpdate((spark, key), build(spark, key))
    }
  }

  // Unpersisting a checkpointed RDD logs a WARN ("lineage has been
  // truncated and cannot be recomputed") per RDD. That is exactly the
  // intended, safe case here — the frame is dead — and 200 copies of it
  // would drown the bench tail the driver captures. Raise just that
  // logger to ERROR, once.
  private lazy val quietUnpersist: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }

  /** Unpersist all non-pinned persistent RDDs (non-blocking). */
  def sweep(spark: SparkSession): Unit = {
    quietUnpersist
    val app = spark.sparkContext.applicationId
    // Spark allows one active SparkContext per JVM, so pins from any
    // other applicationId belong to a stopped context — drop them.
    pinned.removeIf(e => e._1 != app)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned.contains((app, id))) rdd.unpersist(blocking = false)
    }
  }
}
