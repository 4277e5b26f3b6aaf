package graft.etl

import org.apache.spark.sql.graft.Bridge
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Live run-progress reporting — the Spark-native analog of the
  * reference's per-batch progress % (etlService.js:416-591 logs an
  * N-of-total line per 100k-row batch). The reference counts hand-rolled
  * batches; on Spark the engine owns batching, so the honest unit of
  * progress is the TASK: completed vs launched tasks of the jobs each
  * named pipeline stage submits, correlated via the job group id that
  * [[Runner.run]] sets per stage.
  *
  * The tally is read from Spark's own status store (the record behind
  * its UI, through `statusTracker`), not kept here. Each stage RUN gets a
  * unique group id ([[begin]]), so a fresh run of the same stage starts
  * from zero instead of adding to the previous run's jobs.
  */
object Progress {

  final case class StageProgress(stage: String, tasksDone: Long, tasksTotal: Long) {
    /** 0.0–1.0 of LAUNCHED work (like the reference's %, which also only
      * knows the batches it has seen); stages with no job yet report 0.
      * Clamped at 1.0: speculative / resubmitted task attempts can push
      * the raw done count past the launched total transiently. */
    def fraction: Double =
      if (tasksTotal == 0) 0.0
      else math.min(1.0, tasksDone.toDouble / tasksTotal)
  }

  private val GroupPrefix = "graft-stage-"
  private val runSeq = new AtomicLong(0)

  /** stage name → its CURRENT run's group id. */
  private val current = new ConcurrentHashMap[String, String]()

  /** Start a fresh tally for a stage run; returns the unique job-group id
    * the caller must set via `setJobGroup`. The previous run's group (if
    * any) is no longer read. */
  private[etl] def begin(stage: String): String = synchronized {
    // The whole body holds `this`, making begin and pruneOldest mutually
    // atomic: a concurrent prune can never evict the stage being begun.
    val gid = s"$GroupPrefix$stage#${runSeq.incrementAndGet()}"
    current.put(stage, gid)
    // move-to-back: each name holds exactly ONE slot, so the order
    // structure is bounded by distinct names even when a long-lived
    // cron driver re-begins the same stages forever
    beginOrder.remove(stage)
    beginOrder.add(stage)
    pruneOldest()
    gid
  }

  /** Stage names in begin order (one slot per distinct name, moved to the
    * back on re-begin), for bounded eviction. Guarded by `this`. */
  private val beginOrder = new java.util.LinkedHashSet[String]()

  /** The final run of each distinct stage name is kept for the status
    * surface, but not forever: beyond this many distinct stages the
    * oldest-begun are dropped, so a long-lived driver cycling through
    * generated stage names can't grow without bound. */
  private val MaxTrackedStages = 256

  // caller holds `this`; the just-begun name sits at the back, so the
  // head is always the stalest distinct name
  private def pruneOldest(): Unit =
    while (current.size() > MaxTrackedStages && !beginOrder.isEmpty) {
      val it = beginOrder.iterator()
      current.remove(it.next())
      it.remove()
    }

  /** Current progress of a named stage's latest run, if any: tasks over
    * the distinct Spark stages of the run's jobs. A job also lists parent
    * stages whose shuffle output already exists; those are SKIPPED (never
    * submitted, submission time 0) and are left out, or they would
    * inflate the denominator forever (AQE submits many jobs per query). */
  def of(stage: String): Option[StageProgress] =
    Option(current.get(stage)).map { gid =>
      val stages = Bridge.activeContext.toSeq.flatMap { sc =>
        val st = sc.statusTracker
        st.getJobIdsForGroup(gid).toSeq
          .flatMap(st.getJobInfo(_).toSeq.flatMap(_.stageIds.toSeq))
          .distinct.flatMap(st.getStageInfo(_))
          .filter(_.submissionTime > 0)
      }
      StageProgress(stage, stages.map(_.numCompletedTasks.toLong).sum,
        stages.map(_.numTasks.toLong).sum)
    }

  /** Snapshot of every tracked stage, for a status endpoint. */
  def snapshot(): Seq[StageProgress] = {
    import scala.jdk.CollectionConverters._
    current.keySet().asScala.toSeq.sorted.flatMap(of)
  }
}
