package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The shared supplier–part graph frames for the graph family, one set
  * per (session, dataset), so the ~10 registry consumers in
  * one run pay for ONE lineitem distinct + capped projection + one
  * degree-annotated pagerank edge build instead of ten identical ones.
  *
  * Two layouts come from the SAME distinct (suppkey, partkey) frame:
  *   - `cappedSp`: the hub-capped bipartite projection
  *     [[graft.ops.Graph.cappedVia]](sp, "sk", "pk", 64) every
  *     link-prediction / BFS / HITS entry fans out over;
  *   - `prDeg`/`prEdges`: [[graft.ops.Graph.degreeAnnotated]] over the
  *     prefixed undirected edge list ("s:" suppliers / "p:" parts) the
  *     pagerank family iterates — built once, repartitioned by src,
  *     checkpointed, so every iteration of every family member
  *     exchanges only the |V|-sized rank frame.
  *
  * All three frames are checkpointed and PINNED so the between-query
  * cache sweep keeps them alive; each is node/edge-sized (far smaller
  * than lineitem).
  */
object GraphShared {

  private final case class Frames(cappedSp: DataFrame, prDeg: DataFrame,
                                  prEdges: DataFrame, projPairs: DataFrame,
                                  skDeg: DataFrame)

  private val frames = new graft.Caches.SessionMemo[String, Frames]((s, dir) => {
      val sp = Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true) // feeds the cap rollup AND the edge build
      val cappedSp = graft.Caches.shared(
        graft.ops.Graph.cappedVia(sp, "sk", "pk", 64))
      // the pagerank node ids: side-prefixed strings, derived from the
      // SAME distinct pair frame (≡ re-distincting prefixed lineitem)
      val und = graft.ops.Graph.undirectedEdges(
        sp.select(concat(lit("s:"), col("sk").cast("string")).as("a"),
          concat(lit("p:"), col("pk").cast("string")).as("b")), "a", "b")
      val (deg, edgesOd) = graft.ops.Graph.degreeAnnotated(und)
      // one-mode projection pair counts (s1 < s2, shared-part count) —
      // five link-prediction/census entries and the BFS edge list all
      // rode their own copy of this edges×cap self-join before round 15.
      // Round 17: the stored frame is the WEIGHTED form (inter + RA/AA
      // hub-discount sums, one extra join + two sum columns in the same
      // fan-out), so the weighted rankers stop paying their own Σdeg²
      // self-joins; count-only consumers project (s1, s2, inter) off it.
      val projPairs = graft.Caches.shared(
        graft.ops.Graph.linkPredPairs(cappedSp, "sk", "pk"))
      val skDeg = graft.Caches.shared(
        cappedSp.groupBy(col("sk")).agg(count(lit(1)).as("deg")))
      Frames(cappedSp, graft.Caches.shared(deg),
        graft.Caches.shared(edgesOd), projPairs, skDeg)
    })

  /** The checkpointed capped-64 (sk, pk) projection. */
  private[graft] def cappedSp(s: SparkSession, dir: String): DataFrame =
    frames(s, dir).cappedSp

  /** (src, od) node degrees of the prefixed undirected edge list. */
  private[graft] def prDeg(s: SparkSession, dir: String): DataFrame =
    frames(s, dir).prDeg

  /** The degree-annotated, src-partitioned pagerank edge frame. */
  private[graft] def prEdges(s: SparkSession, dir: String): DataFrame =
    frames(s, dir).prEdges

  /** The (s1, s2, inter) one-mode projection pair counts over the
    * capped bipartite frame (s1 < s2) — a projection of the stored
    * weighted frame. */
  private[graft] def projPairs(s: SparkSession, dir: String): DataFrame =
    frames(s, dir).projPairs.select(col("s1"), col("s2"), col("inter"))

  /** The full weighted pair frame (s1, s2, inter, ra_ppm, aa_ppm). */
  private[graft] def linkPred(s: SparkSession, dir: String): DataFrame =
    frames(s, dir).projPairs

  /** The checkpointed (sk, deg) supplier-degree rollup of cappedSp. */
  private[graft] def skDeg(s: SparkSession, dir: String): DataFrame =
    frames(s, dir).skDeg

  /** Materialize the shared frames (bench warmup) — without it,
    * whichever graph entry runs first in an alphabetical registry sweep
    * absorbs the whole build and its single-shot time reads as that
    * query's cost. */
  def warmShared(s: SparkSession, dir: String): Unit = {
    val f = frames(s, dir)
    f.cappedSp.count(); f.prEdges.count()
    f.projPairs.count(); f.skDeg.count(); ()
  }
}
