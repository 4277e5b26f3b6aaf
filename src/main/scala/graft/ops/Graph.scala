package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared iterative-graph kernels. ONE definition serves every
  * oracle-checked graph query (graph_pagerank and its residual twin,
  * k-core, k-truss, label propagation, the capped projection).
  */
object Graph {

  /** Undirected edge list from a distinct pair frame: both directions
    * of every (a, b) row. */
  def undirectedEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))

  /** The build-once layout every pagerank-family iteration scans:
    * (deg = (src, od) node degrees, edgesOd = the degree-annotated edge
    * list REPARTITIONED BY src), both eagerly checkpointed —
    * localCheckpoint preserves the hash partitioning in the LogicalRDD,
    * so each iteration's pr ⋈ edges join exchanges only the |V|-sized
    * rank frame and the O(|E|) list never shuffles again. Exposed so
    * one shared build ([[graft.queries.GraphShared]]) can serve every
    * family member instead of each query rebuilding it. */
  def degreeAnnotated(edges0: DataFrame): (DataFrame, DataFrame) = {
    val deg = edges0.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .localCheckpoint(true)
    // sorted within partitions too (r18): the checkpointed LogicalRDD
    // keeps ordering as well as partitioning, so each iteration's
    // sort-merge join skips BOTH the exchange and the |E|-sized sort —
    // only the rank frame is sorted per iteration
    val edgesOd = edges0.join(deg, Seq("src"))
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .localCheckpoint(true)
    (deg, edgesOd)
  }

  /** Personalized (seeded) PageRank: teleport mass goes ONLY to the
    * `seeds` node set (one `node` column), so scores measure proximity
    * to the seeds — the related-item retrieval kernel. Same integer
    * fixed-point arithmetic and build-once edge layout as [[pagerankFrom]];
    * the rank frame stays SPARSE (only seeds plus nodes the mass has
    * reached appear), which is the representation that matters when the
    * seed set is tiny against a 100 TB graph. The per-iteration
    * seed-rejoin is a keyed full-outer (a seed may have no inbound mass
    * yet must keep its base share). Runs over a PREBUILT
    * [[degreeAnnotated]] edge frame, the shared-projection entry point. */
  def personalizedPagerankFrom(edgesOd: DataFrame, seeds: DataFrame,
                               iters: Int = 3,
                               scale: Long = 1000000000L): DataFrame = {
    val sd = seeds.select(col("node")).distinct().localCheckpoint(true)
    val ns = sd.agg(count(lit(1)).as("ns"))
    val base = graft.queries.idiv(
      lit(15L) * graft.queries.idiv(lit(scale), col("ns")), lit(100L))
    var pr = sd.crossJoin(broadcast(ns))
      .select(col("node"), graft.queries.idiv(lit(scale), col("ns")).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = pr
        .withColumnRenamed("node", "src")
        .join(edgesOd, Seq("src"))
        .select(col("dst"),
          graft.queries.idiv(col("pr"), col("od")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      pr = contrib.withColumnRenamed("dst", "node")
        .join(sd.withColumn("is_seed", lit(1)), Seq("node"), "full_outer")
        .crossJoin(broadcast(ns))
        .select(col("node"),
          (when(col("is_seed") === 1, base).otherwise(lit(0L)) +
            graft.queries.idiv(lit(85L) * coalesce(col("csum"), lit(0L)),
              lit(100L))).as("pr"))
    }
    pr
  }

  /** Integer fixed-point PageRank over an undirected edge list
    * (`src`/`dst` columns, no dangling nodes — undirected ⇒ outdeg ≥ 1).
    *
    * pr' = (15·(S div n)) div 100 + (85·Σ pr div od) div 100 at scale
    * `S` — every step integer, so an oracle's chained-CTE replay lands
    * on identical longs. The out-degree is folded INTO the edge list
    * once and the list REPARTITIONED BY src before an eager checkpoint:
    * localCheckpoint preserves the hash partitioning in the LogicalRDD,
    * so each iteration's pr ⋈ edges join exchanges only the |V|-sized
    * rank frame — the O(|E|) edge list never shuffles again after the
    * build (the win that matters when |E| ≫ |V|). Runs over a PREBUILT
    * [[degreeAnnotated]] frame pair, the shared-projection entry point
    * (edgesOd is scanned `iters`×). Returns (node, pr).
    */
  def pagerankFrom(deg: DataFrame, edgesOd: DataFrame, iters: Int = 3,
                   scale: Long = 1000000000L): DataFrame = {
    val nn = deg.agg(count(lit(1)).as("n"))
    val base = graft.queries.idiv(
      lit(15L) * graft.queries.idiv(lit(scale), col("n")), lit(100L))
    var pr = deg.crossJoin(broadcast(nn))
      .select(col("src").as("node"),
        graft.queries.idiv(lit(scale), col("n")).as("pr"))
    for (_ <- 1 to iters) {
      // name-based joins on renamed projections: the same edge frame
      // appears in every iteration's lineage, and dataset-qualified
      // column refs would be ambiguous by exprId
      val contrib = pr
        .withColumnRenamed("node", "src")
        .join(edgesOd, Seq("src"))
        .select(col("dst"),
          graft.queries.idiv(col("pr"), col("od")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      pr = contrib.crossJoin(broadcast(nn))
        .select(col("dst").as("node"),
          (base + graft.queries.idiv(lit(85L) * col("csum"), lit(100L)))
            .as("pr"))
    }
    pr
  }

  /** Per-iteration convergence residuals of [[pagerankFrom]] — the
    * stop-condition readout (run until L1 residual under a threshold,
    * don't guess an iteration count). Same kernel and integer
    * fixed-point as [[pagerankFrom]]; every iteration's rank frame is
    * checkpointed once because it feeds BOTH the next contribution
    * pass and the residual join against its predecessor. On the
    * undirected edge list every ranked node has in- and out-edges, so
    * consecutive rank frames share one node set and the residual join
    * is a plain inner join. Returns (iter, n_nodes, l1_residual,
    * linf_residual) — |V|-sized joins per iteration, never |E|².
    * Runs over a PREBUILT [[degreeAnnotated]] frame pair, the
    * shared-projection entry point. */
  def pagerankResidualsFrom(deg: DataFrame, edgesOd: DataFrame,
                            iters: Int = 3,
                            scale: Long = 1000000000L): DataFrame = {
    val nn = deg.agg(count(lit(1)).as("n"))
    val base = graft.queries.idiv(
      lit(15L) * graft.queries.idiv(lit(scale), col("n")), lit(100L))
    var pr = deg.crossJoin(broadcast(nn))
      .select(col("src").as("node"),
        graft.queries.idiv(lit(scale), col("n")).as("pr"))
      .localCheckpoint(true)
    val resids = (1 to iters).map { i =>
      val contrib = pr
        .withColumnRenamed("node", "src")
        .join(edgesOd, Seq("src"))
        .select(col("dst"),
          graft.queries.idiv(col("pr"), col("od")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      val next = contrib.crossJoin(broadcast(nn))
        .select(col("dst").as("node"),
          (base + graft.queries.idiv(lit(85L) * col("csum"), lit(100L)))
            .as("pr"))
        .localCheckpoint(true)
      val r = next.withColumnRenamed("pr", "pr_new")
        .join(pr.withColumnRenamed("pr", "pr_old"), Seq("node"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(abs(col("pr_new") - col("pr_old"))).as("l1_residual"),
          max(abs(col("pr_new") - col("pr_old"))).as("linf_residual"))
        .select(lit(i.toLong).as("iter"), col("n_nodes"),
          col("l1_residual"), col("linf_residual"))
      pr = next
      r
    }
    resids.reduce(_ unionByName _)
  }

  /** Bipartite edge list with hub `via` nodes dropped: keeps only edges
    * whose via-side degree is ≤ `cap` (the capped-postings rule — a few
    * universal hubs would otherwise dominate any projection shuffle
    * while adding no ranking signal). `sp` should be the DISTINCT,
    * checkpointed edge frame — this adds one keyed rollup + one join. */
  def cappedVia(sp: DataFrame, nodeCol: String, viaCol: String, cap: Int): DataFrame =
    sp.join(sp.groupBy(col(viaCol)).agg(count(lit(1)).as("pd"))
        .where(col("pd") <= cap), Seq(viaCol))
      .select(col(nodeCol), col(viaCol))

  /** One-mode projection pair counts: for node pairs sharing ≥1 via
    * node, the number of shared via nodes. Fan-out per via node is
    * C(deg, 2), bounded by [[cappedVia]]'s cap — total work is
    * edges × cap, linear in the graph at any scale. */
  def projectionPairs(spc: DataFrame, nodeCol: String, viaCol: String): DataFrame =
    spc.select(col(viaCol), col(nodeCol).as("s1"))
      .join(spc.select(col(viaCol), col(nodeCol).as("s2")), Seq(viaCol))
      .where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("inter"))

  /** [[projectionPairs]] extended with the hub-discounted link-prediction
    * weight sums, computed in the SAME single fan-out + aggregate:
    *   - `ra_ppm` = Σ_via ⌊1e6 / deg(via)⌋ (resource allocation)
    *   - `aa_ppm` = Σ_via ⌊1e6 / ⌊log2 deg(via)⌋⌋ (Adamic–Adar)
    * Every fan-out row's via node has deg ≥ 2 by construction (a
    * deg-1 via cannot form an s1 < s2 pair), so the aa guard never
    * drops a contributing row — it only mirrors the original pd ≥ 2
    * pre-filter's protection of the ⌊log2 1⌋ = 0 divisor. The pair set
    * and `inter` are bit-identical to [[projectionPairs]]; one shared
    * build serves the count consumers AND the weighted rankers. */
  def linkPredPairs(spc: DataFrame, nodeCol: String, viaCol: String): DataFrame = {
    def idiv(a: Column, b: Column): Column = call_function("div", a, b)
    val pd = spc.groupBy(col(viaCol)).agg(count(lit(1)).as("pd"))
    spc.select(col(viaCol), col(nodeCol).as("s1"))
      .join(pd, Seq(viaCol))
      .join(spc.select(col(viaCol), col(nodeCol).as("s2")), Seq(viaCol))
      .where(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("inter"),
        sum(idiv(lit(1000000L), col("pd"))).as("ra_ppm"),
        sum(when(col("pd") >= 2,
          idiv(lit(1000000L), (length(bin(col("pd"))) - 1).cast("long"))))
          .as("aa_ppm"))
  }

  /** k-core peeling over an undirected pair frame (`a`/`b` columns):
    * `rounds` rounds of drop-nodes-with-degree-< k, each one node-sized
    * rollup + two semi-joins, the edge frame re-checkpointed so round
    * r+1 never replays round r's lineage. Returns one summary row per
    * round (round, n_removed, n_nodes_left, n_edges_left). The kernel
    * of the registered query (graph_kcore_peel). */
  def kcorePeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val out = (1 to rounds).map { r =>
      val deg = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      val summary = deg.agg(
        count(when(col("deg") < k, 1)).as("n_removed"),
        count(when(col("deg") >= k, 1)).as("n_nodes_left"))
      val keep = deg.where(col("deg") >= k).select(col("node"))
      edges = edges
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(true)
      summary.crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges_left"))))
        .withColumn("round", lit(r.toLong))
    }
    out.reduce(_ unionAll _)
      .select(col("round"), col("n_removed"), col("n_nodes_left"),
        col("n_edges_left"))
  }

  /** Surviving-node set of the bounded-round k-core peel — the
    * membership twin of [[kcorePeel]]'s summary: same degree/semi-join
    * rounds, same per-round checkpoints, returning the distinct nodes
    * still carrying an edge after `rounds` peels. */
  def coreMembers(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = pairs.select(col("a"), col("b")).localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      val keep = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("node"))
      edges = edges
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(true)
    }
    edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node"))).distinct()
  }

  /** Bounded-round core decomposition: per node the highest k ∈ [1, maxK]
    * whose `rounds`-round k-core peel it survives (1 = has an edge at
    * all). Each k is an independent bounded peel over the checkpointed
    * pair frame — maxK−1 peels of node-sized rollups and edge semi-joins,
    * never a node×node product — and the core label is a MAX-merge over
    * the ≤maxK membership frames, so the decomposition scales exactly
    * like [[kcorePeel]] times a small constant. Returns (node, core). */
  def coreNumbers(pairs: DataFrame, maxK: Int, rounds: Int): DataFrame = {
    val base = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val all = base.select(col("a").as("node"))
      .unionAll(base.select(col("b").as("node"))).distinct()
      .withColumn("k", lit(1L))
    val higher = (2 to maxK).map(k =>
      coreMembers(base, k, rounds).withColumn("k", lit(k.toLong)))
    higher.foldLeft(all)(_ unionAll _)
      .groupBy(col("node")).agg(max(col("k")).as("core"))
  }

  /** k-truss peeling over an undirected pair frame (`a`/`b` columns):
    * `rounds` rounds of keep-edges-with-≥(k−2)-triangle-support — the
    * EDGE-grain analogue of [[kcorePeel]]. Support is the edge-keyed
    * common-neighbor count via the symmetrized adjacency (sym ⋈ sym on
    * the shared neighbor, keyed back to the edge — never node×node), so
    * per-edge work is deg(a)+deg(b). Supports are computed from the
    * round-START edge set (peels apply between rounds, not within), and
    * the surviving frame is re-checkpointed per round so round r+1
    * never replays round r's join lineage. Returns one summary row per
    * round. The kernel of the registered query (graph_ktruss). */
  def ktrussPeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val out = (1 to rounds).map { r =>
      val nIn = e.agg(count(lit(1)).as("n_edges_in"))
      val sym = e.select(col("a").as("u"), col("b").as("w"))
        .unionAll(e.select(col("b").as("u"), col("a").as("w")))
      val supp = e
        .join(sym.select(col("u").as("a"), col("w")), Seq("a"))
        .join(sym.select(col("u").as("b"), col("w")), Seq("b", "w"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
      // support joined back LEFT onto the round-start edge set: an edge
      // with zero common neighbors never appears in `supp`, and an inner
      // join would silently peel it even when k−2 ≤ 0 (k = 2 must keep
      // triangle-free edges)
      e = e.join(supp, Seq("a", "b"), "left")
        .where(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      nIn.crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges_kept"))))
        .withColumn("round", lit(r.toLong))
    }
    out.reduce(_ unionAll _)
      .select(col("round"), col("n_edges_in"), col("n_edges_kept"),
        (col("n_edges_in") - col("n_edges_kept")).as("n_dropped"))
      .orderBy(col("round"))
  }

  /** Per-node triangle participation over an undirected pair frame
    * (`a`/`b` columns, a < b): returns (node, deg, tri) for every node
    * with deg ≥ 2 — the local-clustering-coefficient ingredients
    * (lcc = 2·tri / (deg·(deg−1))). Triangle enumeration is the
    * edge-keyed x<y<y2 join (sym adjacency keyed back to the edge,
    * never node×node), so per-edge work is deg-bounded; each triangle
    * credits its 3 vertices. The kernel of the registered query
    * (graph_local_clustering). */
  def localClustering(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("a"), col("b"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tris = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("x2"), col("b").as("y2")),
        col("x") === col("x2") && col("y") < col("y2"))
      .join(e.select(col("a").as("x3"), col("b").as("y3")),
        col("x3") === col("y") && col("y3") === col("y2"))
      .select(col("x"), col("y"), col("y2"))
    val triNode = tris.select(col("x").as("node"))
      .unionAll(tris.select(col("y").as("node")))
      .unionAll(tris.select(col("y2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.where(col("deg") >= 2)
      .join(triNode, Seq("node"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
  }

  /** HITS (hubs & authorities) on a bipartite edge frame (`sk` hub side,
    * `pk` authority side): alternating integer projections — a(p) = Σ
    * h(s), h(s) = Σ a(p) — each re-scaled to ±1000 by its max with
    * truncating division (the sim_power_iteration convention), so every
    * step is bit-stable cross-engine. h₀ = 1. Each half-iteration is one
    * keyed join + rollup against the checkpointed edge list; the 1-row
    * max scalar broadcasts. Returns (hubs(sk, h), auths(pk, a)) after
    * `iters` full iterations. ONE definition serves graph_hits and any
    * probe. */
  def hits(edges0: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, "hits needs >= 1 iteration (a is derived in the loop)")
    val e = edges0.select(col("sk"), col("pk")).distinct().localCheckpoint(true)
    // the projection is checkpointed ONCE and scanned twice (1-row max,
    // then the rescale map); the max is a bounded driver scalar compiled
    // into the select as a literal — the old 1-row-broadcast crossJoin
    // form computed the join+rollup twice per half-iteration and left a
    // nested-loop join in the plan. The checkpoint is LAZY: the max
    // aggregate's job materializes it, so each half-iteration pays one
    // Spark job instead of an eager count() plus the aggregate (r17 —
    // per-half-iteration latency is this kernel's whole cost).
    def rescale(df: DataFrame, idCol: String, vCol: String): DataFrame = {
      val d = df.localCheckpoint(false)
      val mx = d.agg(max(abs(col(vCol)))).head().getLong(0)
      d.select(col(idCol),
        graft.queries.idiv(col(vCol) * 1000, lit(mx)).as(vCol))
    }
    var h = e.select(col("sk")).distinct().withColumn("h", lit(1L))
      .localCheckpoint(true)
    var a = h // placeholder; assigned in the loop
    for (_ <- 1 to iters) {
      a = rescale(e.join(h, Seq("sk"))
        .groupBy(col("pk")).agg(sum(col("h")).as("a")), "pk", "a")
      h = rescale(e.join(a, Seq("pk"))
        .groupBy(col("sk")).agg(sum(col("a")).as("h")), "sk", "h")
    }
    h.select(col("sk").as("id"), lit("hub").as("role"), col("h").as("score"))
      .unionAll(a.select(col("pk").as("id"), lit("authority").as("role"),
        col("a").as("score")))
  }

  /** Synchronous label propagation over an undirected pair frame
    * (`a`/`b` columns): labels start as node ids; each round every node
    * takes the MODE of its neighbors' labels (ties → min label) —
    * deterministic, so an oracle's chained-CTE replay lands on identical
    * labels. Each round is one keyed join + one (node, label) rollup +
    * a per-node window over ≤ degree rows; the label frame is
    * re-checkpointed between rounds. Returns final (node, lbl). The
    * kernel of graph_lpa. */
  def lpaLabels(pairs: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // partitioned + sorted on the per-round join key (r18): rounds then
    // pay no edge-side exchange or sort, only the label frame moves
    val e = undirectedEdges(pairs.select(col("a"), col("b")), "a", "b")
      .repartition(col("dst")).sortWithinPartitions(col("dst"))
      .localCheckpoint(true)
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val nb = e.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("c").desc, col("lbl"))
      labels = nb.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("src").as("node"), col("lbl"))
        .localCheckpoint(true)
    }
    labels
  }
}
